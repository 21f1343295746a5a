package graft

import java.io.File

/** Build-once staging for query fixtures that are derived WAREHOUSE
  * LAYOUTS (a ticks warehouse written through the ingest path, a
  * z-ordered export): the timed query body must measure the pruned SCAN,
  * not the fixture write (r17 verdict item 3 — the old form rebuilt the
  * fixture inside the timed body into a fresh never-deleted temp dir on
  * every call, so the recorded walls were write-dominated and a scan
  * regression could hide under write noise).
  *
  * The staged root is PER-PROCESS (r18 review): reuse only matters
  * WITHIN a run — [[Bench]] pre-stages outside its calibration bracket
  * and Verify builds on first use — while a machine-shared root made
  * every concurrently-running JVM a hazard to every other (one side's
  * end-of-run sweep would delete fixtures the other was mid-scan over,
  * and the build/rename/marker windows all raced). A per-process root
  * has no cross-JVM interactions at all; crash-stranded roots of DEAD
  * processes are swept by the next [[cleanup]] (pid liveness via
  * ProcessHandle), so a killed run cannot strand /tmp dirs forever.
  *
  * Fixtures are keyed on (name, source dir): build into a unique `.build`
  * sibling first, atomically rename into place, then drop a `_STAGED`
  * marker — a crashed/partial build is never mistaken for a finished one
  * (key the guard on a marker the build writes LAST, not on the
  * directory existing: a skip-if-exists guard wedges on a crashed run's
  * leftover).
  */
object Stage {

  private val tmpBase =
    new File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))

  private val RootPat = "graft-stage-(\\d+)".r

  private val root =
    new File(tmpBase, s"graft-stage-${java.lang.ProcessHandle.current.pid}")

  private def keyDir(name: String, srcDir: String): File = {
    // deterministic per source dir (sf0.001 and sf0.01 fixtures coexist);
    // String.hashCode is spec-fixed across JVMs
    val h = Integer.toHexString(srcDir.hashCode)
    new File(root, s"$name-$h")
  }

  /** Returns the staged fixture directory for (name, srcDir), building it
    * with `build` on first use. `build` receives the path to write into;
    * the path only becomes visible under the final name once the build
    * completed.
    */
  def staged(name: String, srcDir: String)(build: String => Unit): String = {
    val target = keyDir(name, srcDir)
    val marker = new File(target, "_STAGED")
    if (marker.isFile) return target.getAbsolutePath
    // stale partial state (a build that threw): rebuild from scratch
    if (target.exists()) deleteRecursively(target)
    // NOT dot-prefixed: Spark's file listing ignores dot-paths even when
    // one is the READ ROOT, so a builder that reads back what it wrote
    // (Manifest.write) would see zero files inside a hidden dir and ship
    // an empty sidecar — pruning then silently degrades to full scans.
    // Nothing lists the stage root as a table, so visibility is moot;
    // the `_STAGED` marker, not the name, is the done signal. Unique per
    // call: two THREADS staging the same fixture concurrently must never
    // build into one shared tmp dir — the rename race below picks a
    // winner (the root is per-process, so no other JVM competes).
    val tmp = new File(root,
      s"${target.getName}.build-${System.nanoTime()}")
    if (tmp.exists()) deleteRecursively(tmp)
    tmp.mkdirs()
    build(tmp.getAbsolutePath)
    if (!tmp.renameTo(target)) {
      // lost an intra-process race: the winner's marker decides (it lands
      // a moment after the winner's rename — wait it out briefly)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!marker.isFile && System.nanoTime() < deadline) Thread.sleep(100)
      if (!marker.isFile)
        sys.error(s"could not move staged fixture into place: $target")
      deleteRecursively(tmp)
      return target.getAbsolutePath
    }
    if (!marker.createNewFile() && !marker.isFile)
      sys.error(s"could not write stage marker: $marker")
    target.getAbsolutePath
  }

  /** A fresh scratch dir under the stage root, for queries whose WRITE is
    * the thing being measured (format round-trips) — not memoized, but
    * swept with everything else by [[cleanup]] instead of stranding a new
    * /tmp dir per call.
    */
  def scratch(name: String): String = {
    root.mkdirs()
    // not dot-prefixed (same Spark dot-path-root caveat as in staged)
    java.nio.file.Files
      .createTempDirectory(root.toPath, s"$name-scratch-")
      .toString
  }

  /** Remove this process's staged fixtures (the end-of-run sweep), plus
    * any sibling stage roots whose owning process is DEAD — a crashed or
    * SIGKILLed run never gets to sweep its own, and nothing else will.
    * Live siblings are never touched (pid liveness via ProcessHandle; a
    * recycled pid at worst defers the sweep to that process's death).
    */
  def cleanup(): Unit = {
    if (root.exists()) deleteRecursively(root)
    val siblings = tmpBase.listFiles()
    if (siblings != null) siblings.foreach { f =>
      f.getName match {
        case RootPat(pid) if f.isDirectory && f != root &&
            !java.lang.ProcessHandle.of(pid.toLong)
              .map[Boolean](_.isAlive).orElse(false) =>
          deleteRecursively(f)
        case _ => ()
      }
    }
  }

  private def deleteRecursively(f: File): Unit = {
    // the _STAGED marker goes FIRST: an interrupted delete must leave a
    // dir that reads as partial (rebuilt on next use), never one whose
    // surviving marker vouches for half-deleted data
    val marker = new File(f, "_STAGED")
    if (marker.isFile) marker.delete()
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete()
  }
}
