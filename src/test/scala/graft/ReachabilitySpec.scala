package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Guards against main code that nothing reaches, with comments stripped
  * (scaladoc links and specs are not callers):
  *
  *   - every top-level `object`/`class`/`trait` under `src/main/scala`
  *     must be named by another main file, or by its own file outside its
  *     own declaration. Roots are not callees: an object that defines
  *     `main` (an entry point), a `SparkSessionExtensions => Unit` class
  *     (loaded by name from the `spark.sql.extensions` config string), and
  *     the library entry points in [[ReachabilitySpec.LibraryRoots]];
  *   - every main `def` must be named somewhere in main code besides its
  *     own definitions. Exempt are overrides, `main`/`apply`/`unapply`,
  *     the public methods of the [[ReachabilitySpec.PublicApi]] files and
  *     the methods in [[ReachabilitySpec.MethodRoots]].
  */
class ReachabilitySpec extends AnyFunSuite {

  private val mainDir = new File("src/main/scala")

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** Source with every comment blanked; string and char literals are kept
    * (a name inside a config string is a real reference).
    */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def at(j: Int): Char = if (j < n) src.charAt(j) else '\u0000'
    while (i < n) {
      val c = src.charAt(i)
      if (c == '/' && at(i + 1) == '/') {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (c == '/' && at(i + 1) == '*') {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.charAt(i) == '/' && at(i + 1) == '*') { depth += 1; i += 2 }
          else if (src.charAt(i) == '*' && at(i + 1) == '/') { depth -= 1; i += 2 }
          else i += 1
        }
        out.append(' ')
      } else if (c == '"' && at(i + 1) == '"' && at(i + 2) == '"') {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) n else end + 3
        out.append(src.substring(i, stop))
        i = stop
      } else if (c == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        val stop = math.min(j + 1, n)
        out.append(src.substring(i, stop))
        i = stop
      } else if (c == '\'' && at(i + 1) == '\\' && at(i + 3) == '\'') {
        out.append(src.substring(i, i + 4)); i += 4
      } else if (c == '\'' && at(i + 2) == '\'') {
        out.append(src.substring(i, i + 3)); i += 3
      } else {
        out.append(c); i += 1
      }
    }
    out.toString
  }

  private val TopLevel =
    """(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(?:object|class|trait)\s+(\w+)""".r
  // a declaration runs to the next line that starts a new top-level statement
  private val TopLine = """(?m)^[^\s}]""".r
  private val RootDecl =
    raw"\bdef\s+main\s*\(|extends\s*\(\s*SparkSessionExtensions\s*=>\s*Unit\s*\)".r

  /** Top-level types nothing else names, as "Name (path)", sorted. */
  private def unreached(sources: Map[String, String]): Seq[String] = {
    val stripped = sources.map { case (path, src) => path -> stripComments(src) }
    stripped.toSeq.flatMap { case (path, src) =>
      val tops = TopLine.findAllMatchIn(src).map(_.start).toSeq
      val spans = TopLevel.findAllMatchIn(src).toSeq.map { m =>
        m.group(1) -> (m.start, tops.find(_ > m.end).getOrElse(src.length))
      }
      spans.groupMap(_._1)(_._2).toSeq.filterNot { case (name, own) =>
        val isRoot = ReachabilitySpec.LibraryRoots(name) ||
          own.exists { case (a, b) => RootDecl.findFirstIn(src.substring(a, b)).isDefined }
        // this file minus the type's own declarations, and every other file
        val rest = own.sortBy(-_._1).foldLeft(src) { case (s, (a, b)) =>
          s.substring(0, a) + s.substring(b)
        }
        val named = raw"\b$name\b".r
        isRoot || named.findFirstIn(rest).isDefined ||
          stripped.exists { case (other, text) =>
            other != path && named.findFirstIn(text).isDefined
          }
      }.map { case (name, _) => s"$name ($path)" }
    }.sorted
  }

  private val Def =
    """(?m)^\s*((?:(?:override|private(?:\[\w+\])?|protected(?:\[\w+\])?|final|implicit|lazy|inline)\s+)*)def\s+([A-Za-z_]\w*)""".r
  private val Ident = """\b[A-Za-z_]\w*""".r

  /** Main defs whose name occurs in main code only at its own definitions
    * (every `def name` site of it counted), as "File.name (path)", sorted.
    */
  private def uncalledDefs(sources: Map[String, String]): Seq[String] = {
    val stripped = sources.map { case (path, src) => path -> stripComments(src) }
    val named = stripped.values.flatMap(Ident.findAllIn(_)).groupMapReduce(identity)(_ => 1)(_ + _)
    val defs = stripped.toSeq.flatMap { case (path, src) =>
      Def.findAllMatchIn(src).map(m => (path, m.group(1), m.group(2)))
    }
    val defined = defs.groupMapReduce(_._3)(_ => 1)(_ + _)
    defs.collect {
      case (path, mods, name) if named(name) == defined(name) &&
          !mods.contains("override") && !Set("main", "apply", "unapply")(name) &&
          !(ReachabilitySpec.PublicApi(path) && !mods.contains("private") &&
            !mods.contains("protected")) &&
          !ReachabilitySpec.MethodRoots.contains(s"${fileType(path)}.$name") =>
        s"${fileType(path)}.$name ($path)"
    }.distinct.sorted
  }

  /** Every main source file, keyed by its path under `src/main/scala`. */
  private def mainSources(): Map[String, String] = {
    assert(mainDir.isDirectory, s"run from the project root: ${mainDir.getAbsolutePath}")
    scalaFiles(mainDir).map { f =>
      mainDir.toPath.relativize(f.toPath).toString ->
        new String(Files.readAllBytes(f.toPath), "UTF-8")
    }.toMap
  }

  /** "path: marker" for each marker that comment-stripped main code
    * outside the directory `dir` names, sorted.
    */
  private def namedOutside(dir: String, markers: Seq[String]): Seq[String] =
    namedIn(!_.startsWith(dir), markers)

  /** "path: marker" for each marker that the comment-stripped main files
    * whose path passes `in` name, sorted.
    */
  private def namedIn(in: String => Boolean, markers: Seq[String]): Seq[String] =
    mainSources().toSeq.filter(s => in(s._1)).flatMap { case (path, src) =>
      val code = stripComments(src)
      markers.filter(code.contains).map(m => s"$path: $m")
    }.sorted

  private def fileType(path: String): String =
    new File(path).getName.stripSuffix(".scala")

  test("stripComments drops line, block and nested comments but keeps literals") {
    val src = "a // Foo\nb /* Bar /* Baz */ Qux */ c \"// Keep\" '\"' d"
    val s = stripComments(src)
    assert(!s.contains("Foo") && !s.contains("Bar") && !s.contains("Qux"))
    assert(s.contains("\"// Keep\"") && s.contains("d"))
  }

  test("every top-level main type is named by another main file, an entry point or a config string") {
    val sources = mainSources()
    val orphans = unreached(sources)
    assert(orphans.isEmpty,
      s"top-level main types that no other main file names:\n  ${orphans.mkString("\n  ")}")
  }

  test("every main def is named in main code outside its own definition") {
    val sources = mainSources()
    // a method root kept for a spec must still be used by that spec
    ReachabilitySpec.MethodRoots.foreach { case (method, spec) =>
      val specSrc = new String(Files.readAllBytes(
        new File(s"src/test/scala/graft/$spec.scala").toPath), "UTF-8")
      assert(raw"\b${method.split('.').last}\b".r.findFirstIn(specSrc).isDefined,
        s"$spec no longer uses $method: drop it from MethodRoots")
    }
    val uncalled = uncalledDefs(sources)
    assert(uncalled.isEmpty,
      s"main methods that no main code calls:\n  ${uncalled.mkString("\n  ")}")
  }

  test("only graft/storage knows the warehouse layout") {
    // the partition directory names and the sidecar directory are spelled
    // out in storage code alone: every other module walks, reads and
    // writes the warehouse through PrunedScan and Manifest
    val leaks = namedOutside("graft/storage/", Seq("_manifest", "yyyymm=", "instrument="))
    assert(leaks.isEmpty,
      s"warehouse layout spelled out outside graft/storage:\n  ${leaks.mkString("\n  ")}")
  }

  test("only graft/storage reads the warehouse layout") {
    // the month cut, the session-zone key bounds, the file walk and the
    // month label are decided in PrunedScan alone: the API, ingest, OHLC
    // and query code hand PrunedScan.readMonths their bounds
    val leaks = namedIn(p =>
        Seq("graft/api/", "graft/ingest/", "graft/ohlc/", "graft/query/").exists(p.startsWith),
      Seq("monthPartitionedFiles", "monthOfLo", "monthOfHi", "sessionInstant", "readTable(",
        "\"yyyyMM\"", "col(\"yyyymm\")"))
    assert(leaks.isEmpty,
      s"warehouse reads spelled out outside graft/storage:\n  ${leaks.mkString("\n  ")}")
  }

  test("only graft/storage writes the warehouse layout") {
    // the overwrite scope, the codec and the sidecar refresh are decided in
    // PrunedScan.writeMonths alone: ingest and OHLC hand it a frame
    val leaks = namedOutside("graft/storage/",
      Seq("partitionOverwriteMode", "\"zstd\"", "writeMonthManifests"))
    assert(leaks.isEmpty,
      s"warehouse writes spelled out outside graft/storage:\n  ${leaks.mkString("\n  ")}")
  }

  test("only graft/operators owns the as-of dispatch rule") {
    // the crossover and the bucket width are decided in AsofJoin alone:
    // other modules hand it stats and take its verdict
    val leaks = namedOutside("graft/operators/", Seq("HotKeyCrossover", "bucketWidthFor"))
    assert(leaks.isEmpty,
      s"as-of dispatch rule named outside graft/operators:\n  ${leaks.mkString("\n  ")}")
  }

  test("only the bar kernel spells out the OHLC bar rule") {
    // open/close, high/low and n are built by graft.ohlc.BarAgg alone:
    // the bar, resample, incremental, streaming and API sites call it
    val kernel = "graft/ohlc/BarAgg.scala"
    val leaks = namedIn(p => p != kernel &&
        Seq("graft/ohlc/", "graft/streaming/", "graft/api/").exists(p.startsWith),
      Seq("min_by(", "max_by(", "OhlcAgg", "first_ord"))
    assert(leaks.isEmpty,
      s"the OHLC bar rule spelled out outside its kernel:\n  ${leaks.mkString("\n  ")}")
  }
}

object ReachabilitySpec {
  /** Library entry points that users call directly and no query,
    * `Processor` method or `main` reaches: the remote-archive fetch that
    * fills the spool `Processor.updateData` ingests (the reference's
    * `download_exness_zip`).
    */
  val LibraryRoots: Set[String] = Set("TickFetcher")

  /** Files whose public methods are the user-facing API: the reference's
    * processor surface and the archive fetch.
    */
  val PublicApi: Set[String] = Set("graft/api/Processor.scala", "graft/ingest/TickFetcher.scala")

  /** Methods no main code calls that stay on purpose, each with a spec
    * that uses it: the flagship smoke query, the installer of the engine's
    * functions and planner rules on an already-built session, and three
    * reference twins that specs compare production paths against.
    */
  val MethodRoots: Map[String, String] = Map(
    "SparkEntry.entry" -> "ContractSpec",
    "GraftExtensions.register" -> "ZOrderSpec",
    "MinHash.reconcileIncremental" -> "StreamingDedupSpec",
    "CorpusOps.dsirLogWeightsUncut" -> "PlanSpec",
    "VectorFunctions.assignCells" -> "ReviewFixSpec")
}
