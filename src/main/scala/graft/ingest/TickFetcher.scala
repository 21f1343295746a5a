package graft.ingest

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path, StandardCopyOption}

/** Remote-archive fetch step of the tick source (reference
  * `downloader.py:40-83` ExnessDownloader): constructs the monthly-archive
  * URL for a (pair, variant, year, month), downloads it into a local spool
  * directory, skips months that are already spooled, and reports failures
  * as absent rather than throwing — the reference's `None` on URLError.
  *
  * Deliberately DRIVER-side, like the reference: archives land in the
  * spool, and the distributed part of ingestion starts at
  * [[TickIngest.readZipsWithBadRecords]], which decompresses on executors.
  * One monthly archive is tens of MB — the fetch is I/O-bound on the
  * remote end, not a cluster-scale concern; what must scale (parse,
  * dedup, partitioned write) already does.
  *
  * The base URL is pluggable so the engine stays runnable offline: tests
  * exercise the full fetch path through `file://` fixture URLs (the sandbox
  * has no egress), and a production deployment points it at the real
  * archive host over https.
  */
object TickFetcher {

  /** Archive symbol: `PAIR_Variant`, or bare pair for the standard variant
    * (reference `downloader.py:64-66`).
    */
  def symbol(pair: String, variant: String): String =
    if (variant.nonEmpty) s"${pair.toUpperCase}_$variant" else pair.toUpperCase

  /** Monthly archive URL (reference `downloader.py:68-69` pattern
    * `/ticks/{symbol}/{year}/{month}/Exness_{symbol}_{year}_{month}.zip`).
    */
  def monthUrl(base: String, pair: String, variant: String, year: Int, month: Int): String = {
    val s = symbol(pair, variant)
    s"${base.stripSuffix("/")}/ticks/$s/$year/${graft.storage.PrunedScan.pad(month, 2)}/Exness_${s}_${year}_${graft.storage.PrunedScan.pad(month, 2)}.zip"
  }

  /** Spooled archive filename for a month (reference `downloader.py:70`). */
  def zipName(pair: String, variant: String, year: Int, month: Int): String =
    s"Exness_${symbol(pair, variant)}_${year}_${graft.storage.PrunedScan.pad(month, 2)}.zip"

  /** Fetch one monthly archive into `spoolDir`.
    *
    * Returns the spooled path, or None if the remote does not have the
    * month (any I/O failure — the reference treats a 404 month as "not yet
    * published" and moves on). Skip-if-exists: a month already in the
    * spool is returned immediately without touching the network
    * (`downloader.py:72-73`). The download streams to a `.part` file and
    * moves it into place atomically, so a killed fetch never leaves a
    * half-written archive where the skip check would trust it.
    */
  def fetchZip(
      base: String,
      spoolDir: Path,
      year: Int,
      month: Int,
      pair: String = "EURUSD",
      variant: String = "Raw_Spread"
  ): Option[Path] = {
    Files.createDirectories(spoolDir)
    val target = spoolDir.resolve(zipName(pair, variant, year, month))
    if (Files.exists(target)) return Some(target)
    val url = monthUrl(base, pair, variant, year, month)
    val part = spoolDir.resolve(target.getFileName.toString + ".part")
    try {
      // explicit timeouts: a hung remote must fail the month (→ None,
      // like a 404) rather than stall the whole fetch loop — a timeout
      // raises SocketTimeoutException, an IOException like any other
      val conn = URI.create(url).toURL.openConnection()
      conn.setConnectTimeout(30000)
      conn.setReadTimeout(60000)
      val in = conn.getInputStream
      try Files.copy(in, part, StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      // atomic publish preferred; filesystems without atomic-move support
      // (some FUSE/CIFS/object-store mounts) throw
      // AtomicMoveNotSupportedException — without the plain-move fallback
      // the completed download would be DELETED by the catch below and the
      // month reported absent forever, indistinguishable from a 404
      try Files.move(part, target,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
      }
      Some(target)
    } catch {
      case _: IOException | _: IllegalArgumentException =>
        Files.deleteIfExists(part)
        None
    }
  }

  /** Fetch a range of months (inclusive, `(year, month)` pairs), returning
    * the months that exist remotely or were already spooled — the loop the
    * reference's update pipeline runs before ingestion.
    */
  def fetchMonths(
      base: String,
      spoolDir: Path,
      months: Seq[(Int, Int)],
      pair: String = "EURUSD",
      variant: String = "Raw_Spread"
  ): Seq[Path] =
    months.flatMap { case (y, m) => fetchZip(base, spoolDir, y, m, pair, variant) }
}
