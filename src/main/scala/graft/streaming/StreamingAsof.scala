package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming lift of the flagship ASOF LEFT join
  * ([[graft.operators.AsofJoin.leftAsof]] — the reference's
  * `clickhouse_ohlc_generator.py:187-190` semantics): each left row is
  * matched with the LAST right row at-or-before its event time, NULL-filled
  * when none exists.
  *
  * Spark has no stream-stream as-of join (stream-stream equi-joins demand
  * equality on both sides; the inequality would go to a quadratic range
  * condition with unbounded state). This implements it the way the engine's
  * other custom-state streams do: both sides tagged and UNIONED into one
  * stream, hash-grouped by key, and merged per key inside
  * `flatMapGroupsWithState` with event-time timeouts.
  *
  * Correctness contract: a left row at tL is FINALIZED only once the
  * watermark strictly passes tL, so for sources honoring the watermark
  * (disorder bounded by the delay) the match equals the batch operator's
  * for ANY arrival schedule — spec-pinned on randomized out-of-order
  * splits. Beyond the watermark the contract degrades EXPLICITLY:
  * `flatMapGroupsWithState` admits late rows (Spark does not pre-filter
  * them — pinned in StreamingAsofSpec), and this merge handles them
  * best-effort: a late right is still matched by every PENDING left, but
  * an already-emitted row is immutable (append mode has no retraction),
  * and a late LEFT below the compaction frontier may match the compacted
  * carry instead of an already-dropped intermediate right. That is the
  * standard streaming trade; the batch twin re-run reconciles, mirroring
  * the reference's re-generation model.
  *
  * State per key is bounded: pending lefts above the watermark, rights
  * above the watermark, plus ONE carry right at-or-below it (the only
  * older right any future left can still match — future lefts arrive at
  * or above the watermark). Rights-only state deliberately persists (one
  * compacted tuple per key) so a key that goes quiet keeps its carry for
  * a much-later left; per-key state is O(1) after compaction, the same
  * class as any keyed streaming aggregate. For UNBOUNDED key spaces
  * (session-like keys that never recur), pass `rightTtlMs`: a carry idle
  * more than the TTL behind the watermark is evicted, so total state
  * tracks the ACTIVE key set instead of every key ever seen; a left
  * arriving after its key's eviction NULL-fills (the same explicit
  * late-row degradation as above — the batch twin re-run reconciles).
  *
  * Tie-breaks replicate the batch operator exactly: the right side is
  * inclusive (tR == tL matches), and among equal-tR rights the MAX
  * (payload…, ord) wins — [[graft.operators.AsofJoin.leftAsof]]'s
  * max-payload-struct rule (struct comparison = lexicographic over the
  * payload fields) — so the two paths are row-identical and the streaming
  * form shares the batch DuckDB ASOF oracle verbatim.
  */
object StreamingAsof {

  /** Tagged union row: side 0 = right (match source), 1 = left (probe);
    * `v` is the payload vector (any number of double columns).
    */
  final case class In(
      k: Long, t: java.sql.Timestamp, side: Int, v: Seq[Double], ord: Long)

  /** Joined output: left row + matched right payload (None = no match). */
  final case class Out(
      k: Long, t: java.sql.Timestamp, ord: Long, v: Seq[Double],
      rt: Option[java.sql.Timestamp], rv: Option[Seq[Double]], rord: Option[Long])

  /** Buffered (tMicros, v, ord) tuples; lefts await finalization, rights
    * await probes. NOT private: the state-store encoder's janino codegen
    * needs public accessor resolution on the state class.
    */
  final case class St(
      lefts: Seq[(Long, Seq[Double], Long)],
      rights: Seq[(Long, Seq[Double], Long)])

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  private def toTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** The per-key merge. Invoked with new rows, or by event-time timeout
    * with none (the flush path for pending lefts whose watermark arrived
    * without new data for the key).
    */
  private def mergeGroup(ttlMs: Option[Long])(
      k: Long,
      rows: Iterator[In],
      state: GroupState[St]): Iterator[Out] = {
    import scala.math.Ordering.Implicits.seqOrdering
    val st = state.getOption.getOrElse(St(Nil, Nil))
    val batch = rows.toSeq
    // ordering replicates the batch window sort: lefts by (t, ord) for
    // stable output, rights by (t, payload…, ord) so "last ≤ tL" IS the
    // max-payload-struct winner among equal-time rights
    val lefts = (st.lefts ++ batch.filter(_.side == 1)
      .map(r => (micros(r.t), r.v, r.ord))).sortBy(x => (x._1, x._3))
    val rights = (st.rights ++ batch.filter(_.side == 0)
      .map(r => (micros(r.t), r.v, r.ord))).sortBy(x => (x._1, x._2, x._3))
    val wmUs = state.getCurrentWatermarkMs() * 1000L

    // finalize strictly below the watermark: an admissible future right
    // has tR ≥ watermark > tL, so it cannot change these matches
    val (ready, pending) = lefts.partition(_._1 < wmUs)
    val out = ready.map { case (tl, v, ord) =>
      val m = rights.takeWhile(_._1 <= tl).lastOption
      Out(k, toTs(tl), ord, v, m.map(r => toTs(r._1)), m.map(_._2), m.map(_._3))
    }

    // compact rights: everything at-or-above the watermark can still beat
    // the carry for a future left; below it only the LAST right matters
    val cut = rights.lastIndexWhere(_._1 < wmUs)
    val keptRights = if (cut <= 0) rights else rights.drop(cut)

    // opt-in carry TTL (r17 verdict item 6): the per-key state is O(1),
    // but |keys| is unbounded for session-like key spaces — a carry for a
    // key that went quiet forever is state that never dies. With a TTL,
    // rights-only state whose last right sits more than ttl behind the
    // watermark is EVICTED; a left for that key arriving later NULL-fills
    // (the documented late-row contract — the batch twin re-run
    // reconciles). Without a TTL the carry persists indefinitely,
    // exactly as before.
    val expired = ttlMs.exists(t => pending.isEmpty && keptRights.nonEmpty &&
      wmUs >= keptRights.last._1 + t * 1000L)
    if (expired || (pending.isEmpty && keptRights.isEmpty)) state.remove()
    else {
      state.update(St(pending, keptRights))
      if (pending.nonEmpty) {
        // wake this key once the watermark passes its earliest pending
        // left (must be strictly above the current watermark — pending
        // lefts are ≥ wm by construction; +1ms covers µs→ms truncation)
        val wakeMs = Math.max(pending.head._1 / 1000L,
          state.getCurrentWatermarkMs()) + 1L
        state.setTimeoutTimestamp(wakeMs)
      } else ttlMs.foreach { t =>
        // rights-only under a TTL: arm the eviction wake-up (strictly
        // above the current watermark, at/after the carry's expiry)
        val wakeMs = Math.max(keptRights.last._1 / 1000L + t,
          state.getCurrentWatermarkMs() + 1L)
        state.setTimeoutTimestamp(wakeMs)
      }
      // TTL-less rights-only state keeps NO timeout: the carry must
      // survive a quiet key indefinitely (dropping it would NULL-fill a
      // later left the batch twin matches)
    }
    out.iterator
  }

  /** Stream-stream ASOF LEFT over a tagged union stream (side 0 = right,
    * 1 = left). `union` must carry a watermark on `t` BEFORE this call.
    * Emits one [[Out]] row per left row, in append mode, once the
    * watermark passes the row's event time.
    */
  def leftAsofStream(
      union: Dataset[In],
      rightTtlMs: Option[Long] = None): Dataset[Out] = {
    import union.sparkSession.implicits._
    require(rightTtlMs.forall(_ > 0L), "rightTtlMs must be positive")
    union
      .groupByKey(_.k)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        mergeGroup(rightTtlMs))
  }
}
