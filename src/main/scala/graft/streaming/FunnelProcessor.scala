package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

/** Greedy funnel state per user: epoch-NANOS of the first view, the first
  * click after it, the first purchase after that (−1 = not reached).
  * Nanos, not millis: the batch q81 compares at full timestamp precision
  * (`ts > vts` on TIMESTAMP_NTZ), so a click half a millisecond after its
  * view must still count — only the EMITTED durations floor to ms
  * (matching `unix_millis`/`epoch_ms` on both engines).
  */
final case class FunnelState(vNs: Long, cNs: Long, pNs: Long)

/** One stage completion: emitted the moment a user first reaches a stage. */
final case class FunnelHit(user_id: Long, stage: String, since_view_ms: Long)

/** The q81 funnel as a LIVE stream — a [[KeyedFold]] keyed by user,
  * one 24-byte state row per user, no timers: each stage completion emits
  * exactly once, in append mode. Aggregating the emitted hits reproduces
  * the batch q81 exactly (s23 pins it) PROVIDED events arrive per-user in
  * event-time order — the greedy chain can't retroactively use a view that
  * arrives after a younger click was discarded. Out-of-order sources need
  * an upstream sort-within-watermark; within a micro-batch the fold
  * sorts, so chunked in-order replay (and any source that preserves
  * per-key order, e.g. a user-keyed log partition) is exact.
  */
object FunnelProcessor {

  /** Stage-completion stream over `(user_id, ts, event_type)` rows. Only
    * funnel-relevant event types pass the shuffle — without the filter,
    * signup/error-only users would still be shuffled and grow the state
    * store with keys that can never enter the funnel. */
  def funnel(events: DataFrame): Dataset[FunnelHit] = {
    val spark = events.sparkSession
    import spark.implicits._
    val grouped = events.select(col("user_id"), col("ts").cast("timestamp"), col("event_type"))
      .filter(col("event_type").isin("view", "click", "purchase"))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
    KeyedFold(grouped, "funnel", Encoders.product[FunnelState], OutputMode.Append())(batch)
  }

  private[streaming] def nanos(t: java.sql.Timestamp): Long =
    t.getTime * 1000000L + t.getNanos % 1000000L

  /** One micro-batch of a user's events folded from the prior funnel
    * state; a batch that reaches no new stage keeps the prior state (no
    * RocksDB write). */
  private[streaming] def batch(key: Long, prior: Option[FunnelState],
      rows: Iterator[(Long, java.sql.Timestamp, String)])
      : (Option[FunnelState], Iterator[FunnelHit]) = {
    val before = prior.getOrElse(FunnelState(-1L, -1L, -1L))
    var s = before
    val out = Seq.newBuilder[FunnelHit]
    // micro-batch rows carry no order guarantee — sort; ties are harmless
    // (every stage comparison is strict)
    rows.toSeq.sortBy(r => nanos(r._2)).foreach { case (_, t, tpe) =>
      val n = nanos(t)
      def sinceViewMs(stage: Long) = stage / 1000000L - s.vNs / 1000000L
      tpe match {
        case "view" if s.vNs < 0 =>
          s = s.copy(vNs = n); out += FunnelHit(key, "1_view", 0L)
        case "click" if s.vNs >= 0 && s.cNs < 0 && n > s.vNs =>
          s = s.copy(cNs = n); out += FunnelHit(key, "2_click", sinceViewMs(n))
        case "purchase" if s.cNs >= 0 && s.pNs < 0 && n > s.cNs =>
          s = s.copy(pNs = n); out += FunnelHit(key, "3_purchase", sinceViewMs(n))
        case _ => ()
      }
    }
    (if (s == before) prior else Some(s), out.result().iterator)
  }
}
