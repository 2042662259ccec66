package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.{col, floor}
import org.apache.spark.sql.streaming.OutputMode

/** The open (current) SCD version per user: epoch-NANOS of the event that
  * opened it, the event id (the batch tie-break — q138 orders versions by
  * `(ts, event_id)`), and the integer-cents value (the Determinism rule:
  * money never rides a DOUBLE). Nanos, not millis: the batch q138 closes a
  * version at the NEXT event's full-precision timestamp, so two events a
  * microsecond apart must still produce a distinct `[from, to)` interval. */
final case class ScdOpen(fromNs: Long, eventId: Long, valueCents: Long)

/** One finalized SCD-2 version: emitted the moment a user's NEXT event
  * closes it (`is_current` = 0 always — the still-open version lives in
  * state and by definition cannot appear in an append-mode stream until
  * something closes it). */
final case class ScdVersion(user_id: Long, valid_from: java.sql.Timestamp,
    valid_to: java.sql.Timestamp, value_cents: Long, is_current: Long)

/** The q138 SCD-2 event-to-state fold as a LIVE stream — a [[KeyedFold]]
  * keyed by user, one 24-byte state row per user, no timers: each incoming
  * event closes the user's open version (emitting it exactly once, append
  * mode) and opens its own. The emitted closed versions plus the final
  * open-state snapshot reproduce the batch q138 table exactly (s36 pins it)
  * PROVIDED events arrive per-user in `(ts, event_id)` order — the same
  * delivery assumption as [[FunnelProcessor]] (within a micro-batch the
  * fold sorts, so chunked in-order replay and any per-key-ordered
  * source are exact; a late event would need an upstream
  * sort-within-watermark).
  *
  * Scale: state is one fixed-width row per user (the funnel envelope) in
  * the RocksDB store; each micro-batch shuffles only its own rows on
  * user_id. The emitted stream is exactly one row per event after the
  * user's first — append-only downstream (the audit-table sink shape).
  */
object ScdProcessor {

  /** Closed-version stream over `(user_id, ts, event_id, value)` rows —
    * the streaming face of q138's history fold (same `floor(value*100)`
    * cents projection as the batch side, so the two cannot drift). */
  def history(events: DataFrame): Dataset[ScdVersion] = {
    val spark = events.sparkSession
    import spark.implicits._
    val grouped = events.select(col("user_id"), col("ts").cast("timestamp"), col("event_id"),
        floor(col("value") * 100).cast("long").as("value_cents"))
      .as[(Long, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
    KeyedFold(grouped, "scd_open", Encoders.product[ScdOpen], OutputMode.Append())(batch)
  }

  private def stamp(ns: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(ns / 1000000L)
    t.setNanos((ns % 1000000000L).toInt)
    t
  }

  /** One micro-batch of a user's events folded from the prior open version. */
  private[streaming] def batch(key: Long, prior: Option[ScdOpen],
      rows: Iterator[(Long, java.sql.Timestamp, Long, Long)])
      : (Option[ScdOpen], Iterator[ScdVersion]) = {
    var open = prior
    val out = Seq.newBuilder[ScdVersion]
    // micro-batch rows carry no order guarantee — sort by the batch
    // version order (ts, event_id); equal-ts events each open a version
    // the next one immediately closes (a zero-width interval, exactly
    // like q138's lead() on a tied timestamp)
    rows.toSeq.sortBy(r => (FunnelProcessor.nanos(r._2), r._3)).foreach {
      case (_, t, eid, cents) =>
        val n = FunnelProcessor.nanos(t)
        open.foreach(o => out += ScdVersion(key, stamp(o.fromNs), stamp(n), o.valueCents, 0L))
        open = Some(ScdOpen(n, eid, cents))
    }
    (open, out.result().iterator)
  }
}
