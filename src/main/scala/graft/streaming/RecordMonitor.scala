package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.{col, floor, lit}
import org.apache.spark.sql.streaming.OutputMode

/** A record-setting event, emitted the moment it arrives (append mode). */
final case class RecordEvent(event_id: Long, event_type: String, cents: Long)

/** q164's running-records audit as a LIVE alert stream — a
  * [[KeyedFold]] over ONE constant key holding the global
  * high-water mark (8 bytes of state, total): each arriving event is
  * emitted iff its integer cents STRICTLY exceed every earlier event's
  * (arrival order = event_id; within a micro-batch the fold sorts,
  * so chunked in-order replay is exact — the [[ScdProcessor]] delivery
  * contract).
  *
  * The single key is the HONEST shape, not a scale bug: a global
  * extremum is inherently sequential (every event compares against one
  * running value), the state is one long, and the emitted alert stream
  * is O(log n) rows for random-ish values — this is the alarm-channel
  * pattern ("page when a new max trade prints"), not a corpus shuffle.
  * At fan-in scale the map side pre-filters: a micro-batch's non-record
  * rows can be cut by a per-partition max BEFORE the single-key shuffle
  * (the partial+final shape), which s38 doesn't need at fixture volume.
  */
object RecordMonitor {

  /** Record-alert stream over `(event_id, event_type, cents)` rows —
    * the streaming face of q164 (same integer-cents projection, so the
    * two cannot drift). */
  def records(events: DataFrame): Dataset[RecordEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    val grouped = events.select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"), lit(0L).as("k"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._4)
      .mapValues(t => (t._1, t._2, t._3))
    KeyedFold(grouped, "record_hwm", Encoders.scalaLong, OutputMode.Append())(batch)
  }

  /** One micro-batch of events folded from the prior high-water mark. */
  private[streaming] def batch(key: Long, prior: Option[Long],
      rows: Iterator[(Long, String, Long)]): (Option[Long], Iterator[RecordEvent]) = {
    var acc = prior.getOrElse(Long.MinValue)
    val out = rows.toSeq.sortBy(_._1).flatMap { case (id, et, cents) =>
      if (cents > acc) { acc = cents; Some(RecordEvent(id, et, cents)) }
      else None
    }
    (Some(acc), out.iterator)
  }
}
