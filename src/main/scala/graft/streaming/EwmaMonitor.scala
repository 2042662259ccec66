package graft.streaming

import graft.operators.TierFiftySix
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

/** One charted day for one event type, emitted the moment the day's
  * count closes (append mode). */
final case class EwmaPoint(event_type: String, day_idx: Long, cnt: Long,
    ewma: Long, flag: Long)

/** q197's EWMA control chart as a LIVE monitor — a [[KeyedFold]] keyed
  * by event type over a stream of DAY-CLOSE records
  * `(event_type, day_idx, cnt)`: each closing day folds the exact
  * recurrence through [[TierFiftySix.ewmaStep]] (the single shared
  * definition — batch chart and live monitor cannot drift) and emits
  * the charted point, flag included.
  *
  * State is ONE long per event type (the running EWMA), so the store
  * stays O(types) forever; keys process in parallel — this is the
  * per-key sequential-monitor shape, not s38's single-key extremum.
  * Delivery contract: day closes arrive per-type in day order (within a
  * micro-batch the fold sorts by day — the [[ScdProcessor]]
  * convention), which is what any upstream day-close emitter
  * (watermarked tumbling count, e.g. s02's) produces.
  */
object EwmaMonitor {

  /** Chart stream over `(event_type, day_idx, cnt)` day-close rows —
    * the streaming face of q197. */
  def chart(dayCloses: DataFrame): Dataset[EwmaPoint] = {
    KeyedFold(KeyedFold.dayCloses(dayCloses), "ewma_prev", Encoders.scalaLong,
      OutputMode.Append())(batch)
  }

  /** One micro-batch of a type's day closes folded from the prior EWMA. */
  private[streaming] def batch(key: String, prior: Option[Long], rows: Iterator[(String, Long, Long)])
      : (Option[Long], Iterator[EwmaPoint]) = {
    var prev = prior
    val out = rows.toSeq.sortBy(_._2).map { case (t, d, c) =>
      val (e, flag) = TierFiftySix.ewmaStep(prev.isEmpty, prev.getOrElse(0L), c)
      prev = Some(e)
      EwmaPoint(t, d, c, e, flag)
    }
    (prev, out.iterator)
  }
}
