package graft.streaming

import graft.operators.TierSeventyNine
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

/** One Holt-charted day for one event type (append mode). */
final case class HoltPoint(event_type: String, day_idx: Long, cnt: Long,
    level: Long, trend: Long, flag: Long)

private[streaming] final case class HoltState(l: Long, b: Long)

/** q237's Holt linear chart as a LIVE monitor — the [[EwmaMonitor]]
  * shape with TWO longs of state per event type (level + trend), each
  * closing day folded through [[TierSeventyNine.holtStep]] (the single
  * shared definition — batch chart and live monitor cannot drift).
  * Same delivery contract as s40: day closes arrive per-type in day
  * order, micro-batches sorted on day before folding.
  */
object HoltMonitor {

  /** Chart stream over `(event_type, day_idx, cnt)` day-close rows —
    * the streaming face of q237. */
  def chart(dayCloses: DataFrame): Dataset[HoltPoint] = {
    KeyedFold(KeyedFold.dayCloses(dayCloses), "holt_state",
      Encoders.product[HoltState], OutputMode.Append())(batch)
  }

  /** One micro-batch of a type's day closes folded from the prior level
    * and trend. */
  private[streaming] def batch(key: String, prior: Option[HoltState],
      rows: Iterator[(String, Long, Long)]): (Option[HoltState], Iterator[HoltPoint]) = {
    var st = prior
    val out = rows.toSeq.sortBy(_._2).map { case (t, d, x) =>
      val s = st.getOrElse(HoltState(0L, 0L))
      val (l, b, flag) = TierSeventyNine.holtStep(st.isEmpty, s.l, s.b, x)
      st = Some(HoltState(l, b))
      HoltPoint(t, d, x, l, b, flag)
    }
    (st, out.iterator)
  }
}
