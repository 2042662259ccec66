package graft.streaming

import graft.operators.TierFiftyNine
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

/** One charted CUSUM day for one event type (append mode). */
final case class CusumPoint(event_type: String, day_idx: Long, cnt: Long,
    sp: Long, sn: Long, alarm: Long)

/** q201's CUSUM control chart as a LIVE monitor — a [[KeyedFold]]
  * keyed by event type over day-close records, folding the shared
  * [[TierFiftyNine.cusumStep]] (batch chart and live monitor cannot
  * drift) against FROZEN phase-I means (the s37 frozen-stats
  * convention: μ is trained on a reference window and handed to the
  * monitor; the stream is phase II). State is two longs per type
  * (S⁺, S⁻); keys process in parallel. Delivery contract: day closes
  * arrive per-type in day order (in-batch sort by day — the
  * [[ScdProcessor]] convention).
  */
object CusumMonitor {

  /** Chart stream over `(event_type, day_idx, cnt)` day-close rows with
    * frozen per-type means `mu` — the streaming face of q201. A type
    * absent from `mu` is passed through with μ = 0 (every positive day
    * alarms — the loud-fail choice for an untrained key). */
  def chart(dayCloses: DataFrame, mu: Map[String, Long]): Dataset[CusumPoint] = {
    KeyedFold(KeyedFold.dayCloses(dayCloses), "cusum_state",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      OutputMode.Append())(batch(mu))
  }

  /** One micro-batch of a type's day closes folded from the prior (S⁺, S⁻). */
  private[streaming] def batch(mu: Map[String, Long])(key: String, prior: Option[(Long, Long)],
      rows: Iterator[(String, Long, Long)]): (Option[(Long, Long)], Iterator[CusumPoint]) = {
    val mu0 = mu.getOrElse(key, 0L)
    val h = mu0 / TierFiftyNine.AlarmDiv
    var (sp, sn) = prior.getOrElse((0L, 0L))
    val out = rows.toSeq.sortBy(_._2).map { case (t, d, c) =>
      val (sp1, sn1) = TierFiftyNine.cusumStep(sp, sn, mu0, c)
      sp = sp1; sn = sn1
      CusumPoint(t, d, c, sp1, sn1, if (sp1 > h || sn1 > h) 1L else 0L)
    }
    (Some((sp, sn)), out.iterator)
  }
}
