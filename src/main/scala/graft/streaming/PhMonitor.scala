package graft.streaming

import graft.operators.TierNinety
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

/** One Page–Hinkley-charted day for one event type (append mode).
  * `pinned` = 1 when the type's μ was in the deployment's pinned map,
  * 0 when it ran unpinned (δ = λ = 0 — maximally sensitive, alarms on
  * any positive deviation): the visibility marker that tells an operator
  * a NEW type is alarming because nobody has pinned it yet, not because
  * it drifted (ADVICE r13). */
final case class PhPoint(event_type: String, day_idx: Long, cnt: Long,
    mean_run: Long, ph: Long, alarm: Long, pinned: Long)

private[streaming] final case class PhState(i: Long, s: Long, m: Long, mn: Long)

/** q260's Page–Hinkley drift chart as a LIVE monitor — the
  * [[HoltMonitor]] shape with FOUR longs of state per event type
  * (count, running sum, cumulative deviation, its minimum), each
  * closing day folded through [[TierNinety.phStep]] (the single shared
  * definition — batch chart and live monitor cannot drift). The level
  * self-calibrates (PH's point); only the slack δ and alarm λ read the
  * FROZEN per-type μ the deployment pins (the s37 frozen-stats shape —
  * q260 derives it from the full grid, a live deployment from its
  * phase-I window). A type absent from the pinned map runs with
  * δ = λ = 0 — maximally sensitive until someone pins it (documented,
  * not an error: the monitor must not drop data) — and every point it
  * emits carries `pinned = 0`, so the alarm storm a brand-new type
  * produces is visibly "unpinned type", not "drift".
  * Same delivery contract as s40/s45: day closes arrive per-type in
  * day order, micro-batches sorted on day before folding.
  */
object PhMonitor {

  /** Chart stream over `(event_type, day_idx, cnt)` day-close rows —
    * the streaming face of q260. */
  def chart(dayCloses: DataFrame, mu: Map[String, Long]): Dataset[PhPoint] = {
    KeyedFold(KeyedFold.dayCloses(dayCloses), "ph_state",
      Encoders.product[PhState], OutputMode.Append())(batch(mu))
  }

  /** One micro-batch of a type's day closes folded from the prior
    * Page–Hinkley state. */
  private[streaming] def batch(mu: Map[String, Long])(key: String,
      prior: Option[PhState], rows: Iterator[(String, Long, Long)])
      : (Option[PhState], Iterator[PhPoint]) = {
    val pinned = if (mu.contains(key)) 1L else 0L
    val mu0 = mu.getOrElse(key, 0L)
    val (delta, lambda) = (mu0 / TierNinety.DeltaDiv, mu0 / TierNinety.LambdaDiv)
    var st = prior.getOrElse(PhState(0L, 0L, 0L, 0L))
    val out = rows.toSeq.sortBy(_._2).map { case (t, d, x) =>
      val (i, s, m, mn) = TierNinety.phStep(st.i, st.s, st.m, st.mn, x, delta)
      st = PhState(i, s, m, mn)
      val ph = m - mn
      PhPoint(t, d, x, s / i, ph, if (ph > lambda) 1L else 0L, pinned)
    }
    (Some(st), out.iterator)
  }
}
