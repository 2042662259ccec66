package graft

import graft.operators.{TierEightyFive, TierNineteen}
import org.apache.spark.sql.functions._

/** Tier-85 differentials: q249 against an in-memory greedy-witness
  * replay (plus the proof the clock BINDS vs the order-only funnel),
  * q250 against the thr-independence law of the celled detector (the
  * sweep's band k must equal a detector run AT band k — cells don't
  * depend on the threshold).
  */
class TierEightyFiveSpec extends SparkSpec {

  test("q249 window funnel ≡ in-memory greedy replay; the clock binds") {
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    val w = TierEightyFive.FunnelWindowUs
    def stageTimes(step: String, prev: Map[Long, Long],
        windowed: Boolean): Map[Long, Long] =
      prev.flatMap { case (u, t) =>
        byUser.getOrElse(u, Array.empty)
          .filter(e => e._2 == step && e._3 > t && (!windowed || e._3 <= t + w))
          .map(_._3).minOption.map(u -> _)
      }
    val s1 = ev.filter(_._2 == "signup").groupBy(_._1)
      .view.mapValues(_.map(_._3).min).toMap
    val s2 = stageTimes("click", s1, windowed = true)
    val s3 = stageTimes("purchase", s2, windowed = true)
    val expected = Seq(
      (1L, "signup", s1.size.toLong), (2L, "click", s2.size.toLong),
      (3L, "purchase", s3.size.toLong))
      .map { case (st, nm, u) => (st, nm, u, u * 1000000L / s1.size) }
    val got = TierEightyFive.q249.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, "q249 must equal the in-memory greedy replay")
    assert(got.map(_._3) == got.map(_._3).sorted.reverse &&
      got.last._3 < got.head._3, "stages must strictly attrit on the fixture")
    // the clock must BIND: the order-only funnel (no window) completes
    // strictly more users at some stage, else the window audits nothing
    val o2 = stageTimes("click", s1, windowed = false)
    val o3 = stageTimes("purchase", o2, windowed = false)
    assert(s2.size < o2.size || s3.size < o3.size,
      "the 24h window must exclude someone the order-only funnel admits")
  }

  test("q250 sweep bands ≡ detector runs AT each band (thr-independence of cells)") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val got = TierEightyFive.q250.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // monotone: tightening the band can only shrink both counts
    assert(got.map(_._1) == TierEightyFive.SweepThr.map(t => (t * 1e6).toLong))
    assert(got.map(_._2) == got.map(_._2).sorted.reverse)
    assert(got.map(_._3) == got.map(_._3).sorted.reverse)
    assert(got.head._2 > got.last._2 && got.last._2 > 0,
      "bands must discriminate on the fixture")
    // the amortization law: because the Lloyd cells do not depend on the
    // threshold, the ONE loose detection filtered at band k equals a
    // detector run AT band k — checked on the tightest + an interior band
    for (thr <- Seq(0.9, 0.95)) {
      val pairs = TierNineteen.celledEmbedPairsOf(docs, thr)
        .select("doc_a", "doc_b").persist()
      val np = pairs.count()
      val nd = pairs.select(col("doc_a").as("d"))
        .unionAll(pairs.select(col("doc_b").as("d"))).distinct().count()
      pairs.unpersist(blocking = false)
      val band = got.find(_._1 == (thr * 1e6).toLong).get
      assert((band._2, band._3) == (np, nd),
        s"band $thr must equal the detector run at $thr")
    }
  }
}
