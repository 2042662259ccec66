package graft

import graft.operators.{TierSeventyEight, TierSixtySix}
import org.apache.spark.sql.functions._

/** Tier-78 differentials: q235 against an in-memory RRF fold over the
  * two declared rank lists (plus fusion laws), q236 against an
  * in-memory four-level cube (plus the marginal-consistency law);
  * plan gates (q236's cube is ONE Expand, not four scans).
  */
class TierSeventyEightSpec extends SparkSpec {

  test("q235 RRF ≡ in-memory fold over the two rank lists; fusion laws") {
    val bm = TierSixtySix.bm25TopK(spark, sf, TierSixtySix.EvalTerms,
        TierSeventyEight.FuseK)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val tq = TierSeventyEight.ttrTopK(
        Tables.load(spark, sf, "documents"), TierSeventyEight.FuseK)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val bmR = bm.zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val tqR = tq.zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val expected = (bm ++ tq).distinct.map { id =>
      val (rb, rt) = (bmR.getOrElse(id, 0L), tqR.getOrElse(id, 0L))
      (id, rb, rt,
        (if (rb > 0) 1000000000L / (60 + rb) else 0L) +
          (if (rt > 0) 1000000000L / (60 + rt) else 0L))
    }.sortBy(t => (-t._4, t._1)).take(TierSeventyEight.FuseK)
    val got = TierSeventyEight.q235.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.size == TierSeventyEight.FuseK)
    // fusion laws: rrf non-increasing down the output; both single-run
    // docs and (if any overlap exists) dual-run docs are representable;
    // a doc on BOTH lists beats a doc holding only a WORSE single rank
    assert(got.map(_._4) == got.map(_._4).sorted.reverse)
    assert(got.exists(t => t._2 > 0 && t._3 == 0L) ||
      got.exists(t => t._2 == 0L && t._3 > 0),
      "fixture lists must not be identical")
    val dual = got.filter(t => t._2 > 0 && t._3 > 0)
    dual.foreach { t =>
      val single = got.filter(s => (s._2 == 0L) != (s._3 == 0L))
        .filter(s => math.max(s._2, s._3) >= math.max(t._2, t._3))
      single.foreach(s => assert(t._4 > s._4,
        s"dual-run doc ${t._1} must out-fuse single-run doc ${s._1}"))
    }
  }

  test("q236 calibration ≡ in-memory decile fold over q83 scores × q231's label") {
    val docs = Tables.load(spark, sf, "documents")
    val scores = operators.TierEleven.classifierScoresOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labels = operators.TierSeventySix.raterFlags(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val n = scores.size.toLong
    val ranked = scores.toSeq.sortBy { case (id, c) => (-c, id) }.zipWithIndex
    val expected = ranked
      .groupBy { case (_, i) => i.toLong * 10 / n }
      .toSeq.sortBy(_._1)
      .map { case (dec, xs) =>
        val cs = xs.map(_._1._2)
        val pos = xs.map(x => labels(x._1._1)).sum
        (dec, xs.size.toLong, cs.min, cs.max, pos, pos * 1000000L / xs.size)
      }
    val got = TierSeventyEight.q236.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
    // decile partition laws: ten bands, counts sum to the corpus, score
    // envelopes non-overlapping in rank order (hi of d+1 ≤ hi of d)
    assert(got.map(_._1) == (0L to 9L) && got.map(_._2).sum == n)
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(b._4 <= a._4, s"decile ${b._1} hi_c must not exceed decile ${a._1}'s")
    case _ => ()
    }
    // the calibration question is non-vacuous: the label rate VARIES
    // across score deciles (flat everywhere would make the audit mute)
    assert(got.map(_._6).distinct.size > 1, "pos_ppm must vary across deciles")
  }

  test("tier-78 plan gates: no CartesianProduct") {
    for (q <- TierSeventyEight.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
