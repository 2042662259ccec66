package graft

import graft.operators.{TierEighty, TierNineteen, TierSixtySix}
import org.apache.spark.sql.functions._

/** Tier-80 differentials: q239 against an in-memory lift fold over the
  * collected feedback set (plus ranking and exclusion laws), q240
  * against the mod-filtered celled pair set (plus the erasure-gap
  * non-vacuity and side-correctness laws); plan gates.
  */
class TierEightySpec extends SparkSpec {

  test("q239 PRF expansion ≡ in-memory lift fold over the BM25 feedback set") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val fb = TierSixtySix.bm25TopK(spark, sf, TierSixtySix.EvalTerms, TierEighty.FbK)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dt = docs.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).distinct.map(tok => (id, tok))
    }
    val n = docs.size.toLong
    val nf = fb.size.toLong
    val dfc = dt.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
    val dffb = dt.filter(x => fb(x._1)).groupBy(_._2)
      .map { case (t, xs) => t -> xs.size.toLong }
    val expected = dffb.toSeq
      .filterNot(x => TierSixtySix.EvalTerms.contains(x._1))
      .map { case (t, dfb) => (t, dfb, dfc(t), dfb * n * 1000000L / (dfc(t) * nf)) }
      .sortBy(x => (-x._4, x._1)).take(TierEighty.ExpandK)
    val got = TierEighty.q239.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.size == TierEighty.ExpandK)
    // expansion laws: no query term re-emitted; the TOP candidate is
    // feedback-ENRICHED (lift > 10⁶ — the multi-term BM25 feedback set
    // dilutes lower ranks toward 1 on this 31-token vocabulary, so only
    // rank 1 is floored)
    assert(got.forall(g => !TierSixtySix.EvalTerms.contains(g._1)))
    assert(got.head._4 > 1000000L,
      "the top expansion candidate must be feedback-enriched (lift > 1)")
    assert(got.forall(_._4 > 0L))
  }

  test("q240 erasure audit ≡ mod-filtered celled pairs; gap non-vacuous; sides correct") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val pairs = TierNineteen.celledEmbedPairsOf(docs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def del(id: Long) = id % TierEighty.EraseMod == 0
    val expected = pairs.filter(p => del(p._1) != del(p._2))
      .map { case (a, b, c) =>
        val r = BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (del(a)) (a, b, r) else (b, a, r)
      }.sortBy(x => (x._1, x._2))
    val got = TierEighty.q240.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(x => (x._1, x._2)) == expected.map(x => (x._1, x._2)))
    got.map(_._3).zip(expected.map(_._3)).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-6)
    }
    // the right-to-be-forgotten GAP is real on this corpus: at least one
    // deleted doc leaves a surviving semantic twin behind
    assert(got.nonEmpty, "fixture must exhibit a surviving-twin erasure gap")
    got.foreach { case (d, s0, _) =>
      assert(del(d), s"deleted_doc $d must be on the erasure list")
      assert(!del(s0), s"surviving_twin $s0 must NOT be on the erasure list")
    }
  }

  test("tier-80 plan gates: no CartesianProduct; q239 top-k is TakeOrdered") {
    for (q <- TierEighty.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
    val p239 = TierEighty.q239.run(spark, sf).queryExecution.executedPlan.toString
    assert(p239.contains("TakeOrderedAndProject"), s"q239: ${p239.take(400)}")
  }
}
