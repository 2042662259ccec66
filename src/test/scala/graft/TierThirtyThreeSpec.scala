package graft

import graft.operators.TierThirtyThree
import org.apache.spark.sql.functions._

/** Tier-33 differentials: q150's codes re-derived in memory from the
  * engine's own codebooks (checks assignment independently of the
  * trainer, which IvfStoreSpec pins); q151's distances re-computed from
  * raw vectors, plus the recall floor that justifies the two-stage
  * shape; plan gates.
  */
class TierThirtyThreeSpec extends SparkSpec {

  private val SubDim = 16

  private def raw: Map[Long, Seq[Double]] =
    operators.TierNine.embOf(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

  private def books: Seq[Map[Long, Seq[Double]]] =
    (0 until 4).map { m =>
      operators.TierThirtyThree.codebook(spark, sf, m).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    }

  private def l2(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  test("q150 codes ≡ in-memory nearest-codeword assignment; in range; non-degenerate") {
    val vecs = raw
    val cbs = books
    val got = TierThirtyThree.q150.run(spark, sf).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    assert(got.size == vecs.size, "every vector is encoded")
    for ((id, e) <- vecs; m <- 0 until 4) {
      val sub = e.slice(m * SubDim, (m + 1) * SubDim)
      val best = cbs(m).toSeq.map { case (cid, c) => (l2(sub, c), cid) }.min._2
      assert(got(id)(m) == best, s"vec $id subspace $m: ${got(id)(m)} != $best")
    }
    for (m <- 0 until 4)
      assert(got.values.map(_(m)).toSet.size > 1, s"subspace $m must use > 1 codeword")
    assert(got.values.flatten.forall(c => c >= 0 && c < 8), "codes in [0, 8)")
  }

  test("q151 re-ranked distances are the EXACT distances; recall ≥ 0.7 where raw ADC@10 fails") {
    val vecs = raw
    val q = vecs(0L)
    val got = TierThirtyThree.q151.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.size == 10)
    for ((id, d) <- got) {
      val exact = BigDecimal(l2(vecs(id), q))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(d - exact) < 2e-6,
        s"vec $id: output dist $d must be its exact distance $exact")
    }
    val trueTop = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, e) => (l2(e, q), id) }.sorted.take(10).map(_._2).toSet
    val recall = got.map(_._1).count(trueTop) / 10.0
    assert(recall >= 0.7, s"re-ranked recall@10 $recall below the 0.7 floor")
    // the two-stage shape is what earns that recall: the shortlist is
    // 100 of ${vecs.size}, not the corpus
    assert(got.map(_._2) == got.map(_._2).sorted, "output ordered by distance")
  }

  test("tier-33 plan gates: no CartesianProduct") {
    for (q <- TierThirtyThree.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
