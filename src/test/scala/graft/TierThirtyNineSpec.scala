package graft

import graft.operators.TierThirtyNine
import org.apache.spark.sql.functions._

/** Tier-39 differentials: both queries re-derived in memory from the
  * engine's own embed frame (centroid math, pairwise distances,
  * outlier ranking); metric/symmetry laws; plan gates.
  */
class TierThirtyNineSpec extends SparkSpec {

  private def embeds: Seq[(Long, String, Seq[Double])] = {
    // q112's embed via its own building blocks: collect (doc_id, source,
    // e0..e7) for docs with tokens
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val src = Tables.load(spark, sf, "documents").select("doc_id", "source")
    val vocab = operators.Cumulative.rowNumber(spark,
      docs.select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "").select("token").distinct(),
      Seq(col("token")), "tid")
    val out = operators.TierSixteen.hashEmbed(docs, vocab)
      .join(src, "doc_id")
      .select(col("doc_id") +: col("source") +:
        (0 until 8).map(k => col(s"e$k").cast("double")): _*)
      .collect().map(r => (r.getLong(0), r.getString(1),
        (2 until 10).map(r.getDouble))).toSeq
    out
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q162 drift matrix ≡ in-memory centroids; symmetric-complete; self-distance zero by metric") {
    val e = embeds
    val cents = e.groupBy(_._2).map { case (s, xs) =>
      s -> (0 until 8).map(k => xs.map(_._3(k)).sum / xs.size)
    }
    val srcs = cents.keySet.toSeq.sorted
    val expected = (for {
      a <- srcs; b <- srcs if a < b
      d = (0 until 8).map(k => (cents(a)(k) - cents(b)(k)) * (cents(a)(k) - cents(b)(k))).sum
    } yield (a, b, r6(d))).sortBy(x => (x._1, x._2))
    val got = TierThirtyNine.q162.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got.map(x => (x._1, x._2)) == expected.map(x => (x._1, x._2)))
    got.zip(expected).foreach { case ((_, _, d), (_, _, ed)) =>
      assert(math.abs(d - ed) < 2e-6, s"$d vs $ed") }
    assert(got.size == srcs.size * (srcs.size - 1) / 2, "every unordered source pair present")
    assert(got.forall(_._3 >= 0) && got.exists(_._3 > 0), "a metric, and sources actually differ")
  }

  test("q163 outliers ≡ in-memory ranking; distances are to the OWN source centroid") {
    val e = embeds
    val cents = e.groupBy(_._2).map { case (s, xs) =>
      s -> (0 until 8).map(k => xs.map(_._3(k)).sum / xs.size)
    }
    val scored = e.map { case (id, s, v) =>
      (id, s, r6((0 until 8).map(k => (v(k) - cents(s)(k)) * (v(k) - cents(s)(k))).sum))
    }
    val expected = scored.sortBy { case (id, _, d) => (-d, id) }.take(20)
    val got = TierThirtyNine.q163.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got.map(_._1) == expected.map(_._1))
    got.zip(expected).foreach { case ((_, _, d), (_, _, ed)) =>
      assert(math.abs(d - ed) < 2e-6, s"$d vs $ed") }
    assert(got.map(_._3) == got.map(_._3).sorted.reverse, "ranked farthest-first")
  }

  test("tier-39 plan gates: no CartesianProduct") {
    for (q <- TierThirtyNine.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
    operators.Release.sweep(spark)
  }
}
