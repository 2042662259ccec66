package graft

import graft.operators.{TierNine, TierThirtySix, TierThirtyThree}
import org.apache.spark.sql.functions._

/** Tier-36 differentials: q156 replicated in memory from the engine's
  * own cells/codebooks (cell prune → ADC shortlist → exact re-rank),
  * q157 against brute-force shingle-set containment; structural laws;
  * plan gates.
  */
class TierThirtySixSpec extends SparkSpec {

  test("q156 IVF-PQ ≡ in-memory cell-prune + ADC + re-rank; outputs stay in the probed cell") {
    val vecs = TierNine.embOf(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val cells = TierNine.assignTo(TierNine.embOf(spark, sf),
        TierNine.lloydCentroids(spark, sf)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val books = (0 until 4).map { m =>
      TierThirtyThree.codebook(spark, sf, m).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    }
    def l2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val q = vecs(0L)
    val members = cells.collect {
      case (id, c) if c == cells(0L) && id != 0L => id }.toSeq
    val adc = members.map { id =>
      val t = (0 until 4).map { m =>
        val sub = vecs(id).slice(m * 16, (m + 1) * 16)
        val code = books(m).toSeq.map { case (cid, c) => (l2(sub, c), cid) }.min._2
        l2(q.slice(m * 16, (m + 1) * 16), books(m)(code))
      }
      (id, r6(t(0) + t(1) + t(2) + t(3)))
    }
    val short = adc.sortBy { case (id, a) => (a, id) }.take(50).map(_._1)
    val expected = short.map(id => (id, r6(l2(vecs(id), q))))
      .sortBy { case (id, d) => (d, id) }.take(10)
    val got = TierThirtySix.q156.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == expected.map(_._1))
    got.zip(expected).foreach { case ((_, d), (_, e)) =>
      assert(math.abs(d - e) < 2e-6, s"dist $d vs $e") }
    assert(got.forall(x => cells(x._1) == cells(0L)),
      "every result must live in the probed cell")
    // the in-cell exact top-10 is what the shortlist can at best recover
    val cellTop = members.map(id => (l2(vecs(id), q), id)).sorted.take(10).map(_._2).toSet
    val recall = got.map(_._1).count(cellTop) / 10.0
    assert(recall >= 0.7, s"in-cell recall@10 $recall below the 0.7 floor")
  }

  test("q157 containment ≡ brute-force shingle sets; exact dups hit 1e6; screen is directional") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val sets = docs.map { case (id, t) =>
      val l = t.split(" ").filter(_.nonEmpty)
      id -> (if (l.length >= 8) l.sliding(8).map(_.mkString(" ")).toSet
             else Set.empty[String])
    }.filter(_._2.nonEmpty).toMap
    val expected = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a != b
      inter = (sa & sb).size if inter > 0
      ppm = inter.toLong * 1000000 / sa.size if ppm >= 500000
    } yield (a, b, ppm)).sortBy(x => (x._1, x._2))
    val got = TierThirtySix.q157.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.forall(x => x._3 >= 500000L && x._3 <= 1000000L))
    assert(got.exists(_._3 == 1000000L), "full containment must appear on the fixture")
  }

  test("tier-36 plan gates: no CartesianProduct") {
    for (q <- TierThirtySix.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
