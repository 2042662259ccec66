package graft

import graft.operators.{TierFiftyThree, TierNineteen}
import org.apache.spark.sql.functions._

/** Tier-53 differentials: q190 against an in-memory union-find + HHI
  * fold, q191 against a float variance/mean cross-check; concentration
  * and dispersion laws; plan gates.
  */
class TierFiftyThreeSpec extends SparkSpec {

  test("q190 concentration ≡ in-memory HHI; top-share bounds; concentration is real") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val pairs = TierNineteen.celledEmbedPairsOf(docs, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val toks = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").count(_.nonEmpty).toLong).toMap
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val parent = scala.collection.mutable.Map(nodes.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // .toSeq BEFORE the re-keying map — mapping a Map to (size, mass)
    // tuples silently collapses clusters with equal shapes (the q148
    // LPA-spec bug class)
    val mass = nodes.groupBy(find).toSeq.map { case (_, xs) =>
      (xs.size.toLong, xs.map(toks).sum) }
    val tot = mass.map(_._2).sum
    val expected = (mass.size.toLong, mass.map(_._1).sum, tot,
      mass.map(m => BigInt(m._2) * m._2 * 1000000).sum / (BigInt(tot) * tot),
      mass.map(_._2).max * 1000000 / tot)
    val got = TierFiftyThree.q190.run(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).head
    assert(got == ((expected._1, expected._2, expected._3,
      expected._4.toLong, expected._5)))
    // laws: 1e6/k ≤ HHI ≤ top share ≤ 1e6 (Σsh² ≤ max·Σsh = max share),
    // and the fixture is genuinely concentrated (top family > even split)
    assert(got._4 >= 1000000L / got._1 && got._4 <= got._5 && got._5 <= 1000000L)
    assert(got._5 > 2 * (1000000L / got._1),
      s"top family share ${got._5} must beat an even split (k=${got._1})")
  }

  test("q191 dispersion ≡ float Fano cross-check; both flag states live") {
    val dc = Tables.load(spark, sf, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("d"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val got = TierFiftyThree.q191.run(spark, sf).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    for ((et, xs) <- dc.groupBy(_._1)) {
      val n = xs.size.toDouble
      val mean = xs.map(_._3).sum / n
      val varPop = xs.map(x => (x._3 - mean) * (x._3 - mean)).sum / n
      val fano = varPop / mean
      val row = got.find(_._1 == et).get
      assert(row._2 == xs.size && row._3 == xs.map(_._3).sum)
      // the integer ppm is the floor of the float Fano (exact arithmetic)
      assert(math.abs(row._4 - fano * 1000000).toDouble <= 1.0 + 1e-6,
        s"$et: integer fano ${row._4} vs float ${fano * 1000000}")
      assert(row._5 == (if (row._4 > 1000000L) 1L else 0L))
    }
    assert(got.exists(_._5 == 1L) && got.exists(_._5 == 0L),
      "fixture must carry both bursty and regular event types")
  }

  test("tier-53 plan gates: no CartesianProduct") {
    for (q <- TierFiftyThree.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
    operators.Release.sweep(spark)
  }
}
