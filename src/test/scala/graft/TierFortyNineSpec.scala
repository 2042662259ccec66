package graft

import graft.operators.TierFortyNine
import org.apache.spark.sql.functions._

/** Tier-49 differentials: q182 against brute-force set confidence, q183
  * against a direct lag-7 fold; asymmetry and bound laws; plan gates.
  */
class TierFortyNineSpec extends SparkSpec {

  test("q182 rules ≡ brute force; confidence bounded; the relation is genuinely directional") {
    val cs = Tables.load(spark, sf, "orders").as("o")
      .join(Tables.load(spark, sf, "lineitem").as("l"),
        col("l.l_orderkey") === col("o.o_orderkey"))
      .select(col("o.o_custkey"), col("l.l_suppkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val buyers = cs.groupBy(_._2).map { case (su, xs) => su -> xs.map(_._1) }
    val all = for {
      (a, ba) <- buyers.toSeq; (b, bb) <- buyers.toSeq if a != b
      both = (ba & bb).size.toLong if both >= 10
    } yield (a, b, both, both * 1000000 / ba.size)
    val expected = all.sortBy { case (a, b, sup, conf) => (-conf, -sup, a, b) }.take(20)
    val got = TierFortyNine.q182.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.forall(x => x._4 > 0 && x._4 <= 1000000L))
    // directionality: confidence(a→b) ≠ confidence(b→a) somewhere in
    // the FULL rule set (degree asymmetry makes this structural)
    val conf = all.map(x => (x._1, x._2) -> x._4).toMap
    assert(all.exists(x => conf.get((x._2, x._1)).exists(_ != x._4)),
      "confidence must be asymmetric for the directional form to matter")
  }

  test("q183 forecast error ≡ direct lag-7 fold; day counts right; error bounded below by zero") {
    val dc = Tables.load(spark, sf, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("d"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val byType = dc.groupBy(_._1)
    val expected = byType.toSeq.sortBy(_._1).map { case (et, xs) =>
      val m = xs.map(x => x._2 -> x._3).toMap
      val pairs = xs.flatMap(x => m.get(x._2 - 7).map(f => (x._3, f)))
      val errSum = pairs.map { case (a, f) => math.abs(a - f) }.sum
      (et, pairs.size.toLong, errSum, errSum * 1000000 / pairs.map(_._1).sum)
    }
    val got = TierFortyNine.q183.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // 30 contiguous days ⇒ 23 forecastable days per type
    assert(got.forall(_._2 == 23L), s"lag-7 over 30 days leaves 23 scored days: $got")
    assert(got.forall(_._3 >= 0) && got.exists(_._3 > 0),
      "the naive baseline must be imperfect somewhere")
  }

  test("tier-49 plan gates: no CartesianProduct") {
    for (q <- TierFortyNine.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
