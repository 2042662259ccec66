package graft

import graft.operators.{TierFortyFive, TierThirtyTwo}
import org.apache.spark.sql.functions._

/** Tier-45 differentials: both re-derived from the in-memory (type,
  * day) grid; share conservation, the z² ≤ n−1 bound argument, and the
  * stratified-vs-flat cross-law; plan gates.
  */
class TierFortyFiveSpec extends SparkSpec {

  private def grid: Seq[(String, Long, Long)] =
    Tables.load(spark, sf, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("d"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  test("q174 profile ≡ in-memory fold; shares nearly conserve; all seven weekdays present") {
    val dc = grid
    val expected = dc.groupBy(x => (x._1, (x._2 + 4) % 7)).toSeq
      .map { case ((et, dow), xs) => (et, dow, xs.map(_._3).sum) }
      .groupBy(_._1).toSeq.flatMap { case (et, rows) =>
        val tot = rows.map(_._3).sum
        rows.map { case (_, dow, s) => (et, dow, s, s * 1000000 / tot) }
      }.sortBy(x => (x._1, x._2))
    val got = TierFortyFive.q174.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    for ((et, rows) <- got.groupBy(_._1)) {
      assert(rows.map(_._2).toSet == (0L to 6L).toSet, s"$et must cover all weekdays")
      val sum = rows.map(_._4).sum
      assert(sum > 1000000 - 7 && sum <= 1000000, // floor loses < 1 ppm per cell
        s"$et shares must sum to 1e6 minus flooring, got $sum")
    }
  }

  test("q175 stratified flags ≡ in-memory; k=2 provably cannot fire at n≤4; differs from flat q149") {
    val dc = grid
    val expected = dc.groupBy(x => (x._1, (x._2 + 4) % 7)).toSeq.flatMap { case (_, xs) =>
      val n = xs.size.toLong
      val s = xs.map(_._3).sum
      val ss = xs.map(x => x._3 * x._3).sum
      xs.filter(x => 4 * (n * x._3 - s) * (n * x._3 - s) > 9 * (n * ss - s * s))
    }.sortBy(x => (x._1, x._2))
    val got = TierFortyFive.q175.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.size < dc.size)
    // the z² ≤ n−1 bound: at k=2 no stratum of n ≤ 4 can EVER flag —
    // verified directly on every stratum of this fixture
    for ((_, xs) <- dc.groupBy(x => (x._1, (x._2 + 4) % 7)) if xs.size <= 4) {
      val n = xs.size.toLong
      val s = xs.map(_._3).sum
      val ss = xs.map(x => x._3 * x._3).sum
      assert(xs.forall(x => (n * x._3 - s) * (n * x._3 - s) <= 4 * (n * ss - s * s)),
        "a 2-sigma flag inside an n<=4 stratum would violate the z^2 <= n-1 bound")
    }
    // the point of stratifying: the flag set differs from the flat q149's
    val flat = TierThirtyTwo.q149.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.toSet != flat, "seasonality adjustment must change what fires")
  }

  test("tier-45 plan gates: no CartesianProduct") {
    for (q <- TierFortyFive.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
