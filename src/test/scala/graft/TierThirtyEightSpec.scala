package graft

import graft.operators.{TierThirtyEight, TierThirtyTwo}
import org.apache.spark.sql.functions._

/** Tier-38 differentials: q160 against direct per-day set unions, q161
  * against an in-memory median/MAD fold plus the robustness cross-law
  * against q149's z-score; plan gates.
  */
class TierThirtyEightSpec extends SparkSpec {

  private def userDays: Seq[(Long, Long)] =
    Tables.load(spark, sf, "events")
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("q160 rolling distinct ≡ direct window unions; monotone vs daily; capped by users") {
    val ud = userDays
    val days = ud.map(_._2).distinct.sorted
    val expected = days.map { d =>
      (d, ud.filter(x => x._2 >= d - 6 && x._2 <= d).map(_._1).distinct.size.toLong)
    }
    val got = TierThirtyEight.q160.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    val daily = ud.groupBy(_._2).map { case (d, xs) => d -> xs.map(_._1).distinct.size }
    assert(got.forall { case (d, a) => a >= daily(d) },
      "a 7-day window can never hold fewer users than its last day")
    val users = ud.map(_._1).distinct.size
    assert(got.forall(_._2 <= users))
  }

  test("q161 MAD ≡ in-memory fold; robust where the z-score self-masks") {
    val dc = Tables.load(spark, sf, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("d"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def medOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val expected = dc.groupBy(_._1).toSeq.flatMap { case (et, xs) =>
      val med = medOf(xs.map(_._3.toDouble))
      val mad = medOf(xs.map(x => math.abs(x._3 - med)))
      xs.filter(x => math.abs(x._3 - med) > 3 * mad).map(x => (et, x._2, x._3))
    }.sortBy(x => (x._1, x._2))
    val got = TierThirtyEight.q161.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.size < dc.size)
    // cross-law vs q149: both tripwires exist because they disagree —
    // on this fixture each flags something, and the flag SETS differ
    // (an extreme day shifts the mean+σ toward itself; the median/MAD
    // barely move), or at minimum both stay non-empty subsets
    val z = TierThirtyTwo.q149.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(z.nonEmpty, "the z tripwire must also fire on this fixture")
  }

  test("tier-38 plan gates: no CartesianProduct") {
    for (q <- TierThirtyEight.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
