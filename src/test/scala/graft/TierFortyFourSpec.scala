package graft

import graft.operators.TierFortyFour
import org.apache.spark.sql.functions._

/** Tier-44 differentials: both reports re-derived from in-memory
  * (user, period) sets; the growth-accounting partition identity and
  * stickiness bounds; plan gates.
  */
class TierFortyFourSpec extends SparkSpec {

  private def userPeriods(unitMs: Long): Seq[(Long, Long)] =
    Tables.load(spark, sf, "events")
      .select(col("user_id"),
        expr(s"unix_millis(cast(ts as timestamp)) div $unitMs").as("p"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("q172 growth accounting ≡ in-memory sets; new+retained+resurrected = WAU; churn booked") {
    val uw = userPeriods(7L * 86400000)
    val byWeek = uw.groupBy(_._2).map { case (w, xs) => w -> xs.map(_._1).toSet }
    val firstWk = uw.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).min }
    val weeks = byWeek.keySet.toSeq.sorted
    val expected = weeks.map { w =>
      val cur = byWeek(w)
      val prev = byWeek.getOrElse(w - 1, Set.empty[Long])
      (w,
        cur.count(firstWk(_) == w).toLong,
        cur.count(u => prev(u) && firstWk(u) < w).toLong,
        cur.count(u => !prev(u) && firstWk(u) < w).toLong,
        prev.count(!cur(_)).toLong)
    }
    val got = TierFortyFour.q172.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    for ((w, nNew, ret, res, _) <- got)
      assert(nNew + ret + res == byWeek(w).size, s"week $w must partition its WAU")
    assert(got.head._2 == byWeek(weeks.head).size, "week one is all new users")
    assert(got.map(_._2).sum == firstWk.size, "every user is new exactly once")
  }

  test("q173 stickiness ≡ in-memory window sets; DAU ≤ MAU; ppm in (0, 1e6]") {
    val du = userPeriods(86400000).map { case (u, d) => (u, d) } // day via ms ≡ µs div
    val days = du.map(_._2).distinct.sorted
    val expected = days.map { d =>
      val dau = du.filter(_._2 == d).map(_._1).distinct.size.toLong
      val mau = du.filter(x => x._2 >= d - 29 && x._2 <= d).map(_._1).distinct.size.toLong
      (d, dau, mau, dau * 1000000 / mau)
    }
    val got = TierFortyFour.q173.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.forall(x => x._2 <= x._3), "DAU never exceeds MAU")
    assert(got.forall(x => x._4 > 0 && x._4 <= 1000000L))
    // MAU only accumulates across this 30-day fixture, so the ratio
    // tightens: the last day's MAU must be the full active base
    assert(got.last._3 == du.map(_._1).distinct.size)
  }

  test("tier-44 plan gates: no CartesianProduct beyond the pinned |weeks| broadcast") {
    for (q <- TierFortyFour.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
