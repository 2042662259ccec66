package graft

import graft.operators.TierThirtyOne
import org.apache.spark.sql.functions._

/** Tier-31 differentials: q146 against a brute-force in-memory
  * projection, q147 against direct point-evaluation of the concurrency
  * function (no sweep — counts intervals covering each candidate
  * instant); structural laws; plan gates.
  */
class TierThirtyOneSpec extends SparkSpec {

  private val DayUs = 86400000000L

  test("q146 co-purchase projection ≡ brute force; ordered pairs; bounded by customer count") {
    val cs = Tables.load(spark, sf, "orders").as("o")
      .join(Tables.load(spark, sf, "lineitem").as("l"),
        col("l.l_orderkey") === col("o.o_orderkey"))
      .select(col("o.o_custkey").as("c"), col("l.l_suppkey").as("su"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bySupp = cs.groupBy(_._2).map { case (su, xs) => su -> xs.map(_._1).toSet }
    val pairs = for {
      (a, ca) <- bySupp.toSeq; (b, cb) <- bySupp.toSeq if a < b
      shared = (ca & cb).size if shared > 0
    } yield (a, b, shared.toLong)
    val expected = pairs.sortBy { case (a, b, n) => (-n, a, b) }.take(20)
    val got = TierThirtyOne.q146.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.forall { case (a, b, _) => a < b })
    val nCust = cs.map(_._1).size
    assert(got.forall(_._3 <= nCust), "shared count is bounded by the customer universe")
  }

  test("q147 peak concurrency ≡ point evaluation; every event day present with peak ≥ 1") {
    // sessions re-derived independently: per-user sorted event times,
    // 6h-gap islands, closed [first, last] intervals
    val evs = Tables.load(spark, sf, "events")
      .select(col("user_id"), expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val GapUs = 6L * 3600 * 1000000
    val sessions = evs.groupBy(_._1).values.flatMap { us =>
      val ts = us.map(_._2).sorted
      val islands = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
        if (t - acc.head.head >= GapUs) List(t) :: acc
        else (t :: acc.head) :: acc.tail
      }
      islands.map(i => (i.last, i.head)) // (min, max): islands built reversed
    }.toSeq
    val evDays = evs.map(_._2 / DayUs).distinct.sorted
    // candidate instants: the only places N(t) can change, plus each
    // day's carry-in probe at its first microsecond
    val instants =
      (sessions.map(_._1) ++ sessions.map(_._2 + 1) ++ evDays.map(_ * DayUs)).distinct
    def conc(t: Long): Long = sessions.count { case (s, e) => s <= t && t <= e }.toLong
    val expected = evDays.map { d =>
      (d, instants.filter(t => t / DayUs == d).map(conc).max)
    }
    val got = TierThirtyOne.q147.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    assert(got.map(_._1) == evDays, "output days = the event-day set exactly")
    assert(got.forall(_._2 >= 1), "a day with an event has a session active at it")
    val users = evs.map(_._1).distinct.size
    assert(got.forall(_._2 <= users), "peak is bounded by the user universe")
  }

  test("tier-31 plan gates: no CartesianProduct; q147 prefix sum is two-pass, not a global Window") {
    for (q <- TierThirtyOne.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
      if (q.name.contains("concurrency"))
        assert(!plan.contains("SinglePartition"),
          s"${q.name} must not fold through a SinglePartition exchange: ${plan.take(800)}")
    }
  }
}
