package graft

import graft.operators.TierFortyTwo
import org.apache.spark.sql.functions._

/** Tier-42 differentials: q168 against an in-memory sessionize-and-rank
  * fold, q169 against a BigInt Lorenz/Gini fold; invariance and bounds
  * laws; plan gates.
  */
class TierFortyTwoSpec extends SparkSpec {

  test("q168 intense sessions ≡ in-memory rank; rates positive; top-k is the true max prefix") {
    val GapUs = 6L * 3600 * 1000000
    val evs = Tables.load(spark, sf, "events")
      .select(col("user_id"), expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val sessions = evs.groupBy(_._1).toSeq.flatMap { case (u, xs) =>
      val ts = xs.map(_._2).sorted
      val islands = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
        if (t - acc.head.head >= GapUs) List(t) :: acc
        else (t :: acc.head) :: acc.tail
      }
      islands.map(i => (u, i.last, i.size.toLong, i.head - i.last)) // (user, start, n, dur)
    }
    val expected = sessions.filter(_._3 >= 3)
      .map { case (u, s, n, dur) => (u, s, n, n * 3600000000L * 1000 / math.max(dur, 1)) }
      .sortBy { case (u, s, _, r) => (-r, u, s) }.take(20)
    val got = TierFortyTwo.q168.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.forall(_._4 > 0))
    assert(got.map(_._4) == got.map(_._4).sorted.reverse, "ranked by rate descending")
  }

  test("q169 Gini ≡ BigInt Lorenz fold; bounds hold; top decile beats its uniform share") {
    val rev = Tables.load(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(sum(floor(col("value") * 100).cast("long")).as("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val xs = rev.sortBy(x => (x._2, x._1)).map(_._2)
    val n = BigInt(xs.size)
    val s = xs.map(BigInt(_)).sum
    val g = xs.zipWithIndex.map { case (x, i0) =>
      (BigInt(2) * (i0 + 1) - n - 1) * x }.sum
    val topd = xs.drop(xs.size - xs.size / 10).map(BigInt(_)).sum
    val expected = (n.toLong, s.toLong,
      (BigInt(1000000) * g / (n * s)).toLong,
      (BigInt(1000000) * topd / s).toLong)
    val got = TierFortyTwo.q169.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).head
    assert(got == expected)
    assert(got._3 >= 0 && got._3 < 1000000, "Gini lives in [0, 1)")
    assert(got._4 >= 1000000 / 10,
      "the top decile holds at least its uniform share by construction")
  }

  test("q169 DECIMAL dispatch: the Int64 Lorenz fold wraps at the boundary; decimal stays exact (r10 VERDICT #7)") {
    import spark.implicits._
    // 100 whales at i·10¹⁴ cents: Σx ≈ 5·10¹⁷ (inside Int64) but the
    // Lorenz fold Σ(2i−n−1)·x ≈ 1.7·10¹⁹ EXCEEDS Long.MaxValue — the
    // documented ~10⁷-user envelope, reproduced at n=100 by raising x̄
    val xs = (1 to 100).map(i => (i.toLong, i.toLong * 100000000000000L))
    val rev = xs.toDF("user_id", "x")
    val n = BigInt(100)
    val s = xs.map(x => BigInt(x._2)).sum
    val g = xs.sortBy(x => (x._2, x._1)).zipWithIndex
      .map { case ((_, x), i0) => (BigInt(2) * (i0 + 1) - n - 1) * BigInt(x) }.sum
    assert(g > BigInt(Long.MaxValue), "the fixture must genuinely wrap the Int64 fold")
    val expectedPpm = (BigInt(1000000) * g / (n * s)).toLong
    spark.conf.set("spark.graft.giniDecimal", "true")
    try {
      val got = TierFortyTwo.giniOver(rev).collect()(0)
      assert(got.getLong(0) == 100L && got.getLong(1) == s.toLong)
      assert(got.getLong(2) == expectedPpm,
        s"decimal path must be exact: got ${got.getLong(2)}, want $expectedPpm")
    } finally spark.conf.unset("spark.graft.giniDecimal")
    // the default Int64 path fails LOUDLY here (ANSI long-overflow — no
    // silent wrap): the dispatch is load-bearing, not decorative
    val ex = intercept[Exception] {
      TierFortyTwo.giniOver(rev).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("overflow"),
      s"the Int64 fold must overflow loudly on this fixture: ${ex.getMessage.take(200)}")
  }

  test("tier-42 plan gates: no CartesianProduct; q169's rank is two-pass") {
    for (q <- TierFortyTwo.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
