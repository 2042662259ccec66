package graft

import graft.operators.TierNinetyEight
import org.apache.spark.sql.functions._

/** Tier-98 differentials: q275 against an in-memory rank replay (plus
  * the closure laws), q276 against an in-memory 2×2 fold (plus the
  * symmetry and no-flip laws).
  */
class TierNinetyEightSpec extends SparkSpec {
  import spark.implicits._

  test("q275 ≡ in-memory Lorenz decile replay; closure laws") {
    val ev = Tables.load(spark, sf, "events")
    val rows = ev.select("user_id").distinct()
      .join(ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(sum(floor(col("value") * 100)).as("c")),
        Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("c"), lit(0L)).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sorted = rows.sortBy(x => (x._2, x._1))
    val n = sorted.length.toLong
    val total = sorted.map(_._2).sum
    val expected = sorted.zipWithIndex.map { case ((_, c), i) =>
      ((10 * (i + 1) + n - 1) / n, c)
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (d, cs) =>
      val cumThrough = sorted.take(
        sorted.zipWithIndex.filter { case (_, i) =>
          (10 * (i + 1) + n - 1) / n <= d }.size).map(_._2).sum
      (d, cs.size.toLong, cs.map(_._2).sum, 1000000L * cumThrough / total)
    }
    val got = TierNinetyEight.q275.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, s"got $got")
    // closure: decile user counts sum to n, masses to total, the last
    // cumulative share is exactly 10⁶, shares are monotone
    assert(got.map(_._2).sum == n && got.map(_._3).sum == total)
    assert(got.last._4 == 1000000L)
    assert(got.map(_._4) == got.map(_._4).sorted)
    // the fixture is genuinely concentrated: bottom decile below 10 %
    assert(got.head._4 < 100000L, "fixture must show concentration")
  }

  test("q276 ≡ in-memory paired fold; swap symmetry; no-flip sentinel") {
    val got = TierNinetyEight.q276.run(spark, sf).collect().head
    val flags = TierNinetyEight.halfFlags(Tables.load(spark, sf, "events"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val n11 = flags.count(f => f._1 == 1 && f._2 == 1).toLong
    val b = flags.count(f => f._1 == 1 && f._2 == 0).toLong
    val c = flags.count(f => f._1 == 0 && f._2 == 1).toLong
    val n00 = flags.count(f => f._1 == 0 && f._2 == 0).toLong
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
      == ((n11, b, c, n00)))
    assert(got.getLong(4) ==
      (if (b + c == 0) -1L else (b - c) * (b - c) * 1000000L / (b + c)))
    assert(n11 + b + c + n00 == flags.length.toLong)
    // swapping the halves leaves chi2 invariant ((b−c)² symmetric)
    val swapped = TierNinetyEight.mcnemarOver(
      flags.toSeq.map { case (h1, h2) => (0L, h2, h1) }
        .toDF("user_id", "h1", "h2")).collect().head
    assert(swapped.getLong(4) == got.getLong(4)
      && swapped.getLong(1) == c && swapped.getLong(2) == b)
    // nobody flips → the declared sentinel
    val still = Seq((1L, 1L, 1L), (2L, 0L, 0L)).toDF("user_id", "h1", "h2")
    assert(TierNinetyEight.mcnemarOver(still).collect().head.getLong(4) == -1L)
  }
}
