package graft

import graft.operators.TierEightyTwo
import org.apache.spark.sql.functions._

/** Tier-82 differentials: q243 against an in-memory total-variation
  * recompute over the collected corpus, q244 against an in-memory
  * first-digit fold — plus both flags' state coverage (a threshold
  * that can only ever fire, or never fire, audits nothing).
  */
class TierEightyTwoSpec extends SparkSpec {

  test("q243 t-closeness ≡ in-memory TV recompute; both flag states; triad ordering") {
    val rows = Tables.load(spark, sf, "documents")
      .select(col("lang"), col("text"), col("source")).collect()
      .map(r => ((r.getString(0), r.getString(1).length.toLong / 50), r.getString(2)))
    val n = rows.length.toLong
    val cs = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expected = rows.groupBy(_._1).map { case ((lang, cb), grpRows) =>
      val ng = grpRows.length.toLong
      val cells = grpRows.groupBy(_._2).view.mapValues(_.length.toLong)
      val ts = cs.map { case (src, c) =>
        math.abs(cells.getOrElse(src, 0L) * n - c * ng)
      }.sum
      val tv = ts * 1000000L / (2 * ng * n)
      val leaky = if (ts * 1000000L > TierEightyTwo.TvThrPpm * (2 * ng * n)) 1L else 0L
      (lang, cb) -> (ng, tv, leaky)
    }
    val got = TierEightyTwo.q243.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected, "q243 must equal the in-memory TV recompute")
    assert(got.values.forall(v => v._2 >= 0 && v._2 <= 1000000L),
      "TV is a distance in [0, 1]")
    assert(got.values.exists(_._3 == 1L) && got.values.exists(_._3 == 0L),
      "both leaky states must live on the fixture")
    // the triad's point: some group passes size (k-anonymity territory)
    // yet leaks mix — a LARGE leaky group exists
    assert(got.values.exists(v => v._1 >= 5 && v._3 == 1L),
      "a non-tiny group must still leak (what k-anonymity alone misses)")
  }

  test("q244 Benford audit ≡ in-memory digit fold; both deviant states; expectations sane") {
    // the literal table: shares sum to ~10^6 and decrease in d
    val exp = TierEightyTwo.BenfordExp.toMap
    assert(math.abs(exp.values.sum - 1000000L) <= 3, s"Benford shares must sum to 1: $exp")
    assert(exp.toSeq.sortBy(_._1).map(_._2) ==
      exp.toSeq.sortBy(_._1).map(_._2).sorted.reverse)
    val prices = Tables.load(spark, sf, "orders")
      .filter(col("o_totalprice") > 0).select("o_totalprice").collect()
      .map(r => math.floor(r.getDouble(0)).toLong)
    val byDig = prices.groupBy(_.toString.head.asDigit.toLong)
      .view.mapValues(_.length.toLong).toMap
    val tot = byDig.values.sum
    val expected = (1L to 9L).map { d =>
      val nd = byDig.getOrElse(d, 0L)
      val obs = nd * 1000000L / tot
      val dev = math.abs(obs - exp(d))
      (d, nd, obs, exp(d), dev, if (dev > TierEightyTwo.DevThrPpm) 1L else 0L)
    }
    val got = TierEightyTwo.q244.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, "q244 must equal the in-memory digit fold")
    assert(got.exists(_._6 == 1L) && got.exists(_._6 == 0L),
      "both deviant states must live on the fixture")
    assert(got.map(_._2).sum == tot && tot > 0)
  }
}
