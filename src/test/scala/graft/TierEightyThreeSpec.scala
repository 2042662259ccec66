package graft

import graft.operators.TierEightyThree
import org.apache.spark.sql.functions._

/** Tier-83 differentials: q245/q246 against in-memory recomputes of the
  * frozen-mean dependence folds over the collected daily-count grid.
  */
class TierEightyThreeSpec extends SparkSpec {

  private def grid: Map[String, Seq[(Long, Long)]] =
    Tables.load(spark, sf, "events")
      .select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("d"))
      .groupBy("event_type", "d").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1).toSeq).toMap

  private def devs(s: Seq[(Long, Long)]): Map[Long, Long] = {
    val n = s.size.toLong
    val sum = s.map(_._2).sum
    s.map { case (d, c) => d -> (c * n - sum) }.toMap
  }

  test("q245 ACF ≡ in-memory frozen-mean fold; both signs live; bounded") {
    val g = grid
    val expected = g.toSeq.flatMap { case (t, series) =>
      val dv = devs(series)
      val den = dv.values.map(v => v * v).sum
      (1 to TierEightyThree.AcfMaxLag).map { k =>
        val pairs = dv.keys.toSeq.filter(d => dv.contains(d + k)).sorted
        val num = pairs.map(d => dv(d) * dv(d + k)).sum
        (t, k.toLong, pairs.size.toLong, num * 1000000L / den)
      }
    }.sortBy(r => (r._1, r._2))
    val got = TierEightyThree.q245.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, "q245 must equal the in-memory ACF fold")
    assert(got.exists(_._4 > 0) && got.exists(_._4 < 0),
      "both correlation signs must live on the fixture")
    assert(got.forall(r => math.abs(r._4) <= 1000000L),
      "Cauchy-Schwarz bounds |acf| by 1 (the den covers the full series)")
    assert(got.forall(r => r._3 == 30L - r._2), "contiguous days: n_pairs = n - lag")
  }

  test("q246 lead-lag CCF ≡ in-memory recompute; peak near zero; bounded") {
    val g = grid
    val dx = devs(g("click"))
    val dy = devs(g("purchase"))
    val ddx = dx.values.map(v => v * v).sum
    val ddy = dy.values.map(v => v * v).sum
    val expected = (-3L to 3L).map { k =>
      val pairs = dx.keys.toSeq.filter(d => dy.contains(d + k)).sorted
      val num = pairs.map(d => dx(d) * dy(d + k)).sum
      (k, pairs.size.toLong,
        math.floor(num.toDouble * 1000000d /
          math.sqrt(ddx.toDouble * ddy.toDouble)).toLong)
    }
    val got = TierEightyThree.q246.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, "q246 must equal the in-memory CCF recompute")
    assert(got.map(_._2) == (-3L to 3L).map(k => 30L - math.abs(k)),
      "overlap windows shrink with |lag|")
    assert(got.exists(_._3 > 0) && got.exists(_._3 < 0),
      "both correlation signs must live on the fixture")
    val best = got.maxBy(_._3)
    assert(math.abs(best._1) <= 1L,
      s"same-cause streams must peak near lag 0, got ${best._1}")
  }
}
