package graft

import graft.operators.{Skew, TierFiftyNine}
import org.apache.spark.sql.functions._

/** Tier-59 differentials: q201 against an in-memory sequential CUSUM
  * fold plus the persistent-small-shift detection law EWMA misses;
  * q202 against direct in-memory skew statistics plus the whale law.
  */
class TierFiftyNineSpec extends SparkSpec {

  import spark.implicits._

  /** In-memory CUSUM over a (type, day, cnt) grid with frozen floor-mean
    * μ per type — the reference the distributed fold must reproduce. */
  private def directCusum(grid: Seq[(String, Long, Long)])
      : Seq[(String, Long, Long, Long, Long, Long)] =
    grid.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      val mu = rows.map(_._3).sum / rows.size
      val h = mu / TierFiftyNine.AlarmDiv
      var sp = 0L; var sn = 0L
      rows.sortBy(_._2).map { case (_, d, c) =>
        val (sp1, sn1) = TierFiftyNine.cusumStep(sp, sn, mu, c)
        sp = sp1; sn = sn1
        (t, d, c, sp1, sn1, if (sp1 > h || sn1 > h) 1L else 0L)
      }
    }.sortBy(x => (x._1, x._2))

  test("q201 ≡ in-memory sequential CUSUM on the fixture; both alarm states live") {
    val got = TierFiftyNine.q201.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val grid = operators.TierThirtyTwo.dailyCounts(Tables.load(spark, sf, "events"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.toSeq === directCusum(grid))
    assert(got.exists(_._6 == 1L) && got.exists(_._6 == 0L),
      "the fixture must exercise both alarm states")
  }

  test("q201 law: CUSUM accumulates a persistent small shift the EWMA band never flags") {
    // level 100, then a persistent +15% shift over the LAST 5 days (a
    // minority of the window, so the frozen μ ≈ 102 stays honest) —
    // inside EWMA's 20% band forever, but CUSUM's S⁺ integrates
    // (115 − μ − k) ≈ 8 per day and must alarm within the run
    val shifted = (0L until 30L).map(d => ("t", d, if (d < 25) 100L else 115L))
    val cusum = TierFiftyNine.cusumChart(
      shifted.toDF("event_type", "day_idx", "cnt")).orderBy("day_idx").collect()
    assert(cusum.exists(_.getLong(5) == 1L), "CUSUM must alarm on the persistent shift")
    val ewma = operators.TierFiftySix.ewmaChart(
      shifted.toDF("event_type", "day_idx", "cnt")).orderBy("day_idx").collect()
    assert(ewma.forall(_.getLong(4) == 0L),
      "a +15% step sits inside the EWMA 20% band — it must stay quiet")
    // S⁺ grows monotonically through the shifted run until the alarm
    val run = cusum.filter(_.getLong(1) >= 25).map(_.getLong(3))
    assert(run.zip(run.tail).forall { case (a, b) => b >= a })
  }

  test("q202 ≡ direct in-memory skew stats on the fixture") {
    val got = TierFiftyNine.q202.run(spark, sf).collect().head
    val cnts = Tables.load(spark, sf, "events").groupBy("user_id").count()
      .collect().map(_.getLong(1)).toSeq
    val (nk, tot, mx) = (cnts.size.toLong, cnts.sum, cnts.max)
    val s10 = cnts.sorted.reverse.take(10).sum
    val p99 = cnts.sorted.apply((((99L * nk + 99L) / 100L) - 1L).toInt)
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
      === ((nk, tot, mx, tot / nk)))
    assert((got.getLong(4), got.getLong(5), got.getLong(6), got.getLong(7))
      === ((mx * 1000000L * nk / tot, mx * 1000000L / tot, s10 * 1000000L / tot, p99)))
  }

  test("q202 law: a whale key explodes max_mean and top1 while p99 barely moves") {
    val flat = (1L to 1000L).map(u => (u % 100, u))   // 100 keys × 10 rows
    val whale = flat ++ (1L to 900L).map(i => (7L, 10000L + i)) // key 7 → 910 rows
    def rep(xs: Seq[(Long, Long)]): Map[String, Long] = {
      val r = Skew.report(xs.toDF("k", "v"), col("k")).collect().head
      r.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> r.getLong(i) }.toMap
    }
    val rf = rep(flat); val rw = rep(whale)
    assert(rf("max_mean_ppm") === 1000000L, "uniform keys: max = mean")
    assert(rw("max_mean_ppm") > 40 * 1000000L, "the whale must dominate the mean 40×+")
    assert(rw("top1_ppm") > 400000L, "the whale must own >40% of the rows")
    assert(rw("p99_cnt") <= rf("p99_cnt") * 2,
      "one whale must not move the p99 of per-key mass")
    assert(rf("n_keys") === 100L && rw("n_keys") === 100L)
  }
}
