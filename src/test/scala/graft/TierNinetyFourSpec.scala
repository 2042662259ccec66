package graft

import graft.operators.TierNinetyFour
import org.apache.spark.sql.functions._

/** Tier-94 differentials: q267 against an in-memory sort-clamp-mean
  * replay (plus the raw ≥ winsorized ≥ trimmed outlier law and the
  * small-n identity), q268 against an in-memory gap replay with the
  * exact ceil-rank percentile definition.
  */
class TierNinetyFourSpec extends SparkSpec {
  import spark.implicits._

  private def winsorMean100(vs: Seq[Long]): Long = {
    val sorted = vs.sorted
    val k = vs.size / 20
    val lo = sorted(k)
    val hi = sorted(vs.size - 1 - k)
    val clamped = sorted.map(v => math.max(lo, math.min(hi, v)))
    clamped.sum * 100 / vs.size
  }

  test("q267 winsorized uplift ≡ in-memory sort-clamp-mean replay") {
    // the q166/q194 arm split, replayed with its literal hash constants
    // (TierFour's affine family: P = 2^31−1, Knuth A0, B0)
    val ev = Tables.load(spark, sf, "events")
    val users = ev.select("user_id").distinct()
      .withColumn("arm",
        expr("((user_id % 2147483647) * 2654435761 + 40503) % 2147483647 % 2"))
    val rev = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(sum(floor(col("value") * 100)).as("cents"))
    val um = users.join(rev, Seq("user_id"), "left")
      .select(col("arm"), coalesce(col("cents"), lit(0L)).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byArm = um.groupBy(_._1).map { case (a, xs) => a -> xs.map(_._2).toSeq }
    val got = TierNinetyFour.q267.run(spark, sf).collect().head
    assert((got.getLong(0), got.getLong(1)) ==
      ((byArm(0L).size.toLong, byArm(1L).size.toLong)))
    assert(got.getLong(2) == winsorMean100(byArm(0L)), "arm A winsorized mean")
    assert(got.getLong(3) == winsorMean100(byArm(1L)), "arm B winsorized mean")
    assert(got.getLong(4) == got.getLong(3) - got.getLong(2))
  }

  test("winsorC2 laws: outliers clamp not drop (raw ≥ winsorized ≥ trimmed); small n is identity") {
    // 20 ones + 20 twos + one huge outlier per arm: winsorizing keeps a
    // clamped copy of the outlier's slot, trimming deletes it entirely
    val vals = (Seq.fill(20)(100L) ++ Seq.fill(20)(200L) :+ 100000L)
    val um = vals.zipWithIndex.flatMap { case (v, i) =>
      Seq((0L, v), (1L, v)) }.toDF("arm", "cents")
    val w = TierNinetyFour.winsorC2(um)
    val raw100 = vals.sum * 100 / vals.size
    val k = vals.size / 20 // = 2
    val sorted = vals.sorted
    val trimmed100 = sorted.slice(k, vals.size - k).sum * 100 /
      (vals.size - 2L * k)
    assert(w(0L)._2 == winsorMean100(vals))
    assert(w(0L)._2 < raw100, "clamping must pull the outlier down")
    // winsorizing and trimming are genuinely different estimators (which
    // side wins depends on the distribution's asymmetry — here trimming
    // deletes two 100s and one 200 where clamping only rewrites the
    // outlier's slot, so trimmed lands HIGHER)
    assert(w(0L)._2 != trimmed100 && w(0L)._2 > vals.sorted.apply(0) * 100,
      "winsorized must differ from trimmed and stay above the floor")
    // n < 20 ⇒ k = 0 ⇒ winsorized mean = plain mean
    val tiny = (1L to 7L).map(v => (0L, v * 10)).toDF("arm", "cents")
    val wt = TierNinetyFour.winsorC2(tiny)
    assert(wt(0L)._2 == (10L to 70L by 10).sum * 100 / 7)
  }

  test("q268 gap profile ≡ in-memory replay with exact ceil-rank percentiles") {
    val e = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val gaps = e.groupBy(x => (x._1, x._3)).toSeq.flatMap { case ((_, et), xs) =>
      val s0 = xs.sortBy(x => (x._4, x._2)).map(_._4)
      s0.zip(s0.drop(1)).map { case (a, b) => (et, (b - a) / 1000000L) }
    }
    def pct(vs: Seq[Long], p: Long): Long = {
      val sorted = vs.sorted
      sorted(((p * vs.size + 99) / 100 - 1).toInt)
    }
    val expected = gaps.groupBy(_._1).map { case (et, xs) =>
      val vs = xs.map(_._2)
      (et, vs.size.toLong, pct(vs, 50), pct(vs, 90), pct(vs, 99))
    }.toSeq.sortBy(_._1)
    val got = TierNinetyFour.q268.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected, "q268 must equal the in-memory replay")
    assert(got.forall(r => r._3 <= r._4 && r._4 <= r._5),
      "percentiles must be monotone")
  }
}
