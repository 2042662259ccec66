package graft

import graft.operators.TierNinetySeven
import org.apache.spark.sql.functions._

/** Tier-97 differentials: q273/q274 against in-memory CDF replays, plus
  * the metric laws (identity ⇒ 0, shift ⇒ exact mass·distance for W₁,
  * D = 1 on disjoint supports, empty-arm sentinel).
  */
class TierNinetySevenSpec extends SparkSpec {
  import spark.implicits._

  private def armFrame = {
    val ev = Tables.load(spark, sf, "events")
    ev.select("user_id").distinct()
      .withColumn("arm",
        expr("((user_id % 2147483647) * 2654435761 + 40503) % 2147483647 % 2"))
      .join(ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(sum(floor(col("value") * 100)).as("c")),
        Seq("user_id"), "left")
      .select(col("arm"), coalesce(col("c"), lit(0L)).as("cents"))
  }

  private def replay(rows: Seq[(Long, Long)]): (Long, Long, Long, Long) = {
    val a = rows.filter(_._1 == 0).map(_._2).sorted
    val b = rows.filter(_._1 == 1).map(_._2).sorted
    val (n0, n1) = (a.size.toLong, b.size.toLong)
    val spine = (a ++ b).distinct.sorted
    def cum(xs: Seq[Long], v: Long): Long = xs.count(_ <= v).toLong
    val diffs = spine.map(v => math.abs(cum(a, v) * n1 - cum(b, v) * n0))
    val ksNum = diffs.max
    val w1Num = spine.zip(spine.tail).map { case (v, nxt) =>
      math.abs(cum(a, v) * n1 - cum(b, v) * n0) * (nxt - v)
    }.sum
    (n0, n1, ksNum, w1Num)
  }

  test("q273/q274 ≡ in-memory CDF replay on the arm fixture") {
    val rows = armFrame.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (n0, n1, ksNum, w1Num) = replay(rows)
    val ks = TierNinetySeven.q273.run(spark, sf).collect().head
    assert((ks.getLong(0), ks.getLong(1), ks.getLong(2), ks.getLong(3))
      == ((n0, n1, ksNum, 1000000L * ksNum / (n0 * n1))))
    val w1 = TierNinetySeven.q274.run(spark, sf).collect().head
    assert((w1.getLong(0), w1.getLong(1), w1.getLong(2), w1.getLong(3))
      == ((n0, n1, w1Num, 100L * w1Num / (n0 * n1))))
    assert(ksNum > 0 || w1Num > 0,
      "fixture arms must differ somewhere (hash split of a skewed metric)")
  }

  test("metric laws: identity ⇒ 0; pure shift ⇒ W1 = shift, KS gap = overlap; disjoint ⇒ D = n0·n1; empty arm ⇒ −1") {
    // identical arms: both distances exactly 0
    val same = (1 to 8).flatMap(i => Seq((0L, i * 10L), (1L, i * 10L)))
    assert(TierNinetySeven.ksOver(same.toDF("arm", "cents"))
      .collect().head.getLong(3) == 0L)
    assert(TierNinetySeven.wassersteinOver(same.toDF("arm", "cents"))
      .collect().head.getLong(3) == 0L)
    // arm 1 = arm 0 shifted by +7 cents: W1 is EXACTLY the shift (mass 1
    // moved 7 units — the transport interpretation), in centi-cents 700
    val shifted = (1 to 8).flatMap(i => Seq((0L, i * 10L), (1L, i * 10L + 7L)))
    val w = TierNinetySeven.wassersteinOver(shifted.toDF("arm", "cents"))
      .collect().head
    assert(w.getLong(3) == 700L, s"shift law: got ${w.getLong(3)}")
    // disjoint supports: D = 1 exactly (num = n0·n1, ppm = 10⁶)
    val disjoint = (1 to 5).map(i => (0L, i.toLong)) ++
      (1 to 7).map(i => (1L, 100L + i))
    val ks = TierNinetySeven.ksOver(disjoint.toDF("arm", "cents")).collect().head
    assert(ks.getLong(2) == 5L * 7L && ks.getLong(3) == 1000000L)
    // an empty arm is the declared sentinel, not a crash or NaN
    val solo = (1 to 5).map(i => (0L, i.toLong))
    assert(TierNinetySeven.ksOver(solo.toDF("arm", "cents"))
      .collect().head.getLong(3) == -1L)
  }
}
