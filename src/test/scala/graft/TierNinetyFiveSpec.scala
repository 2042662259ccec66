package graft

import graft.operators.TierNinetyFive
import org.apache.spark.sql.functions._

/** Tier-95 differentials: q269 against an in-memory deviation fold (plus
  * the equal-weights ⇒ 0 and monopoly ⇒ (n−1)/n exact laws), q270
  * against an in-memory sort-and-slice replay (plus the uniform-ratio
  * and zero-bottom-sentinel laws).
  */
class TierNinetyFiveSpec extends SparkSpec {
  import spark.implicits._

  test("q269 Hoover ≡ in-memory deviation fold") {
    val w = Tables.load(spark, sf, "documents")
      .groupBy("source").agg(sum("n_chars").as("w"))
      .collect().map(_.getLong(1))
    val (n, tw) = (w.length.toLong, w.sum)
    val expected = 1000000L * w.map(x => math.abs(n * x - tw)).sum / (2 * n * tw)
    val got = TierNinetyFive.q269.run(spark, sf).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((n, tw, expected)))
    assert(expected > 0, "fixture sources must not be perfectly equal")
  }

  test("hooverOver laws: equal weights ⇒ 0; monopoly ⇒ (n−1)/n exactly") {
    val eq = Seq(("a", 7L), ("b", 7L), ("c", 7L), ("d", 7L)).toDF("source", "w")
    assert(TierNinetyFive.hooverOver(eq).collect().head.getLong(2) == 0L)
    val mono = Seq(("a", 40L), ("b", 0L), ("c", 0L), ("d", 0L)).toDF("source", "w")
    assert(TierNinetyFive.hooverOver(mono).collect().head.getLong(2) == 750000L,
      "one source holding everything ⇒ H = (n−1)/n = 0.75 at n = 4")
  }

  test("q270 Palma ≡ in-memory sort-and-slice replay") {
    val ev = Tables.load(spark, sf, "events")
    val users = ev.select("user_id").distinct()
    val rev = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(sum(floor(col("value") * 100)).as("c"))
    val cents = users.join(rev, Seq("user_id"), "left")
      .select(coalesce(col("c"), lit(0L)).as("cents"))
      .collect().map(_.getLong(0)).sorted
    val n = cents.length.toLong
    val bot = cents.take((4 * n / 10).toInt).sum
    val top = cents.drop((9 * n / 10).toInt).sum
    val expected = (n, bot, top, if (bot == 0) -1L else 1000000L * top / bot)
    val got = TierNinetyFive.q270.run(spark, sf).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
      == expected, "q270 must equal the sort-and-slice replay")
    assert(bot > 0 && top > 0, "both tails must carry mass on the fixture")
  }

  test("palmaOver laws: uniform values ⇒ count ratio; zero bottom ⇒ −1 sentinel") {
    val uni = Seq.fill(20)(100L).toDF("cents")
    val u = TierNinetyFive.palmaOver(uni).collect().head
    // bottom 8 obs vs top 2 obs of the same value: ratio = 2/8 exactly
    assert((u.getLong(1), u.getLong(2), u.getLong(3)) == ((800L, 200L, 250000L)))
    val zeros = (Seq.fill(10)(0L) ++ Seq.fill(10)(50L)).toDF("cents")
    val z = TierNinetyFive.palmaOver(zeros).collect().head
    assert(z.getLong(3) == -1L, "an all-zero bottom 40 % reads the sentinel")
  }
}
