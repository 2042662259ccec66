package graft

import graft.operators.{TierFiftySix, TierSeventyNine, TierThirtyTwo}
import org.apache.spark.sql.functions._

/** Tier-79 differentials: q237 against an in-memory Holt fold (plus the
  * constant-series fixpoint and the ramp law — Holt out-tracks EWMA on
  * a steady trend), q238 against an in-memory diversity audit (plus the
  * violations-exist and k-vs-l independence laws); plan gates.
  */
class TierSeventyNineSpec extends SparkSpec {

  test("q237 Holt chart ≡ in-memory fold (unsorted multi-partition input)") {
    val grid = TierThirtyTwo.dailyCounts(Tables.load(spark, sf, "events"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = grid.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      var l = 0L; var b = 0L; var first = true
      rows.sortBy(_._2).map { case (_, d, x) =>
        val (l2, b2, flag) = TierSeventyNine.holtStep(first, l, b, x)
        first = false; l = l2; b = b2
        (t, d, x, l2, b2, flag)
      }
    }.sortBy(x => (x._1, x._2))
    val got = TierSeventyNine.q237.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
    assert(got.map(_._1).distinct.size > 1, "multiple types on the fixture")
  }

  test("holtStep laws: constant-series fixpoint; trend law vs EWMA on a steady ramp") {
    // constant series: level locks to the constant, trend stays 0, no flags
    var (l, b) = (0L, 0L); var first = true
    for (_ <- 1 to 20) {
      val (l2, b2, flag) = TierSeventyNine.holtStep(first, l, b, 42L)
      first = false; l = l2; b = b2
      assert(b2 == 0L && flag == 0L)
    }
    assert(l == 42L, s"constant series must lock the level, got $l")
    // steady ramp x = 100 + 10·t over 40 days: EWMA's forecast is the
    // lagged level (lag → m·(1−α)/α = 70), so its tripwire keeps firing;
    // Holt learns the trend and its one-step error decays — strictly
    // fewer flags, and zero over the last 10 days
    val ramp = (0 until 40).map(t => 100L + 10L * t)
    var (hl, hb) = (0L, 0L); var hFirst = true
    var ePrev = 0L; var eFirst = true
    val hFlags = scala.collection.mutable.ArrayBuffer.empty[Long]
    val eFlags = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (x <- ramp) {
      val (l2, b2, hf) = TierSeventyNine.holtStep(hFirst, hl, hb, x)
      hFirst = false; hl = l2; hb = b2; hFlags += hf
      val (e2, ef) = TierFiftySix.ewmaStep(eFirst, ePrev, x)
      eFirst = false; ePrev = e2; eFlags += ef
    }
    assert(hFlags.sum < eFlags.sum,
      s"Holt must flag less than EWMA on a steady ramp: ${hFlags.sum} vs ${eFlags.sum}")
    assert(hFlags.takeRight(10).sum == 0L,
      "Holt must stop flagging once the trend is learned")
    assert(eFlags.takeRight(10).sum > 0L,
      "EWMA must still be tripping on the same ramp (the contrast is real)")
    // trend state actually learned the slope (dyadic convergence band)
    assert(math.abs(hb - 10L) <= 2L, s"learned trend $hb should be near 10")
  }

  test("q238 l-diversity ≡ in-memory audit; violations exist; k-anonymous ≠ l-diverse") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("lang"), expr("n_chars div 50").as("bkt"), col("source"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val expected = docs.groupBy(d => (d._1, d._2)).toSeq
      .map { case ((lang, bkt), rows) =>
        val l = rows.map(_._3).distinct.size.toLong
        (lang, bkt, rows.size.toLong, l, if (l >= 3) 1L else 0L)
      }.sortBy(x => (x._1, x._2))
    val got = TierSeventyNine.q238.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    assert(got.exists(_._5 == 0L) && got.exists(_._5 == 1L),
      "fixture must have both diverse and non-diverse QI groups")
    assert(got.map(_._3).sum == docs.size.toLong, "groups partition the corpus")
    // the l-diversity point: a group can satisfy k = 5 yet fail l = 3
    // (big but provenance-concentrated). The real fixture's violating
    // groups are all small (probed at both SFs), so the law runs on a
    // constructed frame through the library face (FIXTURES discipline)
    import spark.implicits._
    val constructed = ((1 to 10).map(_ => ("en", 1L, "srcA")) ++
      Seq(("en", 2L, "srcA"), ("en", 2L, "srcB"), ("en", 2L, "srcC")))
      .toDF("lang", "bkt", "source")
    val audit = TierSeventyNine.lDiversityOver(constructed, "lang", "bkt", "source")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(audit.contains((1L, 10L, 1L, 0L)),
      "a 10-row single-source group must be k-anonymous yet NOT l-diverse")
    assert(audit.contains((2L, 3L, 3L, 1L)),
      "a 3-source group of 3 is l-diverse while failing k = 5")
  }

  test("tier-79 plan gates: no CartesianProduct") {
    for (q <- TierSeventyNine.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
