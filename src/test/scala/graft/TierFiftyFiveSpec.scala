package graft

import graft.operators.TierFiftyFive
import org.apache.spark.sql.functions._

/** Tier-55 differentials: q194 against a float average-rank
  * Mann–Whitney (incl. a constructed tied fixture and a separated
  * significant one), q195 against an in-memory exact lower-quantile
  * fold; symmetry/bound/monotonicity laws.
  */
class TierFiftyFiveSpec extends SparkSpec {

  import spark.implicits._

  /** Float reference: average-rank U for arm 0, CLES, and the
    * tie-uncorrected z² — the textbook form the integer path must hit. */
  private def floatMw(xs: Seq[(Long, Long)]): (Double, Double, Boolean) = {
    val sorted = xs.map(_._2).sorted
    val rank = sorted.zipWithIndex.groupBy(_._1)
      .map { case (v, g) => v -> (g.map(_._2 + 1).sum.toDouble / g.size) }
    val n0 = xs.count(_._1 == 0).toDouble
    val n1 = xs.count(_._1 == 1).toDouble
    val r0 = xs.filter(_._1 == 0).map(x => rank(x._2)).sum
    val u0 = r0 - n0 * (n0 + 1) / 2
    val z2 = math.pow(u0 - n0 * n1 / 2, 2) / (n0 * n1 * (n0 + n1 + 1) / 12)
    (u0, u0 / (n0 * n1), z2 > 3.8415)
  }

  test("q194 ≡ float Mann–Whitney on the fixture; U-symmetry and CLES bounds") {
    val got = TierFiftyFive.q194.run(spark, sf).collect().head
    val (n0, n1, u2x, cles, sig) =
      (got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3), got.getLong(4))
    assert(n0 > 0 && n1 > 0)
    assert(u2x >= 0 && u2x <= 2 * n0 * n1, "U out of range")
    assert(cles >= 0 && cles <= 1000000L)
    // float cross-check from first principles on the same per-user frame
    val ev = Tables.load(spark, sf, "events")
    val users = ev.select("user_id").distinct()
      .withColumn("arm", expr("((user_id % 2147483647) * 2654435761 + 40503) % 2147483647 % 2"))
    val rev = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(sum(floor(col("value") * 100)).as("cents"))
    val xs = users.join(rev, Seq("user_id"), "left")
      .select(col("arm"), coalesce(col("cents"), lit(0L)).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (u0f, clesF, sigF) = floatMw(xs)
    assert(math.abs(u2x / 2.0 - u0f) < 1e-6, s"U mismatch: int ${u2x / 2.0} float $u0f")
    assert(math.abs(cles / 1e6 - clesF) < 1e-5)
    assert((sig == 1L) == sigF)
    // symmetry: recomputing with arms flipped must mirror U around n0*n1
    val (fn0, fn1, fr) = TierFiftyFive.mwScalars(
      xs.map(x => (1L - x._1, x._2)).toDF("arm", "cents"))
    val (fu2x, _, fsig) = TierFiftyFive.mwReport(fn0, fn1, fr)
    assert(fu2x + u2x == 2 * n0 * n1, "U0 + U1 must equal n0*n1")
    assert(fsig == sig, "significance must be arm-label invariant")
  }

  test("q194 integer path ≡ float on a constructed TIED fixture; separated arms flag significant") {
    // heavy ties: both arms share values, arm 1 shifted up one notch
    val tied = (0 until 40).map(i => (0L, (i % 5).toLong * 100)) ++
      (0 until 40).map(i => (1L, ((i % 5) + 1).toLong * 100))
    val (tn0, tn1, tr) = TierFiftyFive.mwScalars(tied.toDF("arm", "cents"))
    val (tu2x, tcles, tsig) = TierFiftyFive.mwReport(tn0, tn1, tr)
    val (fu, fc, fs) = floatMw(tied)
    assert(math.abs(tu2x / 2.0 - fu) < 1e-6,
      s"tied U: int ${tu2x / 2.0} float $fu — doubled average ranks must be exact under ties")
    assert(math.abs(tcles / 1e6 - fc) < 1e-4)
    assert(tsig == (if (fs) 1L else 0L) && tsig == 1L,
      "the shifted fixture is significant by construction")
    // fully separated arms: U hits an extreme, CLES → 1, flag fires
    val sep = (0 until 30).map(i => (0L, 1000L + i)) ++
      (0 until 30).map(i => (1L, i.toLong))
    val (sn0, sn1, sr) = TierFiftyFive.mwScalars(sep.toDF("arm", "cents"))
    val (su2x, scles, ssig) = TierFiftyFive.mwReport(sn0, sn1, sr)
    assert(su2x == 2 * 30 * 30 && scles == 1000000L && ssig == 1L)
  }

  test("q195 ≡ in-memory exact lower-deciles; per-arm monotone; grid complete") {
    val got = TierFiftyFive.q195.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val ev = Tables.load(spark, sf, "events")
    val users = ev.select("user_id").distinct()
      .withColumn("arm", expr("((user_id % 2147483647) * 2654435761 + 40503) % 2147483647 % 2"))
    val rev = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(sum(floor(col("value") * 100)).as("cents"))
    val xs = users.join(rev, Seq("user_id"), "left")
      .select(col("arm"), coalesce(col("cents"), lit(0L)).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = xs.groupBy(_._1).toSeq.flatMap { case (arm, g) =>
      val v = g.map(_._2).sorted
      (1 to 9).map { d =>
        val target = ((d.toLong * v.size + 9) / 10).toInt
        (arm, d.toLong, v(target - 1))
      }
    }.sortBy(x => (x._1, x._2))
    assert(got == expected)
    assert(got.size == 18)
    for ((_, g) <- got.groupBy(_._1))
      assert(g.sortBy(_._2).map(_._3) == g.sortBy(_._2).map(_._3).sorted,
        "deciles must be nondecreasing within an arm")
  }
}
