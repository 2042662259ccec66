package graft

import graft.operators.TierFortyOne
import org.apache.spark.sql.functions._

/** Tier-41 differentials: q166 against an in-memory 2×2 build with the
  * chi-square recomputed in exact BigInt arithmetic; q167 against a
  * direct cohort fold; partition/conservation laws; plan gates.
  */
class TierFortyOneSpec extends SparkSpec {

  private val P = 2147483647L
  private val A0 = 2654435761L
  private val B0 = 40503L

  test("q166 readout ≡ in-memory 2×2; flag ≡ exact BigInt chi-square; arms partition users") {
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val users = ev.map(_._1).distinct
    val arm = users.map(u => u -> ((u % P) * A0 + B0) % P % 2).toMap
    val conv = ev.filter(x => x._2 == "purchase" && x._3 >= 20000L).map(_._1).toSet
    val byArm = users.groupBy(arm)
    val (n0, c0) = (byArm(0L).size.toLong, byArm(0L).count(conv).toLong)
    val (n1, c1) = (byArm(1L).size.toLong, byArm(1L).count(conv).toLong)
    val (a, b, c, d) = (c0, n0 - c0, c1, n1 - c1)
    val sig = {
      val diff = BigInt(a * d - b * c)
      val lhs = BigInt(100) * BigInt(a + b + c + d) * diff * diff
      val rhs = BigInt(384) * BigInt(a + b) * BigInt(c + d) * BigInt(a + c) * BigInt(b + d)
      if (lhs > rhs) 1L else 0L
    }
    val expected = Seq(
      (0L, n0, c0, c0 * 1000000 / n0, sig),
      (1L, n1, c1, c1 * 1000000 / n1, sig))
    val got = TierFortyOne.q166.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    assert(n0 + n1 == users.size, "the hash split partitions the user universe")
    assert(got.map(_._5).distinct.size == 1, "significance is a property of the table, not the arm")
  }

  test("q167 cohort value ≡ direct fold; revenue conserved; offsets well-formed") {
    val WeekMs = 7L * 86400000
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"),
        expr(s"unix_millis(cast(ts as timestamp)) div $WeekMs").as("wk"),
        floor(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val cohort = ev.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._3).min }
    val purchases = ev.filter(_._2 == "purchase")
    val expected = purchases
      .groupBy(x => (cohort(x._1), x._3 - cohort(x._1))).toSeq
      .map { case ((cw, off), xs) => (cw, off, xs.size.toLong, xs.map(_._4).sum) }
      .sortBy(x => (x._1, x._2))
    val got = TierFortyOne.q167.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.map(_._4).sum == purchases.map(_._4).sum, "every purchase cent lands in one cell")
    assert(got.forall(_._2 >= 0), "no purchase precedes its user's first activity")
    assert(got.map(_._3).sum == purchases.size)
  }

  test("chi2Significant is exact past the old Int64 envelope (r10 VERDICT #7)") {
    // boundary tables (n ≈ 4·10⁹) where the old in-plan Int64 form was
    // unrepresentable: 100·n·(ad−bc)² far exceeds Long.MaxValue
    val cases = Seq(
      // χ² ≈ 1.6 — not significant
      (1000000000L, 1000000000L, 1000040000L, 999960000L),
      // χ² ≈ 40 — significant
      (1000000000L, 1000000000L, 1000200000L, 999800000L))
    for ((a, b, c, d) <- cases) {
      val det = BigInt(a) * BigInt(d) - BigInt(b) * BigInt(c)
      val lhs = BigInt(100) * BigInt(a + b + c + d) * det * det
      assert(lhs > BigInt(Long.MaxValue),
        "the fixture must genuinely exceed the Int64 envelope")
      // float χ² is unambiguous at these magnitudes (1.6 vs 40 — far
      // from the 3.84 cut), so it adjudicates the exact integer flag
      val (fa, fb, fc, fd) = (a.toDouble, b.toDouble, c.toDouble, d.toDouble)
      val n = fa + fb + fc + fd
      val chi2 = n * math.pow(fa * fd - fb * fc, 2) /
        ((fa + fb) * (fc + fd) * (fa + fc) * (fb + fd))
      val want = if (chi2 > 3.84) 1L else 0L
      assert(TierFortyOne.chi2Significant(a, b, c, d) == want,
        s"BigInt flag must match the float verdict at chi2=$chi2")
    }
  }

  test("tier-41 plan gates: no CartesianProduct beyond the pinned 1-row broadcast") {
    for (q <- TierFortyOne.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
