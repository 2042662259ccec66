package graft

import graft.operators.TierFiftySeven
import org.apache.spark.sql.functions._

/** Tier-57 differentials: q198 against an independent in-memory CUPED
  * computation plus the bias-removal law on a constructed persistent
  * cohort; q199 against an in-memory exact trimmed mean plus the
  * whale-robustness law.
  */
class TierFiftySevenSpec extends SparkSpec {

  import spark.implicits._

  // --- q198 -----------------------------------------------------------

  /** Independent in-memory CUPED over (arm, x, y) rows — exact BigInt
    * rationals, truncating division (the cross-engine convention). */
  private def directCuped(rows: Seq[(Long, Long, Long)]): (Long, Long, Long, Long) = {
    def big(xs: Seq[Long]) = xs.map(BigInt(_)).sum
    val a0 = rows.filter(_._1 == 0); val a1 = rows.filter(_._1 == 1)
    val (n0, n1) = (BigInt(a0.size), BigInt(a1.size))
    val (sx0, sy0) = (big(a0.map(_._2)), big(a0.map(_._3)))
    val (sx1, sy1) = (big(a1.map(_._2)), big(a1.map(_._3)))
    val nn = n0 + n1
    val sx = sx0 + sx1; val sy = sy0 + sy1
    val sxy = big(rows.map(r => r._2 * r._3))
    val sxx = big(rows.map(r => r._2 * r._2))
    val syy = big(rows.map(r => r._3 * r._3))
    val covN = nn * sxy - sx * sy; val varN = nn * sxx - sx * sx
    val vyN = nn * syy - sy * sy
    val diff = 100 * sy1 / n1 - 100 * sy0 / n0
    val adj = 100 * ((sy1 * n0 - sy0 * n1) * varN - covN * (sx1 * n0 - sx0 * n1)) /
      (n1 * n0 * varN)
    (diff.toLong, adj.toLong, (BigInt(1000000) * covN / varN).toLong,
      (BigInt(1000000) * covN * covN / (varN * vyN)).toLong)
  }

  test("q198 ≡ independent in-memory CUPED on the fixture; weak covariate reported honestly") {
    val got = TierFiftySeven.q198.run(spark, sf).collect().head
    val ev = Tables.load(spark, sf, "events")
    val dayIdx = expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
    val m = ev.agg(min(dayIdx)).collect().head.getLong(0)
    val ua = ev.select("user_id").distinct()
      .withColumn("arm", expr("((user_id % 2147483647) * 2654435761 + 40503) % 2147483647 % 2"))
    val px = ev.filter(col("event_type") === "purchase").groupBy("user_id")
      .agg(sum(when(dayIdx < m + 15, floor(col("value") * 100)).otherwise(0L)).as("x"),
        sum(when(dayIdx >= m + 15, floor(col("value") * 100)).otherwise(0L)).as("y"))
    val rows = ua.join(px, Seq("user_id"), "left")
      .select(col("arm"), coalesce(col("x"), lit(0L)), coalesce(col("y"), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val (diff, adj, theta, rho2) = directCuped(rows)
    assert((got.getLong(2), got.getLong(3), got.getLong(4), got.getLong(5))
      === ((diff, adj, theta, rho2)))
    assert(got.getLong(0) + got.getLong(1) === rows.size.toLong)
    assert(rho2 >= 0 && rho2 <= 1000000L)
    assert(rho2 < 100000L, "the iid fixture's covariate must be honestly weak")
  }

  test("q198 law: persistent cohort — CUPED removes covariate imbalance the raw diff keeps") {
    // x near-independent of arm (alternating assignment) but with the
    // FINITE-SAMPLE imbalance real randomization leaves (x̄₁−x̄₀ = −100);
    // y = x + Δ·arm exactly → θ ≈ 1, ρ² ≈ 1, and CUPED strips the
    // chance imbalance the raw diff keeps (Deng et al. 2013, §3)
    val delta = 700L
    val rows = (1L to 60L).map { u =>
      val arm = u % 2
      val x = 1000L + 100L * u
      (arm, x, x + delta * arm)
    }
    val (diff, adj, theta, rho2) = directCuped(rows)
    assert(theta > 980000L && theta < 1005000L, s"pooled θ must sit near 1 ($theta)")
    assert(rho2 >= 940000L, s"deterministic linkage ⇒ ρ² near 1 ($rho2)")
    assert(math.abs(adj - 100 * delta) <= 100,
      s"CUPED must recover the true uplift (adj=$adj, truth=${100 * delta})")
    assert(math.abs(diff - 100 * delta) >= 9000L,
      s"the raw diff must keep the chance-imbalance bias (diff=$diff)")
    // and the Spark closure agrees bit for bit on the same scalars
    val sc = Seq(0L, 1L).map { a =>
      val g = rows.filter(_._1 == a)
      (a, g.size.toLong, g.map(_._2).sum, g.map(_._3).sum,
        g.map(r => r._2 * r._3).sum, g.map(r => r._2 * r._2).sum,
        g.map(r => r._3 * r._3).sum)
    }
    val (_, _, d2, a2, t2, r2) = TierFiftySeven.cupedReport(sc)
    assert((d2, a2, t2, r2) === ((diff, adj, theta, rho2)))
  }

  // --- q199 -----------------------------------------------------------

  /** Exact in-memory trimmed mean: sort, drop k = n/20 each side,
    * truncating centi-cent average. */
  private def directTrim(cents: Seq[Long]): Long = {
    val k = cents.size / 20
    val kept = cents.sorted.slice(k, cents.size - k)
    (kept.map(BigInt(_)).sum * 100 / kept.size).toLong
  }

  test("q199 ≡ in-memory exact trimmed means on the fixture") {
    val got = TierFiftySeven.q199.run(spark, sf).collect().head
    val ev = Tables.load(spark, sf, "events")
    val users = ev.select("user_id").distinct()
      .withColumn("arm", expr("((user_id % 2147483647) * 2654435761 + 40503) % 2147483647 % 2"))
    val rev = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(sum(floor(col("value") * 100)).as("cents"))
    val rows = users.join(rev, Seq("user_id"), "left")
      .select(col("arm"), coalesce(col("cents"), lit(0L)).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val t0 = directTrim(rows.filter(_._1 == 0).map(_._2))
    val t1 = directTrim(rows.filter(_._1 == 1).map(_._2))
    assert((got.getLong(2), got.getLong(3), got.getLong(4)) === ((t0, t1, t1 - t0)))
  }

  test("q199 law: a 100× whale cannot move the trimmed mean; the raw mean chases it") {
    val base = (1L to 40L).map(u => (u % 2, 5000L + (u * 13L) % 700L))
    val whaleBase = base :+ ((1L, 100000L))
    val whaleHuge = base :+ ((1L, 10000000L))
    def viaSpark(xs: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
      TierFiftySeven.trimmedC2(xs.toDF("arm", "cents"))
    val tb = viaSpark(whaleBase); val th = viaSpark(whaleHuge)
    assert(tb(1L) === th(1L), "trimmed mean must be whale-invariant")
    assert(tb(0L) === th(0L))
    // the distributed form also matches the direct fold on both inputs
    assert(th(1L)._2 === directTrim(whaleHuge.filter(_._1 == 1).map(_._2)))
    val rawB = whaleBase.filter(_._1 == 1).map(_._2).sum * 100 / whaleBase.count(_._1 == 1)
    val rawH = whaleHuge.filter(_._1 == 1).map(_._2).sum * 100 / whaleHuge.count(_._1 == 1)
    assert(rawH - rawB > 100000L, "the untrimmed mean must chase the whale")
  }
}
