package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Tier 55 (round 11, fourth wave): distribution-level experimentation
  * readouts — the nonparametric significance test and the quantile
  * profile that mean-based readouts (q166) can't see.
  *
  *  - q194: MANN–WHITNEY U READOUT — the rank-sum test between the two
  *    deterministic arms (q166's affine-hash split) on per-user
  *    purchase revenue (integer cents), ALL-INTEGER: ranks are the
  *    doubled-average-rank convention (2·rank_avg = 2·prefix + cnt + 1,
  *    exact for ties), accumulated per distinct VALUE via
  *    [[Cumulative.runningSum]] — never a per-row window. The three
  *    closing scalars (n₀, n₁, R₀·2) collapse driver-side into BigInt
  *    (the q166 convention — no Int64 envelope in the test itself):
  *    U·2 = R₀·2 − 2·n₀(n₀+1)/2, the common-language effect size
  *    P(A>B)+½P(A=B) in ppm, and the normal-approximation significance
  *    flag cross-multiplied exactly — z² > 3.8415 ⟺
  *    30000·(U·2 − n₀n₁)² > 38415·n₀n₁(n₀+n₁+1) (tie-uncorrected σ²,
  *    documented; the fixture has zero revenue ties and the spec
  *    cross-checks a synthetic tied fixture against the float form).
  *    In-plan Int64 envelope: the R₀·2 partial sums reach ≈2N² —
  *    wraps past N ≈ 2·10⁹ users; the q169 DECIMAL escape applies.
  *  - q195: QUANTILE TREATMENT PROFILE — per-arm EXACT revenue deciles
  *    (d = 1..9, lower-quantile convention: the smallest cents whose
  *    within-arm cumulative count ≥ ⌈d·nₐ/10⌉), the distribution-level
  *    companion q166's single rate and q194's single shift statistic
  *    both flatten: WHERE in the distribution an uplift sits. One
  *    grouped frame per (arm, value), one two-pass prefix, a 9-row
  *    broadcast decile grid — no per-row window, no per-arm sort of
  *    users.
  *
  * Reference mapping: none (SURVEY.md §2.1) — north-star product ops.
  */
object TierFiftyFive {

  import TierFour.{A0, B0, P}

  private[operators] def armSql: String =
    s"""u AS (
       |  SELECT DISTINCT user_id,
       |         ((user_id % $P) * $A0 + $B0) % $P % 2 AS arm
       |  FROM events),
       |mrev AS (
       |  SELECT user_id, CAST(sum(floor(value * 100)) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |um AS (
       |  SELECT u.user_id, u.arm, coalesce(mrev.cents, 0) AS cents
       |  FROM u LEFT JOIN mrev USING (user_id))""".stripMargin

  /** The shared per-user (user_id, arm, revenue-cents) frame — q166's arm
    * split, zero-filled for never-purchasers. */
  private[operators] def armRevenue(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val ev = Tables.load(s, dir, "events")
    val u = ev.select("user_id").distinct()
      .withColumn("arm", expr(s"((user_id % $P) * $A0 + $B0) % $P % 2"))
    val m = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(sum(floor(col("value") * 100)).as("cents"))
    u.join(m, Seq("user_id"), "left")
      .select(col("user_id"), col("arm"),
        coalesce(col("cents"), lit(0L)).as("cents"))
  }

  val q194 = Q("q194_mannwhitney",
    s"""WITH $armSql,
       |g AS (
       |  SELECT cents, CAST(count(*) AS BIGINT) AS cnt,
       |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0v
       |  FROM um GROUP BY 1),
       |rk AS (
       |  SELECT cents, cnt, n0v,
       |         CAST(coalesce(sum(cnt) OVER (ORDER BY cents
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pre
       |  FROM g),
       |sc AS (
       |  SELECT CAST(sum(n0v) AS BIGINT) AS n0,
       |         CAST(sum(cnt - n0v) AS BIGINT) AS n1,
       |         CAST(sum(n0v * (2 * pre + cnt + 1)) AS BIGINT) AS r02x
       |  FROM rk)
       |SELECT n0 AS n_a, n1 AS n_b,
       |       CAST(r02x - n0 * (n0 + 1) AS BIGINT) AS u2x,
       |       CAST((r02x - n0 * (n0 + 1)) * 1000000 // (2 * n0 * n1) AS BIGINT)
       |         AS cles_ppm,
       |       CAST(CASE WHEN 30000 * (r02x - n0*(n0+1) - n0*n1)
       |                        * (r02x - n0*(n0+1) - n0*n1)
       |                      > 38415 * n0 * n1 * (n0 + n1 + 1)
       |                 THEN 1 ELSE 0 END AS BIGINT) AS significant
       |FROM sc""".stripMargin) { (s, dir) =>
    import s.implicits._
    val (n0, n1, r02x) = mwScalars(armRevenue(s, dir))
    val (u2x, cles, sig) = mwReport(n0, n1, r02x)
    Seq((n0, n1, u2x, cles, sig))
      .toDF("n_a", "n_b", "u2x", "cles_ppm", "significant")
  }

  /** Distributed rank-sum fold over an (arm, cents) frame → the three
    * closing scalars (n₀, n₁, R₀·2): one grouped frame per distinct
    * value, one two-pass prefix, one 1-row agg. */
  private[graft] def mwScalars(um: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    val s = um.sparkSession
    val g = um.groupBy("cents")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0v"))
    val sc = Cumulative.runningSum(s, g, Seq(col("cents")), col("cnt"), "rs")
      .agg(sum("n0v").as("n0"), sum(expr("cnt - n0v")).as("n1"),
        sum(expr("n0v * (2 * (rs - cnt) + cnt + 1)")).as("r02x"))
      .collect().head
    (sc.getLong(0), sc.getLong(1), sc.getLong(2))
  }

  /** Driver-side BigInt closure of the test — (U·2, CLES ppm,
    * significance bit), exact at any n (q166's convention). */
  private[graft] def mwReport(n0l: Long, n1l: Long, r02xl: Long): (Long, Long, Long) = {
    val (n0, n1, r02x) = (BigInt(n0l), BigInt(n1l), BigInt(r02xl))
    val u2x = r02x - n0 * (n0 + 1)
    val delta = u2x - n0 * n1
    val sig = if (BigInt(30000) * delta * delta >
      BigInt(38415) * n0 * n1 * (n0 + n1 + 1)) 1L else 0L
    (u2x.toLong, (u2x * 1000000 / (2 * n0 * n1)).toLong, sig)
  }

  val q195 = Q("q195_ab_quantiles",
    s"""WITH $armSql,
       |g AS (
       |  SELECT arm, cents, CAST(count(*) AS BIGINT) AS cnt
       |  FROM um GROUP BY 1, 2),
       |rk AS (
       |  SELECT arm, cents,
       |         sum(cnt) OVER (PARTITION BY arm ORDER BY cents) AS ca,
       |         sum(cnt) OVER (PARTITION BY arm) AS na
       |  FROM g),
       |dgrid AS (SELECT unnest(range(1, 10)) AS decile)
       |SELECT rk.arm, CAST(dgrid.decile AS BIGINT) AS decile,
       |       CAST(min(rk.cents) AS BIGINT) AS cents
       |FROM rk, dgrid
       |WHERE rk.ca >= (dgrid.decile * rk.na + 9) // 10
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val g = armRevenue(s, dir)
      .groupBy("arm", "cents").agg(count(lit(1)).as("cnt"))
    val rk = Cumulative.runningSum(s, g, Seq(col("arm"), col("cents")),
      col("cnt"), "rs").persist() // read by the per-arm collect AND the join
    // two bounded rows: per-arm size + the global prefix where the arm
    // starts (arms sort ascending, so start = sum of earlier arms)
    val na = rk.groupBy("arm").agg(sum("cnt").as("na"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val starts = na.scanLeft(0L)(_ + _._2)
    val naDf = s.createDataFrame(na.zipWithIndex.map { case ((a, n), i) =>
      (a, n, starts(i)) }).toDF("arm", "na", "start")
    val dec = s.range(1, 10).toDF("decile")
    rk.join(broadcast(naDf), "arm")
      .crossJoin(broadcast(dec))
      .filter(col("rs") - col("start") >= expr("(decile * na + 9) div 10"))
      .groupBy("arm", "decile").agg(min("cents").as("cents"))
      .orderBy("arm", "decile")
  }

  val all: Seq[Q] = Seq(q194, q195)
}
