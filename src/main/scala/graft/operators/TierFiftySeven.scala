package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Tier 57 (round 11, sixth wave): variance-reduced and robust A/B
  * readouts — the two standard defenses against noisy revenue metrics.
  *
  *  - q198: CUPED READOUT (Deng, Xu, Kohavi & Walker, WSDM 2013) —
  *    variance reduction via a PRE-PERIOD covariate: x = revenue cents
  *    in the first 15 observed days, y = revenue in the rest,
  *    θ = Cov(x,y)/Var(x) pooled, Δ_adj = (ȳ₁−ȳ₀) − θ·(x̄₁−x̄₀). One
  *    partial+final agg produces six Int64 scalars per arm
  *    (n, Σx, Σy, Σxy, Σx², Σy²); the closure runs driver-side in
  *    BigInt as ONE exact rational — Δ_adj = [(Sy₁n₀−Sy₀n₁)·varN −
  *    covN·(Sx₁n₀−Sx₀n₁)] / (n₁n₀·varN) with covN = NΣxy−ΣxΣy,
  *    varN = NΣx²−(Σx)² — fixed to centi-cents by integer division
  *    (negative numerators possible; DuckDB `//`, Spark `div` and
  *    BigInt `/` all TRUNCATE toward zero — verified, the engines
  *    agree without adjustment). Also
  *    reports θ and the pooled ρ² (the variance-reduction factor) in
  *    ppm. The fixture's iid events make the covariate weak (ρ²≈1–4 %,
  *    θ<0) — the honest answer; the spec proves real reduction on a
  *    constructed persistent-user cohort. In-plan Int64 envelope:
  *    Σx·y wraps past ~9·10¹⁸ (≈10⁹ users × 10⁵-cent half-periods) —
  *    the q169 DECIMAL escape applies; oracle products go through
  *    HUGEINT; the BigInt closure has no envelope.
  *  - q199: TRIMMED-MEAN UPLIFT — per arm, the exact 5 %-trimmed mean
  *    of user revenue (drop the k = ⌊n/20⌋ cheapest and dearest users,
  *    average the middle): the robust readout a single whale can't
  *    move. No per-arm sort of users: one (arm, cents) grouped frame,
  *    one `Cumulative.runningSum` two-pass prefix, and per-VALUE kept
  *    counts by interval clamp `min(cum, n−k) − max(cum−cnt, k)` (≥0)
  *    — the partial-group boundary handled by counts, never row
  *    explosion. One-row report with both trimmed means and the diff.
  *
  * Reference mapping: none (SURVEY.md §2.1) — north-star product ops.
  */
object TierFiftySeven {

  import TierFour.{A0, B0, P}

  /** Pre-period length in days (from the first observed day). */
  private[operators] val SplitDays = 15

  val q198 = Q("q198_cuped_readout",
    s"""WITH d0 AS (SELECT min(epoch_us(ts) // 86400000000) AS m FROM events),
       |ua AS (
       |  SELECT DISTINCT user_id,
       |         ((user_id % $P) * $A0 + $B0) % $P % 2 AS arm
       |  FROM events),
       |px AS (
       |  SELECT user_id,
       |         CAST(sum(CASE WHEN epoch_us(ts) // 86400000000 < m + $SplitDays
       |                       THEN floor(value * 100) ELSE 0 END) AS BIGINT) AS x,
       |         CAST(sum(CASE WHEN epoch_us(ts) // 86400000000 >= m + $SplitDays
       |                       THEN floor(value * 100) ELSE 0 END) AS BIGINT) AS y
       |  FROM events, d0 WHERE event_type = 'purchase' GROUP BY 1),
       |uxy AS (
       |  SELECT arm, coalesce(x, 0) AS x, coalesce(y, 0) AS y
       |  FROM ua LEFT JOIN px USING (user_id)),
       |sc AS (
       |  SELECT arm, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
       |         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
       |  FROM uxy GROUP BY 1),
       |pool AS (
       |  SELECT CAST(sum(n) AS HUGEINT) AS nn, CAST(sum(sx) AS HUGEINT) AS sx,
       |         CAST(sum(sy) AS HUGEINT) AS sy, CAST(sum(sxy) AS HUGEINT) AS sxy,
       |         CAST(sum(sxx) AS HUGEINT) AS sxx, CAST(sum(syy) AS HUGEINT) AS syy
       |  FROM sc),
       |cv AS (
       |  SELECT nn * sxy - sx * sy AS covn, nn * sxx - sx * sx AS varn,
       |         nn * syy - sy * sy AS vyn FROM pool),
       |am AS (
       |  SELECT CAST(sum(CASE WHEN arm = 0 THEN n END) AS HUGEINT) AS n0,
       |         CAST(sum(CASE WHEN arm = 1 THEN n END) AS HUGEINT) AS n1,
       |         CAST(sum(CASE WHEN arm = 0 THEN sx END) AS HUGEINT) AS sx0,
       |         CAST(sum(CASE WHEN arm = 1 THEN sx END) AS HUGEINT) AS sx1,
       |         CAST(sum(CASE WHEN arm = 0 THEN sy END) AS HUGEINT) AS sy0,
       |         CAST(sum(CASE WHEN arm = 1 THEN sy END) AS HUGEINT) AS sy1
       |  FROM sc)
       |SELECT CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
       |       CAST(100 * sy1 // n1 - 100 * sy0 // n0 AS BIGINT) AS diff_c2,
       |       CAST(100 * ((sy1 * n0 - sy0 * n1) * varn
       |                   - covn * (sx1 * n0 - sx0 * n1))
       |            // (n1 * n0 * varn) AS BIGINT) AS adj_diff_c2,
       |       CAST(1000000 * covn // varn AS BIGINT) AS theta_ppm,
       |       CAST(1000000 * covn * covn // (varn * vyn) AS BIGINT) AS rho2_ppm
       |FROM am, cv""".stripMargin) { (s, dir) =>
    import s.implicits._
    val (na, nb, diff, adj, theta, rho2) = cupedFromEvents(Tables.load(s, dir, "events"))
    Seq((na, nb, diff, adj, theta, rho2))
      .toDF("n_a", "n_b", "diff_c2", "adj_diff_c2", "theta_ppm", "rho2_ppm")
  }

  /** The full CUPED pipeline over the raw events frame: pre/post split
    * at min-day + [[SplitDays]], one partial+final six-scalar agg per
    * arm (bounded collects), then [[cupedReport]]. The q200 capstone
    * shares this exact path with q198. */
  private[graft] def cupedFromEvents(ev: org.apache.spark.sql.DataFrame)
      : (Long, Long, Long, Long, Long, Long) = {
    val dayIdx = expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
    val m = ev.agg(min(dayIdx).as("m")).collect().head.getLong(0) // bounded 1-row scalar
    val split = m + SplitDays
    val ua = ev.select("user_id").distinct()
      .withColumn("arm", expr(s"((user_id % $P) * $A0 + $B0) % $P % 2"))
    val px = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(when(dayIdx < split, floor(col("value") * 100)).otherwise(0L)).as("x"),
        sum(when(dayIdx >= split, floor(col("value") * 100)).otherwise(0L)).as("y"))
    val sc = ua.join(px, Seq("user_id"), "left")
      .select(col("arm"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    cupedReport(sc.toSeq)
  }

  /** Driver-side BigInt closure of the CUPED report over the two
    * bounded per-arm scalar rows `(arm, n, Σx, Σy, Σxy, Σx², Σy²)`.
    * Integer divisions TRUNCATE toward zero — the shared semantics of
    * BigInt `/`, Spark `div` and DuckDB `//`. */
  private[graft] def cupedReport(sc: Seq[(Long, Long, Long, Long, Long, Long, Long)])
      : (Long, Long, Long, Long, Long, Long) = {
    val by = sc.map { case (a, n, sx, sy, sxy, sxx, syy) =>
      a -> ((BigInt(n), BigInt(sx), BigInt(sy), BigInt(sxy), BigInt(sxx), BigInt(syy)))
    }.toMap
    val (n0, sx0, sy0, _, _, _) = by(0L)
    val (n1, sx1, sy1, _, _, _) = by(1L)
    val nn = n0 + n1
    val sx = sx0 + sx1; val sy = sy0 + sy1
    val sxy = by(0L)._4 + by(1L)._4
    val sxx = by(0L)._5 + by(1L)._5
    val syy = by(0L)._6 + by(1L)._6
    val covN = nn * sxy - sx * sy
    val varN = nn * sxx - sx * sx
    val vyN = nn * syy - sy * sy
    val diff = 100 * sy1 / n1 - 100 * sy0 / n0
    val adj = 100 * ((sy1 * n0 - sy0 * n1) * varN - covN * (sx1 * n0 - sx0 * n1)) /
      (n1 * n0 * varN)
    val theta = BigInt(1000000) * covN / varN
    val rho2 = BigInt(1000000) * covN * covN / (varN * vyN)
    (n0.toLong, n1.toLong, diff.toLong, adj.toLong, theta.toLong, rho2.toLong)
  }

  val q199 = Q("q199_trimmed_uplift",
    s"""WITH ${TierFiftyFive.armSql},
       |g AS (
       |  SELECT arm, cents, CAST(count(*) AS BIGINT) AS cnt
       |  FROM um GROUP BY 1, 2),
       |rk AS (
       |  SELECT arm, cents, cnt,
       |         sum(cnt) OVER (PARTITION BY arm ORDER BY cents) AS cum,
       |         sum(cnt) OVER (PARTITION BY arm) AS n
       |  FROM g),
       |kept AS (
       |  SELECT arm, cents, n,
       |         greatest(0, least(cum, n - n // 20)
       |                     - greatest(cum - cnt, n // 20)) AS kc
       |  FROM rk),
       |tm AS (
       |  SELECT arm, any_value(n) AS n,
       |         CAST(sum(cents * kc) * 100 // sum(kc) AS BIGINT) AS trim_c2
       |  FROM kept GROUP BY 1)
       |SELECT CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
       |       CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
       |       CAST(sum(CASE WHEN arm = 0 THEN trim_c2 END) AS BIGINT) AS trim_a_c2,
       |       CAST(sum(CASE WHEN arm = 1 THEN trim_c2 END) AS BIGINT) AS trim_b_c2,
       |       CAST(sum(CASE WHEN arm = 1 THEN trim_c2 END)
       |          - sum(CASE WHEN arm = 0 THEN trim_c2 END) AS BIGINT) AS diff_c2
       |FROM tm""".stripMargin) { (s, dir) =>
    import s.implicits._
    val tm = trimmedC2(TierFiftyFive.armRevenue(s, dir))
    Seq((tm(0L)._1, tm(1L)._1, tm(0L)._2, tm(1L)._2, tm(1L)._2 - tm(0L)._2))
      .toDF("n_a", "n_b", "trim_a_c2", "trim_b_c2", "diff_c2")
  }

  /** Per-arm exact 5 %-trimmed mean over a per-user (arm, cents) frame:
    * arm → (n, trimmed mean centi-cents). One grouped frame, one
    * two-pass prefix, bounded 2-row arm-offset reads (the q195
    * convention), kept counts by interval clamp. */
  private[graft] def trimmedC2(um: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Long)] = {
    val s = um.sparkSession
    val g = um.groupBy("arm", "cents").agg(count(lit(1)).as("cnt"))
    val rk = Cumulative.runningSum(s, g, Seq(col("arm"), col("cents")),
      col("cnt"), "rs").persist() // read by the per-arm collect AND the join
    val na = rk.groupBy("arm").agg(sum("cnt").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val starts = na.scanLeft(0L)(_ + _._2)
    val naDf = s.createDataFrame(na.zipWithIndex.map { case ((a, n), i) =>
      (a, n, starts(i)) }).toDF("arm", "n", "start")
    rk.join(broadcast(naDf), "arm")
      .withColumn("cum", col("rs") - col("start"))
      .withColumn("kc", greatest(lit(0L),
        least(col("cum"), col("n") - expr("n div 20"))
          - greatest(col("cum") - col("cnt"), expr("n div 20"))))
      .groupBy("arm")
      .agg(first("n").as("n"),
        expr("CAST((sum(cents * kc) * 100) div sum(kc) AS BIGINT)").as("trim_c2"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  val all: Seq[Q] = Seq(q198, q199)
}
