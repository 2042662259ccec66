package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tier 98 (round 14): the Lorenz decile table and the paired flip
  * test.
  *
  *  - q275: LORENZ DECILE CONCENTRATION — the table behind q269/q270's
  *    single numbers (Lorenz 1905): users ranked by revenue, cut into
  *    ten equal-count bins (`decile = ⌈10·rank/n⌉`), each reporting its
  *    exact mass and the CUMULATIVE share in ppm — the "bottom 40 %
  *    hold 2.1 % of revenue" readout. Rank and cumulative mass are the
  *    two-pass distributed primitives ([[Cumulative.rowNumber]] on the
  *    unique (cents, user_id) order + [[Cumulative.runningSum]]) —
  *    never a partitionless window.
  *  - q276: McNEMAR FLIP TEST (McNemar 1947) — did conversion CHANGE
  *    between the two halves of the observation window? Per user:
  *    purchased in H1 / in H2 (split at the exact integer midpoint of
  *    the event-time range); the 2×2 paired table's discordant cells
  *    b = (1,0), c = (0,1) carry all the signal, statistic
  *    `(b−c)²·10⁶ // (b+c)` exact ppm (χ²₁; b+c = 0 — nobody flipped —
  *    is DECLARED −1). The paired design cancels between-user variance
  *    — the within-subject companion to the between-arm readouts
  *    (q166/q194/q272).
  *
  * Scale: q275 is two two-pass prefixes over the per-user frame; q276
  * one per-user aggregation after a bounded (two-scalar) time-range
  * read.
  *
  * Reference mapping: none (SURVEY.md §2.1) — north-star corpus /
  * experimentation audit ops.
  */
object TierNinetyEight {

  /** Lorenz decile table over ANY `(user_id, cents)` frame:
    * `(decile, n_users, mass, cum_share_ppm)`, ten rows (fewer when
    * n < 10). */
  private[graft] def lorenzDecilesOver(um: DataFrame): DataFrame = {
    val s = um.sparkSession
    val ranked = Cumulative.rowNumber(s, um.select("user_id", "cents"),
      Seq(col("cents"), col("user_id")), "idx")
    val cum = Cumulative.runningSum(s, ranked,
      Seq(col("cents"), col("user_id")), col("cents"), "cum").persist() // totals + deciles
    val t = cum.agg(count(lit(1)), sum("cents")).collect()(0)
    val (n, total) = (t.getLong(0), t.getLong(1))
    cum
      .withColumn("decile", expr(s"(10 * idx + $n - 1) div $n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum("cents").as("mass"),
        max("cum").as("cmax"))
      .select(col("decile"), col("n_users"), col("mass"),
        expr(s"(1000000 * cmax) div $total").as("cum_share_ppm"))
      .orderBy("decile")
  }

  val q275 = Q("q275_lorenz_deciles",
    s"""WITH ${TierFiftyFive.armSql},
       |rk AS (
       |  SELECT cents,
       |         row_number() OVER (ORDER BY cents, user_id) AS idx,
       |         sum(cents) OVER (ORDER BY cents, user_id) AS cum,
       |         count(*) OVER () AS n, sum(cents) OVER () AS total
       |  FROM um)
       |SELECT CAST((10 * idx + n - 1) // n AS BIGINT) AS decile,
       |       CAST(count(*) AS BIGINT) AS n_users,
       |       CAST(sum(cents) AS BIGINT) AS mass,
       |       CAST((1000000 * max(cum)) // any_value(total) AS BIGINT)
       |         AS cum_share_ppm
       |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
    val users = ev.select("user_id").distinct()
    val rev = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(sum(floor(col("value") * 100)).as("c"))
    lorenzDecilesOver(users.join(rev, Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("c"), lit(0L)).as("cents")))
  }

  /** McNemar table over ANY `(user_id, h1, h2)` 0/1 frame: one row
    * `(n11, n10, n01, n00, chi2_ppm)`. */
  private[graft] def mcnemarOver(uh: DataFrame): DataFrame = {
    val s = uh.sparkSession
    import s.implicits._
    val m = uh.agg(
      sum(when(col("h1") === 1 && col("h2") === 1, 1L).otherwise(0L)),
      sum(when(col("h1") === 1 && col("h2") === 0, 1L).otherwise(0L)),
      sum(when(col("h1") === 0 && col("h2") === 1, 1L).otherwise(0L)),
      sum(when(col("h1") === 0 && col("h2") === 0, 1L).otherwise(0L)))
      .collect()(0)
    val (n11, b, c, n00) = (m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3))
    Seq((n11, b, c, n00,
      if (b + c == 0) -1L else (b - c) * (b - c) * 1000000L / (b + c)))
      .toDF("n11", "n10", "n01", "n00", "chi2_ppm")
  }

  /** The per-user half-window conversion flags — H1/H2 split at the
    * exact integer midpoint of the event-time range. */
  private[graft] def halfFlags(ev: DataFrame): DataFrame = {
    val us = ev.select(col("user_id"), col("event_type"),
      expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
    val b = us.agg(min("us"), max("us")).collect()(0) // bounded 2-scalar read
    val mid = (b.getLong(0) + b.getLong(1)) / 2
    us.groupBy("user_id").agg(
      max(when(col("event_type") === "purchase" && col("us") <= mid, 1L)
        .otherwise(0L)).as("h1"),
      max(when(col("event_type") === "purchase" && col("us") > mid, 1L)
        .otherwise(0L)).as("h2"))
  }

  val q276 = Q("q276_mcnemar_flip",
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
      |f AS (
      |  SELECT user_id,
      |         max(CASE WHEN event_type = 'purchase' AND us <= b.mid
      |             THEN 1 ELSE 0 END) AS h1,
      |         max(CASE WHEN event_type = 'purchase' AND us > b.mid
      |             THEN 1 ELSE 0 END) AS h2
      |  FROM e CROSS JOIN b GROUP BY 1),
      |m AS (
      |  SELECT CAST(sum(CASE WHEN h1 = 1 AND h2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
      |         CAST(sum(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |         CAST(sum(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |         CAST(sum(CASE WHEN h1 = 0 AND h2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
      |  FROM f)
      |SELECT n11, b AS n10, c AS n01, n00,
      |       CAST(CASE WHEN b + c = 0 THEN -1
      |            ELSE ((b - c) * (b - c) * 1000000) // (b + c) END AS BIGINT)
      |         AS chi2_ppm
      |FROM m""".stripMargin) { (s, dir) =>
    mcnemarOver(halfFlags(Tables.load(s, dir, "events")))
  }

  val all: Seq[Q] = Seq(q275, q276)
}
