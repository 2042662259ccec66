package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Tier 42 (round 10, fourteenth wave): engagement-intensity analytics.
  *
  *  - q168: INTENSE SESSIONS — the top-20 q36 sessions by event RATE
  *    (milli-events/hour, all-integer: `n·3600·10⁹ div duration_us`, n ≥ 3 — the ×1000 keeps slow sessions ordered instead of collapsing to 0):
  *    the engagement-intensity leaderboard, and — thresholded instead
  *    of top-k'd — the bot/abuse screen shape (sub-minute cadences on
  *    this fixture don't exist, so the ranking form is the
  *    non-degenerate face of the same operator).
  *  - q169: REVENUE CONCENTRATION — the one-row inequality report over
  *    per-customer purchase revenue: exact integer GINI
  *    (⌊10⁶·Σ(2i−n−1)·xᵢ / (n·S)⌋ over ascending revenue ranks — the
  *    rank form of the Lorenz integral; invariant under tie order
  *    because equal x collapse the weight sum) and the top-decile
  *    share — "do 10 % of customers carry half the revenue?". Ranks
  *    from [[Cumulative.rowNumber]] (two-pass, no SinglePartition);
  *    Int64 envelope n²·max_rev — DECIMAL dispatch past ~10⁷ users.
  *
  * Reference mapping: none (SURVEY.md §2.1) — north-star product ops.
  */
object TierFortyTwo {

  private val TopK = 20
  private val MinEvents = 3

  val q168 = Q("q168_intense_sessions",
    s"""WITH o AS (
       |  SELECT user_id, ts,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |               OR ts - lag(ts) OVER w >= INTERVAL 6 HOUR THEN 1 ELSE 0 END AS brk
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sess
       |  FROM o),
       |iv AS (
       |  SELECT user_id, epoch_us(min(ts)) AS s_us,
       |         CAST(count(*) AS BIGINT) AS n,
       |         epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
       |  FROM s GROUP BY user_id, sess)
       |SELECT user_id, s_us, n,
       |       (n * 3600000000 * 1000) // greatest(dur_us, 1) AS rate_meph
       |FROM iv WHERE n >= $MinEvents
       |ORDER BY rate_meph DESC, user_id, s_us LIMIT $TopK""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
      .agg(expr("unix_micros(CAST(min(ts) AS TIMESTAMP))").as("s_us"),
        count(lit(1)).as("n"),
        (expr("unix_micros(CAST(max(ts) AS TIMESTAMP))")
          - expr("unix_micros(CAST(min(ts) AS TIMESTAMP))")).as("dur_us"))
      .filter(col("n") >= MinEvents)
      .select(col("user_id"), col("s_us"), col("n"),
        expr("(n * 3600000000 * 1000) div greatest(dur_us, 1)").as("rate_meph"))
      .orderBy(col("rate_meph").desc, col("user_id"), col("s_us"))
      .limit(TopK)
  }

  val q169 = Q("q169_revenue_gini",
    """WITH rev AS (
      |  SELECT user_id, CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |rk AS (
      |  SELECT x, CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS i
      |  FROM rev),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rk),
      |ag AS (
      |  SELECT nn.n, CAST(sum(x) AS BIGINT) AS s,
      |         CAST(sum((2 * i - nn.n - 1) * x) AS BIGINT) AS g,
      |         CAST(sum(CASE WHEN i > nn.n - nn.n // 10
      |                       THEN x ELSE 0 END) AS BIGINT) AS topd
      |  FROM rk, nn GROUP BY nn.n)
      |SELECT n AS n_customers, s AS total_cents,
      |       (1000000 * g) // (n * s) AS gini_ppm,
      |       (1000000 * topd) // s AS top_decile_ppm
      |FROM ag""".stripMargin) { (s, dir) =>
    val rev = Tables.load(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(floor(col("value") * 100).cast("long")).as("x"))
    giniOver(rev)
  }

  /** q169's concentration report over any `(user_id, x ≥ 0 cents)`
    * frame. Int64 envelope: the Lorenz fold's terms reach ~n²·x̄ — safe
    * to ~10⁷ users; session conf `spark.graft.giniDecimal=true` (the
    * bm25Decimal promise pattern — r10 VERDICT #7) routes the fold and
    * the ppm division through DECIMAL(38,0), exact to ~10³⁸ (any
    * realistic corpus), same BIGINT output schema. TierFortyTwoSpec
    * drives a boundary fixture where the Int64 fold WRAPS and pins the
    * decimal path against BigInt. */
  private[graft] def giniOver(rev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = rev.sparkSession
    val decimal =
      s.conf.getOption("spark.graft.giniDecimal").exists(_.equalsIgnoreCase("true"))
    val rk = Cumulative.rowNumber(s, rev.select("x", "user_id"),
      Seq(col("x"), col("user_id")), "i").persist() // row count + Gini fold
    val nRow = rk.agg(count(lit(1))).head().getLong(0) // documented 1-long driver read
    val weight = lit(2) * col("i") - nRow - 1
    val gTerm =
      if (decimal) sum(weight.cast("decimal(38,0)") * col("x").cast("decimal(38,0)"))
      else sum(weight * col("x"))
    val giniPpm =
      if (decimal)
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * g) div"
          + " (CAST(n_customers AS DECIMAL(38,0)) * total_cents) AS BIGINT)")
      else expr("(1000000 * g) div (n_customers * total_cents)")
    val topPpm =
      if (decimal)
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * topd) div total_cents AS BIGINT)")
      else expr("(1000000 * topd) div total_cents")
    rk.agg(count(lit(1)).as("n_customers"), sum("x").as("total_cents"),
        gTerm.as("g"),
        sum(when(col("i") > nRow - nRow / 10, col("x")).otherwise(0L)).as("topd"))
      .select(col("n_customers"), col("total_cents"),
        giniPpm.as("gini_ppm"),
        topPpm.as("top_decile_ppm"))
  }

  val all: Seq[Q] = Seq(q168, q169)
}
