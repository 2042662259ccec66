package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Tier 31 (round 10, third wave): relational closers the analytics
  * surface still lacked — the bipartite projection and the interval
  * sweep-line.
  *
  *  - q146: CO-PURCHASE PROJECTION — the bipartite customer→supplier
  *    purchase graph projected onto supplier-supplier edges weighted by
  *    shared customers (the "also bought from" graph; collaborative
  *    filtering's item-item co-occurrence, the relational twin of q131's
  *    token collocation). Top-20 pairs in the pinned order.
  *  - q147: PEAK CONCURRENCY — per day, the maximum number of
  *    simultaneously-open user sessions (q36's 6-hour-gap sessions,
  *    closed intervals [first_ts, last_ts]): the "peak concurrent users"
  *    dashboard metric, computed as one GLOBAL sweep-line — ±1 deltas at
  *    interval ends, [[Cumulative.runningSum]]'s two-pass distributed
  *    prefix sum (never a partitionless window), day-boundary markers so
  *    every day reads its carry-in exactly.
  *
  * Reference mapping: none (SURVEY.md §2.1) — north-star analytics ops.
  */
object TierThirtyOne {

  private val TopK = 20
  private val DayUs = 86400000000L

  /** Supplier pairs by shared distinct customers. The per-customer
    * self-join is quadratic in customer degree — bounded here by the
    * supplier universe (TPC-H customers spread orders widely, so the
    * projection is dense and SMALL: |S|²/2 candidate pairs); at corpus
    * scale the guard is a degree cap on pathological hub customers
    * (drop or sample customers touching > D suppliers — the standard
    * projection-graph mitigation, same family as the LSH band bound),
    * which only REMOVES pairs the hub would have connected.
    */
  val q146 = Q("q146_copurchase",
    s"""WITH cs AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |p AS (
       |  SELECT a.s AS s_a, b.s AS s_b, CAST(count(*) AS BIGINT) AS shared
       |  FROM cs a JOIN cs b ON b.c = a.c AND a.s < b.s
       |  GROUP BY 1, 2)
       |SELECT s_a, s_b, shared FROM p
       |ORDER BY shared DESC, s_a, s_b LIMIT $TopK""".stripMargin) { (s, dir) =>
    val orders = Tables.load(s, dir, "orders")
    val lineitem = Tables.load(s, dir, "lineitem")
    // both salted self-join legs re-materialize cs — persisted, the
    // orders⋈lineitem join + distinct runs once (q154's r15 fix; swept
    // by Verify/Bench's per-query hygiene)
    val cs = orders.join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("su")).distinct()
      .persist()
    // whale-customer guard: salt the c-keyed self-join (q154's guard);
    // the half variant keeps each unordered pair once
    Skew.saltedCoPairsHalf(cs, col("c"), col("su"))
      .groupBy(col("ia").as("s_a"), col("ib").as("s_b"))
      .agg(count(lit(1)).as("shared"))
      .orderBy(desc("shared"), col("s_a"), col("s_b"))
      .limit(TopK)
  }

  /** Per event-day peak concurrent sessions. Closed intervals: a session
    * covers every instant in [s_us, e_us], so deltas are +1 at s_us and
    * −1 at e_us + 1 µs; summing deltas PER INSTANT before the prefix sum
    * kills the only ordering ambiguity (a start and an end landing on
    * the same microsecond), and a 0-delta marker at each event-day's
    * first microsecond makes the day's carry-in an explicit sweep point,
    * so a day whose peak is the overnight carry still reports it. Every
    * day a session touches holds events (consecutive in-session events
    * are < 6 h apart, and a session boundary IS an event instant), so
    * the event-day set is exactly the active-day set — no day series to
    * generate, no driver-side bounds read. The prefix sum is
    * [[Cumulative.runningSum]] — range-partitioned two-pass, ≤
    * #partitions longs to the driver, no SinglePartition window
    * anywhere.
    */
  val q147 = Q("q147_peak_concurrency",
    """WITH o AS (
      |  SELECT user_id, ts,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |               OR ts - lag(ts) OVER w >= INTERVAL 6 HOUR THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sess
      |  FROM o),
      |iv AS (
      |  SELECT epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
      |  FROM s GROUP BY user_id, sess),
      |evd AS (
      |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day_idx FROM events),
      |del AS (
      |  SELECT s_us AS us, 1 AS d FROM iv
      |  UNION ALL SELECT e_us + 1, -1 FROM iv
      |  UNION ALL SELECT day_idx * 86400000000, 0 FROM evd),
      |gr AS (SELECT us, sum(d) AS d FROM del GROUP BY us),
      |c AS (SELECT us, sum(d) OVER (ORDER BY us) AS conc FROM gr)
      |SELECT v.day_idx, CAST(max(c.conc) AS BIGINT) AS peak
      |FROM c JOIN evd v ON c.us // 86400000000 = v.day_idx
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
    val evDays = ev
      .select(expr(s"unix_micros(CAST(ts AS TIMESTAMP)) div $DayUs").as("day_idx"))
      .distinct()
    val iv = ev
      .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
      .agg(expr("unix_micros(CAST(min(ts) AS TIMESTAMP))").as("s_us"),
        expr("unix_micros(CAST(max(ts) AS TIMESTAMP))").as("e_us"))
      .select("s_us", "e_us")
    val deltas = iv.select(col("s_us").as("us"), lit(1L).as("d"))
      .union(iv.select((col("e_us") + 1).as("us"), lit(-1L).as("d")))
      .union(evDays.select((col("day_idx") * DayUs).as("us"), lit(0L).as("d")))
      .groupBy("us").agg(sum("d").as("d"))
    val cum = Cumulative.runningSum(s, deltas, Seq(col("us")), col("d"), "conc")
    cum.select(expr(s"us div $DayUs").as("day_idx"), col("conc"))
      .join(evDays, Seq("day_idx"), "left_semi")
      .groupBy("day_idx").agg(max("conc").as("peak"))
      .orderBy("day_idx")
  }

  val all: Seq[Q] = Seq(q146, q147)
}
