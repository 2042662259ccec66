package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tier 94 (round 13): the winsorized experiment readout and the
  * inter-arrival latency profile.
  *
  *  - q267: WINSORIZED UPLIFT — q199's robust-uplift sibling with the
  *    OTHER classical outlier treatment: instead of DROPPING each arm's
  *    extreme 5 % (trimming), CLAMP them to the 5th/95th order
  *    statistics (winsorizing — Tukey's preference when the tail mass
  *    itself carries signal). Same exact machinery: per-arm value-grouped
  *    counts, ONE two-pass distributed prefix sum, interval-clamp kept
  *    counts, plus the two boundary ORDER STATISTICS (min value with
  *    cum ≥ k+1 / ≥ n−k) re-weighted by k each side. All integer
  *    centi-cents; winsorized mean ≥ trimmed mean-wise comparable,
  *    diff possibly negative (truncation toward zero, the q198 law).
  *  - q268: INTER-EVENT GAP PROFILE — per event type: exact p50/p90/p99
  *    of the within-user inter-arrival gap in seconds. The latency
  *    companion to q179's repeat cadence: gaps from a lag over the
  *    (user, type) sequence — a HIGH-CARDINALITY window partition (one
  *    per user·type, never global) — then the q202 count-of-counts +
  *    distributed prefix rank, with per-type offsets (the q199 arm
  *    convention: group starts collected as a bounded |types|-row read,
  *    never a per-type window over the value spine). Percentile rank
  *    `⌈p·n/100⌉` via `(p·n + 99) // 100` — q202's exact convention.
  *
  * Reference mapping: none (SURVEY.md §2.1) — north-star
  * experimentation / product ops.
  */
object TierNinetyFour {

  /** Per-arm exact 5 %-winsorized mean over a per-user `(arm, cents)`
    * frame: arm → (n, winsorized mean centi-cents). */
  private[graft] def winsorC2(um: DataFrame): Map[Long, (Long, Long)] = {
    val s = um.sparkSession
    val g = um.groupBy("arm", "cents").agg(count(lit(1)).as("cnt"))
    val rk = Cumulative.runningSum(s, g, Seq(col("arm"), col("cents")),
      col("cnt"), "rs").persist() // read by the per-arm collect AND the join
    val na = rk.groupBy("arm").agg(sum("cnt").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val starts = na.scanLeft(0L)(_ + _._2)
    val naDf = s.createDataFrame(na.zipWithIndex.map { case ((a, n), i) =>
      (a, n, starts(i)) }).toDF("arm", "n", "start")
    val cu = rk.join(broadcast(naDf), "arm")
      .withColumn("cum", col("rs") - col("start"))
      .withColumn("k", expr("n div 20")).persist()
    // the two boundary order statistics per arm — a bounded 2-row read
    val bounds = cu.groupBy("arm")
      .agg(min(when(col("cum") >= col("k") + 1, col("cents"))).as("lov"),
        min(when(col("cum") >= col("n") - col("k"), col("cents"))).as("hiv"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val bDf = broadcast(s.createDataFrame(bounds.toSeq.map { case (a, (lo, hi)) =>
      (a, lo, hi) }).toDF("arm", "lov", "hiv"))
    val out = cu
      .withColumn("kc", greatest(lit(0L),
        least(col("cum"), col("n") - col("k"))
          - greatest(col("cum") - col("cnt"), col("k"))))
      .groupBy("arm")
      .agg(first("n").as("n"), first("k").as("k"),
        sum(col("cents") * col("kc")).as("kept"))
      .join(bDf, "arm")
      .select(col("arm"), col("n"),
        expr("CAST(((kept + lov * k + hiv * k) * 100) div n AS BIGINT)")
          .as("win_c2"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    cu.unpersist(blocking = false)
    out
  }

  val q267 = Q("q267_winsorized_uplift",
    s"""WITH ${TierFiftyFive.armSql},
       |g AS (
       |  SELECT arm, cents, CAST(count(*) AS BIGINT) AS cnt
       |  FROM um GROUP BY 1, 2),
       |rk AS (
       |  SELECT arm, cents, cnt,
       |         sum(cnt) OVER (PARTITION BY arm ORDER BY cents) AS cum,
       |         sum(cnt) OVER (PARTITION BY arm) AS n
       |  FROM g),
       |b AS (
       |  SELECT arm,
       |         min(CASE WHEN cum >= n // 20 + 1 THEN cents END) AS lov,
       |         min(CASE WHEN cum >= n - n // 20 THEN cents END) AS hiv
       |  FROM rk GROUP BY 1),
       |w AS (
       |  SELECT rk.arm, any_value(n) AS n, any_value(n) // 20 AS k,
       |         CAST(sum(cents * greatest(0, least(cum, n - n // 20)
       |                     - greatest(cum - cnt, n // 20))) AS BIGINT) AS kept,
       |         any_value(lov) AS lov, any_value(hiv) AS hiv
       |  FROM rk JOIN b ON b.arm = rk.arm GROUP BY 1),
       |m AS (
       |  SELECT arm, n,
       |         CAST(((kept + lov * k + hiv * k) * 100) // n AS BIGINT) AS win_c2
       |  FROM w)
       |SELECT CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
       |       CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
       |       CAST(sum(CASE WHEN arm = 0 THEN win_c2 END) AS BIGINT) AS win_a_c2,
       |       CAST(sum(CASE WHEN arm = 1 THEN win_c2 END) AS BIGINT) AS win_b_c2,
       |       CAST(sum(CASE WHEN arm = 1 THEN win_c2 END)
       |          - sum(CASE WHEN arm = 0 THEN win_c2 END) AS BIGINT) AS diff_c2
       |FROM m""".stripMargin) { (s, dir) =>
    import s.implicits._
    val w = winsorC2(TierFiftyFive.armRevenue(s, dir))
    // both arms must be populated — fail loudly with the arm set instead
    // of a bare NoSuchElementException (the oracle SQL returns NULL sums
    // on an empty arm; an uplift readout over a missing arm is a fixture
    // defect, not an answer — ADVICE r13)
    require(w.contains(0L) && w.contains(1L),
      s"q267 needs both experiment arms populated; got arms " +
        s"{${w.keySet.toSeq.sorted.mkString(",")}}")
    Seq((w(0L)._1, w(1L)._1, w(0L)._2, w(1L)._2, w(1L)._2 - w(0L)._2))
      .toDF("n_a", "n_b", "win_a_c2", "win_b_c2", "diff_c2")
  }

  /** q268's profile over ANY `(event_type, gap_s)` gap frame — the
    * extracted percentile fold (count-of-counts + distributed prefix
    * with per-type offsets). Output
    * `(event_type, n_gaps, p50_s, p90_s, p99_s)`. */
  private[graft] def gapProfile(gaps: DataFrame): DataFrame = {
    val s = gaps.sparkSession
    val cc = gaps.groupBy("event_type", "gap_s").agg(count(lit(1)).as("freq"))
    val rk = Cumulative.runningSum(s, cc, Seq(col("event_type"), col("gap_s")),
      col("freq"), "rs").persist() // read by the per-type collect AND the join
    val nt = rk.groupBy("event_type").agg(sum("freq").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val starts = nt.scanLeft(0L)(_ + _._2)
    val ntDf = s.createDataFrame(nt.zipWithIndex.map { case ((t, n), i) =>
      (t, n, starts(i)) }).toDF("et", "n", "start")
    rk.join(broadcast(ntDf), col("event_type") === col("et"))
      .withColumn("cum", col("rs") - col("start"))
      .groupBy("event_type")
      .agg(first("n").as("n_gaps"),
        min(when(col("cum") >= expr("(50 * n + 99) div 100"), col("gap_s")))
          .as("p50_s"),
        min(when(col("cum") >= expr("(90 * n + 99) div 100"), col("gap_s")))
          .as("p90_s"),
        min(when(col("cum") >= expr("(99 * n + 99) div 100"), col("gap_s")))
          .as("p99_s"))
      .orderBy("event_type")
  }

  val q268 = Q("q268_event_gaps",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |l AS (
      |  SELECT event_type, us,
      |         lag(us) OVER (PARTITION BY user_id, event_type
      |                       ORDER BY us, event_id) AS prev
      |  FROM e),
      |g AS (SELECT event_type, (us - prev) // 1000000 AS gap_s
      |      FROM l WHERE prev IS NOT NULL),
      |cc AS (SELECT event_type, gap_s, CAST(count(*) AS BIGINT) AS freq
      |       FROM g GROUP BY 1, 2),
      |rk AS (
      |  SELECT event_type, gap_s, freq,
      |         sum(freq) OVER (PARTITION BY event_type ORDER BY gap_s) AS cum,
      |         sum(freq) OVER (PARTITION BY event_type) AS n
      |  FROM cc)
      |SELECT event_type, CAST(min(n) AS BIGINT) AS n_gaps,
      |       CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN gap_s END) AS BIGINT) AS p50_s,
      |       CAST(min(CASE WHEN cum >= (90 * n + 99) // 100 THEN gap_s END) AS BIGINT) AS p90_s,
      |       CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN gap_s END) AS BIGINT) AS p99_s
      |FROM rk GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("us"), col("event_id"))
    val gaps = e.withColumn("prev", lag("us", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"),
        expr("(us - prev) div 1000000").as("gap_s"))
    gapProfile(gaps)
  }

  val all: Seq[Q] = Seq(q267, q268)
}
