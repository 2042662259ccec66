package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tier 88 (round 13): the blocking-quality audit for the dedup stack,
  * and the panel-data causal readout for the experiment stack.
  *
  *  - q255: BLOCKING AUDIT (reduction ratio / pairs completeness /
  *    pairs quality — Christen 2012's record-linkage triple) — grades
  *    the q26 MinHash-LSH CANDIDATE generator against exact truth: the
  *    complete Jaccard ≥ 0.6 pair set (exact because J > 0 requires a
  *    shared token — the q23 prefilter argument — so no true pair
  *    escapes the shared-token/mask universe). Completeness = caught
  *    true pairs / all true pairs (LSH recall — the number the 8×4
  *    banding trades away), quality = true candidates / all candidates
  *    (how much verification work is wasted), reduction = 1 −
  *    candidates / n(n−1)/2 (how much of the quadratic pair space the
  *    blocking avoided). The meta-query over the whole dedup family:
  *    q26 ships the pairs, q255 ships the evidence the banding choice
  *    is sound.
  *  - q256: DIFFERENCE-IN-DIFFERENCES (the two-period two-group panel
  *    readout; Card & Krueger 1994 popularized the design) — treat =
  *    user parity, post = the calendar midpoint, outcome = event value
  *    in exact micro units (`floor(10⁶·value)` per event, never a
  *    float sum). The DiD effect is closed over the four cell sums
  *    with ONE truncating division of exact integers (common
  *    denominator Π nᵢ — BigInt driver closure over 8 scalars, the
  *    q231 convention; oracle side HUGEINT; DuckDB `//`, Spark `div`
  *    and BigInt `/` all truncate toward zero, the q198 law, so the
  *    possibly-negative effect agrees bit for bit).
  *
  * Scale: q255's truth side is the q23 adaptive plan (64-bit mask BNL
  * with length/shared-token prefilters on dictionary corpora, token
  * join otherwise) and its candidate side rides the q26 posting
  * shuffle — both the production shapes; the audit itself reads FOUR
  * scalars. q256 is one partial+final 8-scalar aggregation.
  *
  * Reference mapping: none (SURVEY.md §2.1) — north-star dedup /
  * experimentation ops.
  */
object TierEightyEight {

  /** Truncating ppm share with the declared empty-denominator = 10⁶. */
  private def ppm(num: BigInt, den: BigInt): Long =
    if (den == 0) 1000000L else (num * 1000000 / den).toLong

  /** q255's audit over ANY `(doc_id, text)` corpus — the extracted
    * library face. Output one row:
    * `(n_docs, n_true, n_cand, n_caught, completeness_ppm, quality_ppm,
    * reduction_ppm)`. Four bounded driver reads (counts), BigInt
    * closure for the ratios (n(n−1)/2 wraps Int64 past ~3·10⁹ docs). */
  private[graft] def blockingAudit(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val nDocs = docs.count()
    val t = TextOps.tokOf(docs.select("doc_id", "text")).persist()
    val v = TextOps.vocab(t).persist() // read by the dispatch count AND the tokid join
    val tokid = TextOps.tokid(t, v).persist()
    val bkeys = TierFour.bandKeys(tokid)
    val isTrue = expr("5 * i >= 3 * (na + nb - i)") // J ≥ 3/5, exact integers
    val (nTrue, nCand, nCaught) =
      if (TextOps.smallVocab(v)) {
        val m = TextOps.tokenMasks(tokid).persist()
        val a = m.select(col("doc_id").as("doc_a"), col("mask").as("ma"),
          col("n").as("na"))
        val b = broadcast(m.select(col("doc_id").as("doc_b"),
          col("mask").as("mb"), col("n").as("nb")))
        // truth: complete by the shared-token argument — the prefilters
        // only drop pairs that cannot reach J ≥ 0.6
        val truth = a.join(b, col("doc_a") < col("doc_b")
            && col("na") * 5 >= col("nb") * 3 && col("nb") * 5 >= col("na") * 3
            && (col("ma").bitwiseAND(col("mb")) =!= 0))
          .withColumn("i", expr("cast(bit_count(ma & mb) as bigint)"))
          .filter(isTrue)
        // candidates: masks ride the posting shuffle (the q26 fast path),
        // so caught is a pure filter on the candidate stream — no re-join.
        // cand + caught fold in ONE aggregation pass over the un-persisted
        // candidate stream (r16): the stream is consumed exactly once, so
        // persisting it only added a cache write, and the second count()
        // was a second action over it.
        val postings = bkeys.join(m, "doc_id")
          .select(col("doc_id"), col("ks"), col("mask"), col("n"),
            posexplode(col("ks")).as(Seq("band", "bkey"))).persist()
        val cc = TierFour.bandJoinPairs(postings, postings, ordered = true,
            Seq(("mask", "ma", "mb"), ("n", "na", "nb")))
          .withColumn("i", expr("cast(bit_count(ma & mb) as bigint)"))
          .agg(count(lit(1)).as("nc"),
            coalesce(sum(when(isTrue, 1L).otherwise(0L)), lit(0L)).as("nk"))
          .head()
        (truth.count(), cc.getLong(0), cc.getLong(1))
      } else {
        // truth via the PPJoin prefix-filtered plan (round 15 — complete
        // by the prefix-filter argument, same isTrue verify; the previous
        // unfiltered token self-join was the 10× probe's worst entry)
        val arrs = TextOps.rarestFirstArrays(t).persist()
        val truth = TextOps.ppjoinCandidates(arrs, 3, 5)
          .join(arrs.select(col("doc_id").as("doc_a"), col("sids").as("sa"),
            col("n").as("na")), "doc_a")
          .join(arrs.select(col("doc_id").as("doc_b"), col("sids").as("sb"),
            col("n").as("nb")), "doc_b")
          .withColumn("i", size(array_intersect(col("sa"), col("sb"))).cast("long"))
          .filter(isTrue).select("doc_a", "doc_b").persist()
        val postings = bkeys.select(col("doc_id"), col("ks"),
          posexplode(col("ks")).as(Seq("band", "bkey"))).persist()
        val cand = TierFour.bandJoinPairs(postings, postings, ordered = true, Nil)
          .select("doc_a", "doc_b").persist()
        (truth.count(), cand.count(),
          cand.join(truth, Seq("doc_a", "doc_b")).count())
      }
    val n0 = BigInt(nDocs) * (nDocs - 1) / 2
    Seq((nDocs, nTrue, nCand, nCaught,
      ppm(BigInt(nCaught), BigInt(nTrue)),
      ppm(BigInt(nCaught), BigInt(nCand)),
      ppm(n0 - nCand, n0)))
      .toDF("n_docs", "n_true", "n_cand", "n_caught",
        "completeness_ppm", "quality_ppm", "reduction_ppm")
  }

  val q255 = Q("q255_blocking_audit",
    s"""WITH ${TierFour.tokSql},
       |perm AS (
       |  SELECT i, (${TierFour.A0}*(i+1)) % ${TierFour.P} AS a,
       |         (${TierFour.B0}*(i+1)) % ${TierFour.P} AS b
       |  FROM (SELECT unnest(range(32)) AS i)),
       |sig AS (
       |  SELECT doc_id, i, min((a*tid + b) % ${TierFour.P} ) AS mh
       |  FROM tokid CROSS JOIN perm GROUP BY 1, 2),
       |band AS (
       |  SELECT doc_id, i // 4 AS band,
       |         sum(mh * CASE i % 4 WHEN 0 THEN 2248091 WHEN 1 THEN 17161
       |                             WHEN 2 THEN 131 ELSE 1 END) % ${TierFour.P} AS bkey
       |  FROM sig GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM band x JOIN band y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tokid GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(count(*) AS BIGINT) AS i
       |  FROM tokid a JOIN tokid b ON a.tid = b.tid AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT i.doc_a, i.doc_b
       |  FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a
       |               JOIN sz sb ON sb.doc_id = i.doc_b
       |  WHERE 5 * i.i >= 3 * (sa.n + sb.n - i.i)),
       |ct AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM cand),
       |tt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM truth),
       |ck AS (SELECT CAST(count(*) AS BIGINT) AS k
       |       FROM truth t JOIN cand c
       |         ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
       |SELECT nd.n AS n_docs, tt.nt AS n_true, ct.nc AS n_cand, ck.k AS n_caught,
       |       CAST(CASE WHEN tt.nt = 0 THEN 1000000
       |            ELSE (1000000 * CAST(ck.k AS HUGEINT)) // tt.nt END AS BIGINT)
       |         AS completeness_ppm,
       |       CAST(CASE WHEN ct.nc = 0 THEN 1000000
       |            ELSE (1000000 * CAST(ck.k AS HUGEINT)) // ct.nc END AS BIGINT)
       |         AS quality_ppm,
       |       CAST(CASE WHEN nd.n < 2 THEN 1000000
       |            ELSE ((CAST(nd.n AS HUGEINT) * (nd.n - 1) // 2 - ct.nc)
       |                  * 1000000) // (CAST(nd.n AS HUGEINT) * (nd.n - 1) // 2)
       |            END AS BIGINT) AS reduction_ppm
       |FROM nd, ct, tt, ck""".stripMargin) { (s, dir) =>
    blockingAudit(Tables.load(s, dir, "documents"))
  }

  /** Post-period start, epoch days: 2024-01-16 — the midpoint of the
    * fixture's 30-day window (FIXTURES.md §1; a production run pins its
    * own intervention date). */
  private[graft] val PostDay = 19738L

  /** q256's closure over the four `(n, Σmicro)` cells — BigInt, one
    * truncating division of the exact common-denominator rational.
    * Any empty cell ⇒ declared effect 0 (no contrast to read). */
  private[graft] def didMicro(cells: Map[(Int, Int), (Long, Long)]): Long = {
    val Seq(tPost, tPre, cPost, cPre) =
      Seq((1, 1), (1, 0), (0, 1), (0, 0)).map(k => cells.getOrElse(k, (0L, 0L)))
    if (Seq(tPost, tPre, cPost, cPre).exists(_._1 == 0L)) return 0L
    val den = BigInt(tPost._1) * tPre._1 * cPost._1 * cPre._1
    val num = BigInt(tPost._2) * tPre._1 * cPost._1 * cPre._1 -
      BigInt(tPre._2) * tPost._1 * cPost._1 * cPre._1 -
      BigInt(cPost._2) * tPost._1 * tPre._1 * cPre._1 +
      BigInt(cPre._2) * tPost._1 * tPre._1 * cPost._1
    (num / den).toLong
  }

  val q256 = Q("q256_diff_in_diff",
    s"""WITH e AS (
       |  SELECT user_id % 2 AS treat,
       |         CASE WHEN epoch_us(ts) // 86400000000 >= $PostDay
       |              THEN 1 ELSE 0 END AS post,
       |         CAST(floor(value * 1000000) AS BIGINT) AS v
       |  FROM events),
       |c AS (SELECT treat, post, CAST(count(*) AS BIGINT) AS n,
       |             CAST(sum(v) AS BIGINT) AS s
       |      FROM e GROUP BY 1, 2),
       |w AS (
       |  SELECT
       |    CAST(coalesce(max(CASE WHEN treat=1 AND post=0 THEN n END), 0) AS BIGINT) AS n_t_pre,
       |    CAST(coalesce(max(CASE WHEN treat=1 AND post=1 THEN n END), 0) AS BIGINT) AS n_t_post,
       |    CAST(coalesce(max(CASE WHEN treat=0 AND post=0 THEN n END), 0) AS BIGINT) AS n_c_pre,
       |    CAST(coalesce(max(CASE WHEN treat=0 AND post=1 THEN n END), 0) AS BIGINT) AS n_c_post,
       |    CAST(coalesce(max(CASE WHEN treat=1 AND post=0 THEN s END), 0) AS BIGINT) AS s_t_pre,
       |    CAST(coalesce(max(CASE WHEN treat=1 AND post=1 THEN s END), 0) AS BIGINT) AS s_t_post,
       |    CAST(coalesce(max(CASE WHEN treat=0 AND post=0 THEN s END), 0) AS BIGINT) AS s_c_pre,
       |    CAST(coalesce(max(CASE WHEN treat=0 AND post=1 THEN s END), 0) AS BIGINT) AS s_c_post
       |  FROM c)
       |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
       |       CAST(CASE WHEN n_t_pre = 0 THEN 0 ELSE s_t_pre // n_t_pre END AS BIGINT) AS mean_t_pre_micro,
       |       CAST(CASE WHEN n_t_post = 0 THEN 0 ELSE s_t_post // n_t_post END AS BIGINT) AS mean_t_post_micro,
       |       CAST(CASE WHEN n_c_pre = 0 THEN 0 ELSE s_c_pre // n_c_pre END AS BIGINT) AS mean_c_pre_micro,
       |       CAST(CASE WHEN n_c_post = 0 THEN 0 ELSE s_c_post // n_c_post END AS BIGINT) AS mean_c_post_micro,
       |       CAST(CASE WHEN least(n_t_pre, n_t_post, n_c_pre, n_c_post) = 0 THEN 0
       |            ELSE (CAST(s_t_post AS HUGEINT) * n_t_pre * n_c_post * n_c_pre
       |                - CAST(s_t_pre AS HUGEINT) * n_t_post * n_c_post * n_c_pre
       |                - CAST(s_c_post AS HUGEINT) * n_t_post * n_t_pre * n_c_pre
       |                + CAST(s_c_pre AS HUGEINT) * n_t_post * n_t_pre * n_c_post)
       |              // (CAST(n_t_post AS HUGEINT) * n_t_pre * n_c_post * n_c_pre)
       |            END AS BIGINT) AS did_micro
       |FROM w""".stripMargin) { (s, dir) =>
    import s.implicits._
    val cells = Tables.load(s, dir, "events")
      .select((col("user_id") % 2).cast("int").as("treat"),
        when(expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
          >= PostDay, 1).otherwise(0).as("post"),
        floor(col("value") * 1000000).as("v"))
      .groupBy("treat", "post")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect() // bounded: the 2×2 design — 8 scalars (q231 convention)
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    def cell(t: Int, p: Int) = cells.getOrElse((t, p), (0L, 0L))
    def mean(c: (Long, Long)) = if (c._1 == 0) 0L else c._2 / c._1
    Seq((cell(1, 0)._1, cell(1, 1)._1, cell(0, 0)._1, cell(0, 1)._1,
      mean(cell(1, 0)), mean(cell(1, 1)), mean(cell(0, 0)), mean(cell(0, 1)),
      didMicro(cells)))
      .toDF("n_t_pre", "n_t_post", "n_c_pre", "n_c_post",
        "mean_t_pre_micro", "mean_t_post_micro", "mean_c_pre_micro",
        "mean_c_post_micro", "did_micro")
  }

  val all: Seq[Q] = Seq(q255, q256)
}
