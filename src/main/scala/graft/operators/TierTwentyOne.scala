package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Tier 21 (round 8, ninth wave): the three corpus-CURATION shapes still
  * missing between dedup and the mix planner — graph authority, target
  * re-weighting, and diversity-preserving selection.
  *
  *  - q125: fixed-point PageRank over the buyer→supplier purchase graph —
  *    the iterative-graph operator class (source-authority weighting, the
  *    link-graph half of web-corpus curation; Page et al. 1999).
  *  - q126: DSIR-style hashed importance weights (Xie et al., NeurIPS
  *    2023) in q57's integer-ppm arithmetic — score every document by how
  *    target-like its hashed token distribution is.
  *  - q127: cluster-balanced sampling — per-cluster √size quotas over the
  *    q67 Lloyd cells in deterministic hash order: the
  *    diversity-preserving downsample between q48's uniform rate and
  *    q121/SemDeDup's near-twin prune.
  *
  * Reference mapping: none (SURVEY.md §2.1) — north-star LLM-pipeline ops.
  */
object TierTwentyOne {

  import TierFour.{A0, B0, P}

  /** PageRank fixed-point scale: ranks are integer micro-millionths of the
    * total mass (Σ r ≤ S with floor losses). Integer throughout — float
    * ranks would hash-diverge across engines' summation orders (the q57
    * libm/associativity rule). */
  private val S = 1000000000000L
  private val Iters = 3
  /** DSIR hashed-feature buckets (q112's affine hash over the vocab id). */
  private val D2 = 16

  /** One oracle-SQL PageRank iteration from rank CTE `r$i` to `r${i+1}`:
    * per-edge contribution `r // deg` summed into the destination, dangling
    * mass (nodes with no out-edge) redistributed uniformly, 15 % uniform
    * teleport — all BIGINT floor arithmetic. */
  private def iterSql(i: Int): String = {
    val (prev, c, g, next) = (s"r$i", s"c${i + 1}", s"g${i + 1}", s"r${i + 1}")
    s"""$c AS (
       |  SELECT e.dst AS nid, CAST(sum($prev.r // deg.d) AS BIGINT) AS c
       |  FROM e JOIN $prev ON $prev.nid = e.src
       |  JOIN deg ON deg.src = e.src GROUP BY 1),
       |$g AS (
       |  SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
       |  FROM $prev WHERE nid NOT IN (SELECT src FROM e)),
       |$next AS (
       |  SELECT n.nid,
       |         CAST((15 * $S // (100 * cnt))
       |              + (85 * (coalesce($c.c, 0) + ($g.dang // cnt))) // 100
       |            AS BIGINT) AS r
       |  FROM n CROSS JOIN nn CROSS JOIN $g
       |  LEFT JOIN $c ON $c.nid = n.nid)""".stripMargin
  }

  /** Fixed-point PageRank (damping 0.85, 3 iterations) over the directed
    * buyer→supplier graph `orders ⋈ lineitem` — customers even node ids,
    * suppliers odd; suppliers have no out-edges, so their mass re-enters
    * through the dangling term every step. All-integer at scale S (floor
    * division both engines — identical bit-for-bit; a float rank would
    * diverge across partial-agg summation orders).
    *
    * Scale: the edge set, out-degrees, and node set build once and
    * persist; each iteration is ONE shuffle (the contribution groupBy on
    * dst) plus a scalar dangling aggregate that rides a 1-row broadcast —
    * no driver data path beyond the node COUNT (one long, needed for the
    * teleport constant). 3 iterations = 3 shuffles of |E| rows keyed on
    * dst; skewed in-degree (every corpus has a Google) lands on AQE's
    * skew split because the hot key only ever enters a partial+final sum,
    * never a join fan-out.
    */
  val q125 = Q("q125_graph_pagerank",
    s"""WITH e AS (
       |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |n AS (SELECT src AS nid FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM n),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
       |r0 AS (SELECT nid, CAST($S // cnt AS BIGINT) AS r FROM n CROSS JOIN nn),
       |${(0 until Iters).map(iterSql).mkString(",\n")}
       |SELECT nid, r AS rank_fp FROM r$Iters ORDER BY nid""".stripMargin) { (s, dir) =>
    pageRankOver(
      Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst")))
  }

  /** q125's iteration engine over an ARBITRARY directed edge frame
    * `(src, dst)` (duplicates tolerated — deduped on entry). Round 9:
    * delegates to the unified [[Graph]] engine (uniform teleport, [[Iters]]
    * rounds) — one iterate-shuffle-checkpoint skeleton shared with q128/
    * q136/q137, with per-round block release; the result is the engine's
    * single-shot [[Graph.Run.once]] form (execute the returned frame once;
    * the [[Dedup.deduplicate]] contract). */
  private[graft] def pageRankOver(
      rawEdges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Graph.pageRank(rawEdges, iters = Iters).once

  /** DSIR-style hashed importance weight per document (Xie et al. 2023:
    * n-gram features hashed into buckets; weight = how much more likely
    * the document's features are under the TARGET distribution than the
    * RAW one). Target here: the `lang = 'en'` slice; features: q112's
    * affine-hashed unigram buckets (D2 = 16). Integer surrogate in q57's
    * mean-ppm shape — per-bucket probabilities in add-one-smoothed ppm,
    * their ratio in ppm, and the document score the count-weighted mean
    * ratio `Σ c_b·lr_b // n_tok` (order-equivalent to the mean likelihood
    * ratio at fixed length; a float log-weight would hash-diverge across
    * engines' libm — q57's rule).
    *
    * Scale: one corpus tokenize feeds three aggregates that all collapse
    * to ≤ D2+1 rows (bucket tables, totals) and ride broadcasts; the only
    * corpus-scale shuffle in the scoring pass is the final per-doc sum
    * ([[dsirApply]] — the model rides the same broadcast join that fetched
    * the bucket id) — partial+final all the way. The vocab id table reuses
    * [[Cumulative.rowNumber]] (10⁹-token vocabs never pass through one
    * partition). Int64 envelope: `(cnt+1)·10⁶` wraps once ONE bucket
    * holds > 9.2·10¹² tokens — at 16 buckets that is a ~10¹⁴-token
    * (≈ 500 TB) corpus; past that, widen D2 or route the ppm product
    * through DECIMAL(38,0) on both engines (q57's documented envelope).
    */
  val q126 = Q("q126_dsir_weights",
    s"""WITH toks AS (
       |  SELECT doc_id, lang, token FROM (
       |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents)
       |  WHERE token <> ''),
       |vocab AS (
       |  SELECT token, row_number() OVER (ORDER BY token) AS tid
       |  FROM (SELECT DISTINCT token FROM toks)),
       |tb AS (
       |  SELECT doc_id, lang, ((tid % $P) * $A0 + $B0) % $P % $D2 AS b
       |  FROM toks JOIN vocab USING (token)),
       |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tb GROUP BY 1),
       |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct
       |        FROM tb WHERE lang = 'en' GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS tr,
       |               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tt
       |        FROM tb),
       |lr AS (
       |  SELECT raw.b,
       |         (((coalesce(tgt.ct, 0) + 1) * 1000000) // (tt + $D2)) * 1000000
       |           // greatest(((raw.cr + 1) * 1000000) // (tr + $D2), 1) AS lr_ppm
       |  FROM raw LEFT JOIN tgt ON tgt.b = raw.b CROSS JOIN tot),
       |db AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM tb GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
       |       CAST(sum(c * lr_ppm) // sum(c) AS BIGINT) AS dsir_ppm
       |FROM db JOIN lr USING (b) GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    dsirApply(Tables.load(s, dir, "documents").select("doc_id", "text"),
      dsirModel(s, dir), unseenPpm = 0L)
      .orderBy("doc_id")
  }

  /** The batch-LEARNED q126 model as per-TOKEN weights `(token, lr_ppm)` —
    * vocab id → affine bucket → smoothed target/raw ppm ratio, flattened
    * back to the token so [[dsirApply]] is one broadcast join (the join
    * that fetched the bucket id fetches the weight instead — same cost,
    * and Σ over instances of lr(token) ≡ Σ_b c_b·lr_b exactly). */
  private[graft] def dsirModel(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val vocab = Cumulative.rowNumber(s,
      toks.select("token").distinct(), Seq(col("token")), "tid")
      .select(col("token"), expr(s"((tid % $P) * $A0 + $B0) % $P % $D2").as("b"))
    val tb = toks.join(broadcast(vocab), "token")
      .select(col("lang"), col("b"))
      .persist() // raw/tgt/tot all fold it
    val raw = tb.groupBy("b").agg(count(lit(1)).as("cr"))
    val tgt = tb.filter(col("lang") === "en").groupBy("b").agg(count(lit(1)).as("ct"))
    val tot = tb.agg(count(lit(1)).as("tr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tt"))
    val lr = raw.join(tgt, Seq("b"), "left").crossJoin(broadcast(tot))
      .select(col("b"),
        (expr(s"(((coalesce(ct, CAST(0 AS BIGINT)) + 1) * 1000000) div (tt + $D2)) * 1000000")
          .cast("long") /
          expr(s"greatest(((cr + 1) * 1000000) div (tr + $D2), CAST(1 AS BIGINT))"))
          .cast("long").as("lr_ppm"))
    vocab.join(broadcast(lr), "b").select(col("token"), col("lr_ppm"))
  }

  /** Score any `(doc_id, text)` frame against FROZEN per-token weights
    * `(token, lr_ppm)` — the learn-in-batch / score-in-flight split (the
    * s32 frozen-set discipline; s34 pins stream ≡ batch q126). Tokens the
    * model never saw carry `unseenPpm` (the floor a production model
    * ships; q126 itself passes 0 — its model covers its corpus by
    * construction). One broadcast join + one per-doc fold: stateless,
    * micro-batch safe, no corpus-side shuffle beyond the doc_id agg. */
  def dsirApply(docs: org.apache.spark.sql.DataFrame,
      weights: org.apache.spark.sql.DataFrame,
      unseenPpm: Long): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .join(broadcast(weights), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(coalesce(col("lr_ppm"), lit(unseenPpm))).as("w"))
      .select(col("doc_id"), col("n_tok"), expr("w div n_tok").as("dsir_ppm"))

  /** Cluster-balanced sample — keep ⌊√size⌋ vectors per q67 Lloyd cell in
    * the deterministic affine-hash order (rank within cell, keep rank ≤
    * quota): big clusters are squashed, small ones survive nearly whole —
    * the √-law coreset that preserves tail diversity where a uniform rate
    * (q48) would erase it. √ of an integer is IEEE-exact in both engines
    * (unlike ln — correctly-rounded by the standard), so the quota is
    * cross-engine deterministic.
    *
    * Scale: the within-cell rank does NOT use a per-key window — at
    * production k the cells are few and enormous, the classic skewed-window
    * trap. Instead: one GLOBAL [[Cumulative.rowNumber]] over
    * (cell, hash, id) — range-shuffle, no single-partition stage — then
    * each cell's rank is `global − offset(cell) + 1` with the k-row offset
    * table broadcast. Assignment is q67's broadcast-centroid partial-agg
    * argmin; nothing shuffles more than once.
    */
  val q127 = Q("q127_cluster_sample",
    s"""WITH ${TierNine.lloydSql},
       |cs AS (SELECT cid, CAST(count(*) AS BIGINT) AS csize FROM a1 GROUP BY 1),
       |qt AS (SELECT cid, CAST(floor(sqrt(csize)) AS BIGINT) AS quota FROM cs),
       |rk AS (
       |  SELECT a1.cid, a1.vec_id,
       |         row_number() OVER (PARTITION BY a1.cid
       |                            ORDER BY ((a1.vec_id % $P) * $A0 + $B0) % $P,
       |                                     a1.vec_id) AS rk
       |  FROM a1)
       |SELECT CAST(rk.cid AS BIGINT) AS cluster, rk.vec_id,
       |       CAST(rk.rk AS BIGINT) AS rnk
       |FROM rk JOIN qt ON qt.cid = rk.cid
       |WHERE rk.rk <= qt.quota
       |ORDER BY cluster, rnk""".stripMargin) { (s, dir) =>
    val a = TierNine.assignTo(TierNine.embOf(s, dir), TierNine.lloydCentroids(s, dir))
      .select(col("vec_id"), col("cid"),
        expr(s"((vec_id % $P) * $A0 + $B0) % $P").as("h"))
    val g = Cumulative.rowNumber(s, a,
      Seq(col("cid").asc, col("h").asc, col("vec_id").asc), "g").persist() // offsets + join
    val off = g.groupBy("cid").agg(min("g").as("goff"), count(lit(1)).as("csize"))
    g.join(broadcast(off), "cid")
      .select(col("cid"), col("vec_id"), (col("g") - col("goff") + 1).as("rnk"),
        floor(sqrt(col("csize").cast("double"))).cast("long").as("quota"))
      .filter(col("rnk") <= col("quota"))
      .select(col("cid").cast("long").as("cluster"), col("vec_id"), col("rnk"))
      .orderBy("cluster", "rnk")
  }

  val all: Seq[Q] = Seq(q125, q126, q127)
}
