package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tier 18 (round 8, sixth wave): vocabulary hygiene and model-score
  * diagnostics.
  *
  *  - q119: rare-token scrub — fold tokens below a corpus-frequency floor
  *    into `<unk>`: the vocabulary-truncation / OOV-folding step every
  *    tokenizer pipeline runs, and the long-tail suppression that keeps
  *    one-off identifiers (the k-anonymity concern) out of a training
  *    set.
  *  - q120: classifier-score DECILE diagnostics — the calibration table
  *    for q83's quality model: exact decile cuts with each band's score
  *    envelope and mean document length, the "what does the model
  *    actually select for" audit read before trusting a threshold.
  *
  * Reference mapping: none (SURVEY.md §2.1); north-star LLM-pipeline ops.
  */
object TierEighteen {

  import TierFour.{A0, B0, P}

  /** Scrub core over `(doc_id, text)` against a FROZEN rare-token set —
    * the apply form (streamed per micro-batch in s32: the rare set is a
    * corpus artifact learned in batch, the scrub itself is per-doc).
    * Tokens in `rare` (a `(token)` frame) become `<unk>`; the rebuild is
    * q90's per-doc ordered fold. */
  private[graft] def scrubRare(docs: DataFrame, rare: DataFrame): DataFrame = {
    val tp = docs
      .select(col("doc_id"), filter(split(col("text"), " "), x => x =!= "").as("l"))
      .filter(size(col("l")) > 0)
      .select(col("doc_id"), posexplode(col("l")).as(Seq("p", "token")))
    val marked = tp.join(broadcast(rare.select(col("token"), lit(1).as("is_rare"))),
        Seq("token"), "left")
      .select(col("doc_id"), col("p"),
        when(col("is_rare").isNotNull, "<unk>").otherwise(col("token")).as("out"),
        when(col("is_rare").isNotNull, 1L).otherwise(0L).as("hit"))
    val folded = marked.groupBy("doc_id").agg(
      expr("array_join(transform(array_sort(collect_list(named_struct('p', p, 'v', out))), x -> x.v), ' ')")
        .as("scrubbed"),
      sum("hit").as("n_replaced"))
    docs.select("doc_id").join(folded, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"),
        coalesce(col("n_replaced"), lit(0L)).as("n_replaced"))
  }

  /** Rare-token scrub, threshold K = 3 corpus occurrences. The driver
    * corpus is a closed 31-token vocabulary with no natural tail, so the
    * query INJECTS deterministic rarities first (the q84
    * noise-injection convention — the injection is part of the declared
    * semantics, identical in both engines): docs with `doc_id % 37 = 0`
    * append a doc-unique `rareidN` token (corpus count 1 → scrubbed);
    * docs with `doc_id % 5 = 0` append the shared token `uncommonx`
    * (count = n/5 ≥ 3 at every SF → kept), pinning the threshold
    * boundary from both sides.
    *
    * Scale: the frequency table is vocabulary-sized (folded from one
    * (token) agg with map-side partials); the rare SET — the part that
    * rides a broadcast — is smaller still (only sub-K tokens). The scrub
    * itself is one doc_id-partitioned rebuild (q90's fold). At a real
    * 100 TB tail the rare set can exceed broadcast size: then the marked
    * join flips to a shuffle-hash join on token — same plan minus the
    * broadcast hint, noted here rather than pretending tails are small.
    */
  val q119 = Q("q119_rare_token_scrub",
    s"""WITH aug AS (
       |  SELECT doc_id,
       |         text ||
       |           CASE WHEN doc_id % 37 = 0 THEN ' rareid' || CAST(doc_id AS VARCHAR) ELSE '' END ||
       |           CASE WHEN doc_id % 5 = 0 THEN ' uncommonx' ELSE '' END AS text
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
       |  FROM aug),
       |tp AS (
       |  SELECT doc_id, unnest(range(0, len(l))) AS p, l FROM toks WHERE len(l) > 0),
       |t1 AS (SELECT doc_id, p, l[p + 1] AS token FROM tp),
       |freq AS (SELECT token, count(*) AS c FROM t1 GROUP BY 1),
       |rare AS (SELECT token FROM freq WHERE c < 3),
       |m AS (
       |  SELECT t.doc_id, t.p,
       |         CASE WHEN r.token IS NOT NULL THEN '<unk>' ELSE t.token END AS out,
       |         CASE WHEN r.token IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM t1 t LEFT JOIN rare r USING (token)),
       |f AS (
       |  SELECT doc_id, array_to_string(list(out ORDER BY p), ' ') AS scrubbed,
       |         CAST(sum(hit) AS BIGINT) AS n_replaced
       |  FROM m GROUP BY 1)
       |SELECT d.doc_id, coalesce(f.scrubbed, '') AS scrubbed,
       |       coalesce(f.n_replaced, 0) AS n_replaced
       |FROM documents d LEFT JOIN f USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val aug = Tables.load(s, dir, "documents")
      .select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 37 === 0,
          concat(lit(" rareid"), col("doc_id").cast("string"))).otherwise(""),
        when(col("doc_id") % 5 === 0, " uncommonx").otherwise("")).as("text"))
    val toks = aug
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val rare = toks.groupBy("token").agg(count(lit(1)).as("c"))
      .filter(col("c") < 3).select("token")
    scrubRare(aug, rare).orderBy("doc_id")
  }

  /** Classifier-score decile diagnostics — q83's scored corpus cut at
    * EXACT deciles (rank over `score_c DESC, doc_id`; decile 1 = the
    * model's favorite tenth), each band reporting its score envelope and
    * integer mean token count: the calibration read ("does a high score
    * mean long documents?") that precedes operating any threshold
    * (q105's gate). Exact ranks, never ntile — engine tie placement
    * differs.
    *
    * Scale: q83's broadcast-join scoring, [[Cumulative.rowNumber]]'s
    * two-pass distributed rank, token counts a narrow
    * `size(filter(split))` projection joined doc-keyed, and the final
    * fold is 10 rows. `n` rides the broadcast one-row frame.
    */
  val q120 = Q("q120_score_deciles",
    s"""WITH toks AS (
       |  SELECT doc_id, token FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
       |  WHERE token <> ''),
       |vocab AS (
       |  SELECT token, row_number() OVER (ORDER BY token) AS tid
       |  FROM (SELECT DISTINCT token FROM toks)),
       |wts AS (
       |  SELECT b AS bucket,
       |         CAST(((b * $A0 + $B0) % $P) % 2001 - 1000 AS BIGINT) AS w
       |  FROM (SELECT unnest(range(4096)) AS b)),
       |feat AS (
       |  SELECT doc_id, ((tid % $P) * $A0 + $B0) % $P % 4096 AS bucket
       |  FROM toks JOIN vocab USING (token)),
       |sc AS (
       |  SELECT doc_id, CAST(sum(w) AS BIGINT) AS score_c
       |  FROM feat JOIN wts USING (bucket) GROUP BY 1),
       |scored AS (
       |  SELECT d.doc_id, coalesce(sc.score_c, 0) AS score_c
       |  FROM documents d LEFT JOIN sc USING (doc_id)),
       |tc AS (
       |  SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
       |  FROM documents),
       |rk AS (
       |  SELECT doc_id, score_c,
       |         row_number() OVER (ORDER BY score_c DESC, doc_id) AS rk
       |  FROM scored),
       |n AS (SELECT count(*) AS n FROM scored),
       |d AS (
       |  SELECT doc_id, score_c, (rk - 1) * 10 // n + 1 AS decile
       |  FROM rk, n)
       |SELECT CAST(decile AS BIGINT) AS decile,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(min(score_c) AS BIGINT) AS lo,
       |       CAST(max(score_c) AS BIGINT) AS hi,
       |       CAST(sum(n_tok) // count(*) AS BIGINT) AS tok_pd
       |FROM d JOIN tc USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val scored = TierEleven.classifierScores(s, dir)
    val ranked = Cumulative.rowNumber(s, scored,
      Seq(col("score_c").desc, col("doc_id").asc), "rk").persist() // count + decile join
    val n = ranked.agg(count(lit(1)).as("n"))
    val tc = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), x => x =!= "")).cast("long").as("n_tok"))
    ranked.join(broadcast(n))
      .withColumn("decile", expr("(rk - 1) * 10 div n + 1"))
      .join(tc, "doc_id")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        min("score_c").as("lo"), max("score_c").as("hi"),
        expr("sum(n_tok) div count(1)").as("tok_pd"))
      .select(col("decile").cast("long").as("decile"), col("n_docs"),
        col("lo"), col("hi"), col("tok_pd"))
      .orderBy("decile")
  }

  val all: Seq[Q] = Seq(q119, q120)
}
