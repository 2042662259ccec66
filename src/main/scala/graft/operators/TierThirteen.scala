package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tier 13 (round 7): the training-run assembly steps — deterministic
  * corpus shuffle/sharding, oracle-checked batch admission (the s22
  * streaming screen's batch twin), a BPE merge step (tokenizer training),
  * and the embedding-modality dedup APPLY completing the
  * detector→clusters→apply family for vectors.
  *
  * Reference mapping: none of these exist in the reference (its surface
  * stops at windowed counts over tweets — SURVEY.md §2.1); they are the
  * north-star LLM-pipeline operators the engine adds beyond it.
  */
object TierThirteen {

  private val P = 2147483647L
  private val A0 = 2654435761L
  private val B0 = 40503L

  /** Deterministic corpus SHUFFLE + shard manifest — the "randomize
    * training order and cut into shards" step every training run starts
    * from. The permutation is the affine hash of doc_id (q48's constants:
    * pseudo-random, seedless, retry-stable — adding hardware or re-running
    * the job yields the SAME order), and the global position is
    * [[Cumulative.rowNumber]]'s two-pass distributed prefix count over
    * (hash, doc_id) — range-partition + per-partition offsets, NO
    * single-partition window at any corpus size. Shards are fixed 64-doc
    * rank blocks: `shard = (rank − 1) div 64`, so shard boundaries are a
    * pure function of the rank and the manifest (doc → rank → shard) is
    * the query's output — exactly what a sharded export consumes.
    *
    * Scale: one range shuffle on the 8-byte hash + one bounded driver
    * read of per-partition counts (the rowNumber contract); everything
    * downstream of the rank is a codegen'd projection. `doc_id % P`
    * BEFORE the multiply caps the product under 2^63 (q48's overflow
    * remedy).
    */
  val q97 = Q("q97_corpus_shuffle",
    s"""WITH h AS (
       |  SELECT doc_id,
       |         ($A0 * (doc_id % $P) + $B0) % $P AS h
       |  FROM documents),
       |r AS (
       |  SELECT doc_id,
       |         CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS rk
       |  FROM h)
       |SELECT doc_id, rk, CAST((rk - 1) // 64 AS BIGINT) AS shard
       |FROM r ORDER BY rk""".stripMargin) { (s, dir) =>
    val h = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        ((lit(A0) * (col("doc_id") % P) + B0) % P).as("h"))
    Cumulative.rowNumber(s, h, Seq(col("h"), col("doc_id")), "rk")
      .select(col("doc_id"), col("rk"), expr("(rk - 1) div 64").as("shard"))
      .orderBy("rk")
  }

  /** Screen-admission statuses for an incoming batch against a corpus —
    * the library core [[q98]] declares and TierThirteenSpec pins on a
    * hand-built fixture. Statuses, in precedence order:
    *
    *   - `exact`: the batch doc's text digest matches a corpus doc, or a
    *     SMALLER-id batch doc (exact-first — the q26 production ordering:
    *     only distinct documents should reach the sketch).
    *   - `near`: a verified near-dup pair links it to a corpus doc, or to
    *     a smaller-id batch doc. SCREEN semantics, greedy by id: the
    *     partner's own admission fate is not consulted (the chained
    *     variant is q58's cluster apply; the streaming anti-join s22
    *     runs is exactly this shape).
    *   - `admitted`: everything else.
    *
    * `batch`: `(doc_id, lang, text)`; `corpus`: `(doc_id, text)` —
    * doc_ids disjoint from the batch; `pairs`: verified `(doc_a, doc_b)`
    * near-dup pairs over batch∪corpus ids (either orientation; at least
    * one side a batch doc).
    *
    * Scale: the batch is micro-batch-sized, the corpus unbounded — every
    * batch-side frame (digests, min-per-digest, the drop set) is
    * broadcast-sized; the one corpus-scale input is its digest projection,
    * which joins on the 32-byte digest key only (bodies never shuffle;
    * the streaming variant screens against a broadcast Bloom of the same
    * digests, s22).
    */
  def admit(batch: DataFrame, corpus: DataFrame, pairs: DataFrame): DataFrame = {
    val bd = batch.select(col("doc_id"), col("lang"),
      sha2(col("text"), 256).as("dg"))
    val cd = corpus.select(sha2(col("text"), 256).as("dg")).distinct()
    val minPer = bd.groupBy("dg").agg(min("doc_id").as("m"))
    val ex = bd
      .join(broadcast(minPer), "dg")
      .join(cd.withColumn("in_corpus", lit(true)), Seq("dg"), "left")
      .select(col("doc_id"), col("lang"),
        (coalesce(col("in_corpus"), lit(false)) || col("doc_id") > col("m"))
          .as("exact_drop"))
    val prs = pairs.select(col("doc_a").as("o"), col("doc_b").as("me"))
      .unionAll(pairs.select(col("doc_b").as("o"), col("doc_a").as("me")))
    val corpusIds = corpus.select(col("doc_id").as("o"))
      .withColumn("o_in_corpus", lit(true))
    val nd = prs.join(corpusIds, Seq("o"), "left")
      .filter(coalesce(col("o_in_corpus"), lit(false)) || col("o") < col("me"))
      .select(col("me").as("doc_id")).distinct()
      .withColumn("near_drop", lit(true))
    ex.join(broadcast(nd), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("exact_drop"), "exact")
          .when(coalesce(col("near_drop"), lit(false)), "near")
          .otherwise("admitted").as("st"))
  }

  /** Batch ADMISSION end to end, oracle-checked — the s22 streaming
    * ingest screen (quality gate aside) as a declared batch query: an
    * incoming batch (`doc_id % 5 = 0`, q60's split) screens against the
    * corpus through the PERSISTED signature index — exact digest screen
    * first, then [[SigIndex.probe]]'s verified near-dup pairs (frozen
    * corpus vocabulary, batch-vs-index AND batch-vs-batch) — and reports
    * per-language admission counts. Because the testdata carries no exact
    * duplicates, the exact branch is exercised by the FIXTURES.md
    * injection convention: every `doc_id % 45 = 0` batch doc takes corpus
    * doc `doc_id+1`'s text (corpus dup), every `% 45 = 35` takes batch
    * doc `doc_id−10`'s (prior-batch dup) — identical CASE join in both
    * engines, un-injected rows untouched.
    *
    * Scale: [[admit]]'s posture — the probe is the q60 bucket-pruned
    * index join (corpus never re-tokenized), the exact screen joins
    * digest projections only, and every other frame is batch-sized.
    */
  val q98 = Q("q98_batch_admission",
    s"""WITH fix AS (
       |  SELECT d.doc_id, d.lang, coalesce(s.text, d.text) AS text
       |  FROM documents d LEFT JOIN documents s
       |    ON s.doc_id = CASE WHEN d.doc_id % 45 = 0 THEN d.doc_id + 1
       |                       WHEN d.doc_id % 45 = 35 THEN d.doc_id - 10
       |                       ELSE d.doc_id END),
       |alltok AS (
       |  SELECT DISTINCT doc_id, token FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM fix)
       |  WHERE token <> ''),
       |vocab AS (
       |  SELECT token, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS tid
       |  FROM (SELECT DISTINCT token FROM alltok WHERE doc_id % 5 <> 0)),
       |tokid AS (SELECT doc_id, tid FROM alltok JOIN vocab USING (token)),
       |perm AS (
       |  SELECT i, ($A0*(i+1)) % $P AS a, ($B0*(i+1)) % $P AS b
       |  FROM (SELECT unnest(range(32)) AS i)),
       |sig AS (
       |  SELECT doc_id, i, min((a*tid + b) % $P) AS mh
       |  FROM tokid CROSS JOIN perm GROUP BY 1, 2),
       |band AS (
       |  SELECT doc_id, i // 4 AS band,
       |         sum(mh * CASE i % 4 WHEN 0 THEN 2248091 WHEN 1 THEN 17161
       |                             WHEN 2 THEN 131 ELSE 1 END) % $P AS bkey
       |  FROM sig GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM band x JOIN band y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
       |  WHERE x.doc_id % 5 = 0 OR y.doc_id % 5 = 0),
       |sz AS (SELECT doc_id, count(*) AS n FROM tokid GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
       |  FROM cand c
       |  JOIN tokid x ON x.doc_id = c.doc_a
       |  JOIN tokid y ON y.doc_id = c.doc_b AND y.tid = x.tid
       |  GROUP BY 1, 2),
       |pr AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
       |    FROM inter JOIN sz sa ON sa.doc_id = doc_a
       |               JOIN sz sb ON sb.doc_id = doc_b)
       |  WHERE j >= 0.6),
       |b AS (SELECT doc_id, lang, text FROM fix WHERE doc_id % 5 = 0),
       |ex AS (
       |  SELECT b.doc_id, b.lang,
       |         (EXISTS (SELECT 1 FROM fix c
       |                  WHERE c.doc_id % 5 <> 0 AND c.text = b.text)
       |          OR EXISTS (SELECT 1 FROM b b2
       |                     WHERE b2.text = b.text AND b2.doc_id < b.doc_id))
       |         AS exact_drop
       |  FROM b),
       |prs AS (SELECT doc_a AS o, doc_b AS me FROM pr
       |        UNION ALL SELECT doc_b, doc_a FROM pr),
       |nd AS (SELECT DISTINCT me AS doc_id FROM prs
       |       WHERE o % 5 <> 0 OR o < me),
       |fl AS (SELECT e.doc_id, e.lang,
       |         CASE WHEN e.exact_drop THEN 'exact'
       |              WHEN nd.doc_id IS NOT NULL THEN 'near'
       |              ELSE 'admitted' END AS st
       |       FROM ex e LEFT JOIN nd ON nd.doc_id = e.doc_id)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_batch,
       |       CAST(sum(CASE WHEN st = 'exact' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |       CAST(sum(CASE WHEN st = 'near' THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
       |       CAST(sum(CASE WHEN st = 'admitted' THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
       |FROM fl GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val src = docs.select(col("doc_id").as("sid"), col("text").as("stext"))
    // persisted (r16): the injection join feeds FOUR independent scans —
    // the SigIndex build (corpus), the probe (batch), and admit's exact
    // screen reads batch + corpus digests again — each otherwise re-ran
    // the documents self-join. Swept by the harness per entry (the q104
    // persist convention).
    val fix = docs
      .select(col("doc_id"), col("lang"), col("text"),
        when(col("doc_id") % 45 === 0, col("doc_id") + 1)
          .when(col("doc_id") % 45 === 35, col("doc_id") - 10)
          .otherwise(col("doc_id")).as("sid"))
      .join(src, Seq("sid"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("stext"), col("text")).as("text"))
      .persist()
    val batch = fix.filter(col("doc_id") % 5 === 0)
    val corpus = fix.filter(col("doc_id") % 5 =!= 0)
    val name = SigIndex.scratchName(s, "sigidx_q98")
    SigIndex.build(corpus.select("doc_id", "text"), name)
    val pairs = SigIndex.probe(s, name, batch.select("doc_id", "text"))
      .select("doc_a", "doc_b")
    admit(batch, corpus.select("doc_id", "text"), pairs)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("st") === "exact", 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("st") === "near", 1L).otherwise(0L)).as("n_near"),
        sum(when(col("st") === "admitted", 1L).otherwise(0L)).as("n_admitted"))
      .orderBy("lang")
  }

  /** One BPE MERGE step — the inner loop of byte-pair-encoding tokenizer
    * training (Sennrich ACL'16): from the word-frequency table, count
    * every adjacent symbol pair weighted by word frequency and report the
    * top-20 merge candidates. This is the vocabulary-learning primitive
    * the token-counting queries (q32) assume already exists; iterating it
    * k times (re-segmenting `wf` by the chosen merge each round) learns a
    * k-merge vocabulary, and every round touches only the WORD-FREQUENCY
    * table — vocabulary-sized, orders of magnitude below the corpus.
    *
    * Scale: one corpus tokenize folds to `wf` via a partial+final count
    * (the only corpus-scale stage); the pair explode and count run over
    * |vocab|·avg-word-length rows. Single-char words have no pairs and
    * drop on both engines (`length ≥ 2` guards Spark's descending
    * `sequence`).
    */
  val q99 = Q("q99_bpe_merge",
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f
      |       FROM toks WHERE w <> '' GROUP BY 1),
      |pairs AS (
      |  SELECT substring(w, i, 1) AS a, substring(w, i + 1, 1) AS b, f
      |  FROM wf, unnest(range(1, length(w))) AS t(i))
      |SELECT a, b, CAST(sum(f) AS BIGINT) AS weight
      |FROM pairs GROUP BY 1, 2
      |ORDER BY weight DESC, a, b LIMIT 20""".stripMargin) { (s, dir) =>
    val wf = Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("f"))
    wf.filter(length(col("w")) >= 2)
      .select(col("w"), col("f"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(1)).as("a"),
        col("w").substr(col("i") + 1, lit(1)).as("b"), col("f"))
      .groupBy("a", "b").agg(sum("f").as("weight"))
      .orderBy(col("weight").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Embedding-modality dedup APPLY — SemDeDup's action step (Abbas et al.
    * 2023), completing the detector→clusters→apply family for vectors
    * exactly as q26→q55→q53/q58 completes it for text: q35's exact cosine
    * pairs → [[Components]] (the same contraction engine) → keep each
    * cluster's minimum vec_id → per-label totals vs survivors. The
    * production pair source at 100 TB is the bucketed LSH/IVF path
    * (q29/q61/q85's kNN join), feeding the identical downstream.
    *
    * Scale: the pair space is the detector's (bounded by near-dup
    * density, never all-pairs in the production source); `Components` is
    * the spec-gated O(log n)-round contraction; the apply is one
    * broadcast-joinable label frame against the corpus.
    */
  val q100 = Q("q100_semantic_dedup_apply",
    """WITH RECURSIVE
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS ua, b.vec_id AS ub
      |  FROM v a JOIN v b ON a.vec_id < b.vec_id
      |  WHERE list_dot_product(a.e, b.e) /
      |        (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
      |        >= 0.45),
      |edges AS (SELECT ua AS u, ub AS w FROM pairs
      |          UNION SELECT ub, ua FROM pairs),
      |nodes AS (SELECT DISTINCT vec_id AS id FROM embeddings),
      |reach(id, lbl) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.w, r.lbl FROM reach r JOIN edges e ON e.u = r.id WHERE r.lbl < e.w),
      |lab AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id)
      |SELECT CAST(e.label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n_total,
      |       CAST(sum(CASE WHEN lab.lbl = lab.id THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
      |FROM lab JOIN embeddings e ON e.vec_id = lab.id
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val lab = Components.connected(
      emb.select(col("vec_id").as("id")),
      TierFive.embeddingPairs(s, dir)
        .select(col("vec_id_a").as("src"), col("vec_id_b").as("dst")))
    lab.join(emb.select(col("vec_id").as("id"), col("label")), "id")
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("lbl") === col("id"), 1L).otherwise(0L)).as("n_survivors"))
      .orderBy("label")
  }

  val all: Seq[Q] = Seq(q97, q98, q99, q100)
}
