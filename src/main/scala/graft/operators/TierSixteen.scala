package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tier 16 (round 8, third wave): the representation / curation steps that
  * close the remaining gaps between the text family and the vector family.
  *
  *  - q112: feature-hashed bag-of-words document embedding (the hashing
  *    trick, Weinberger et al. ICML'09) — the deterministic text→vector
  *    bridge: every doc gets a signed-count vector without a trained
  *    model, so the whole ANN/semantic-dedup family can run on corpora
  *    that ship no embedding column.
  *  - q113: perplexity head/middle/tail split (CCNet, Wenzek et al.
  *    LREC'20) — q57's corpus LM score cut at EXACT corpus terciles, the
  *    quality stratification CCNet trains its buckets on.
  *  - q114: dedup provenance MANIFEST — the audit artifact a production
  *    dedup must emit: one row per final survivor with the full sorted
  *    member list (exact dups AND near-dup cluster members) that collapsed
  *    into it.
  *  - q115: hard-negative mining (semi-hard sampling in the FaceNet
  *    tradition, Schroff et al. CVPR'15) — per labeled vector, the top-3
  *    most-similar OTHER-label vectors: the contrastive-training pair
  *    source a retrieval model is tuned with.
  *  - q116: per-document TF-IDF keyword extraction — the per-doc
  *    representation (topic tags / routing features) where BM25 (q82) is
  *    the query-side ranking.
  *
  * Reference mapping: none (the reference stops at windowed tweet counts,
  * SURVEY.md §2.1); north-star LLM-pipeline ops.
  */
object TierSixteen {

  import TierFour.{A0, B0, P}

  private val D = 8 // embedding dims for the hashed projection

  /** Feature-hashed signed-count document embedding: token → distributed
    * vocab rank `tid` → affine hash `h`; bucket `h % 8` takes `±count`
    * with the sign drawn from an INDEPENDENT bit of the same hash
    * (`(h div 8) % 2` — decoupled from the bucket bits, the unbiased-sign
    * construction that makes hashed inner products unbiased). All-integer,
    * so both engines hash identically; token-less docs embed as the zero
    * vector via the left join.
    *
    * Scale: one (doc_id, token) count shuffle + one per-doc fold — the 8
    * dims are conditional sums inside a SINGLE aggregation (no pivot
    * shuffle, no per-dim pass), and the vocab join streams against the
    * broadcast rank table exactly as q83's classifier features do. The
    * rank table exists so the oracle can restate the hash on `tid`; a
    * production corpus skips it and hashes the token bytes directly
    * (xxhash64 — [[graft.operators.TierEleven.scoreCol]]'s convention),
    * dropping the distributed-rank pass entirely.
    */
  val q112 = Q("q112_hash_embed",
    s"""WITH toks AS (
       |  SELECT doc_id, token FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
       |  WHERE token <> ''),
       |tc AS (
       |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS cnt
       |  FROM toks GROUP BY 1, 2),
       |vocab AS (
       |  SELECT token, row_number() OVER (ORDER BY token) AS tid
       |  FROM (SELECT DISTINCT token FROM toks)),
       |f AS (
       |  SELECT doc_id,
       |         ((tid % $P) * $A0 + $B0) % $P % $D AS b,
       |         CASE WHEN (((tid % $P) * $A0 + $B0) % $P // $D) % 2 = 0
       |              THEN cnt ELSE -cnt END AS v
       |  FROM tc JOIN vocab USING (token)),
       |e AS (
       |  SELECT doc_id,
       |         ${(0 until D).map(k =>
             s"CAST(sum(CASE WHEN b = $k THEN v ELSE 0 END) AS BIGINT) AS e$k")
             .mkString(",\n       |         ")}
       |  FROM f GROUP BY 1)
       |SELECT d.doc_id, ${(0 until D).map(k => s"coalesce(e$k, 0) AS e$k").mkString(", ")}
       |FROM documents d LEFT JOIN e USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val tc = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
    val vocab = Cumulative.rowNumber(s,
      toks.select("token").distinct(), Seq(col("token")), "tid")
    val f = tc.join(broadcast(vocab), "token")
      .withColumn("h", expr(s"((tid % $P) * $A0 + $B0) % $P"))
      .select(col("doc_id"), expr(s"h % $D").as("b"),
        when(expr(s"(h div $D) % 2") === 0, col("cnt")).otherwise(-col("cnt")).as("v"))
    val e = f.groupBy("doc_id").agg(
      sum(when(col("b") === 0, col("v")).otherwise(0L)).as("e0"),
      (1 until D).map(k =>
        sum(when(col("b") === k, col("v")).otherwise(0L)).as(s"e$k")): _*)
    docs.select("doc_id").join(e, Seq("doc_id"), "left")
      .select(col("doc_id") +: (0 until D).map(k =>
        coalesce(col(s"e$k"), lit(0L)).as(s"e$k")): _*)
      .orderBy("doc_id")
  }

  /** CCNet head/middle/tail perplexity split — q57's bigram-LM score cut
    * at the EXACT corpus terciles (rank ⌈n/3⌉ and ⌈2n/3⌉ of the total
    * order `lm_score DESC, doc_id ASC`; a HIGHER mean-ppm score means the
    * doc's bigrams are corpus-typical, so `head` is the most in-domain
    * third — CCNet's convention with its LM direction flipped to ours).
    * Exact order statistics, never ntile/approx-percentile: approx would
    * hash-diverge across engines, and ntile's tie placement is
    * engine-defined. Docs with < 2 tokens carry no LM score and are out
    * of scope (q57's population). Output: per (bucket, lang) doc counts
    * with each cell's score envelope.
    *
    * Scale: the LM scoring is q57's two-agg + two-join plan; the global
    * rank is [[Cumulative.rowNumber]]'s two-pass distributed prefix count
    * (no single-partition sort anywhere); `n` rides a broadcast
    * single-row frame (the q46/q51 scalar-join convention); the final agg
    * folds to ≤ 3·|langs| rows.
    */
  val q113 = Q("q113_lm_split",
    s"""WITH ${TierSeven.lmCtes},
       |rk AS (
       |  SELECT doc_id, lm_score,
       |         row_number() OVER (ORDER BY lm_score DESC, doc_id) AS rk
       |  FROM lm),
       |n AS (SELECT count(*) AS n FROM lm),
       |b AS (
       |  SELECT doc_id, lm_score,
       |         CASE WHEN rk <= (n + 2) // 3 THEN 'head'
       |              WHEN rk <= (2 * n + 2) // 3 THEN 'middle'
       |              ELSE 'tail' END AS bucket
       |  FROM rk, n)
       |SELECT bucket, lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(min(lm_score) AS BIGINT) AS lo,
       |       CAST(max(lm_score) AS BIGINT) AS hi
       |FROM b JOIN documents USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val lm = TierSeven.lmScores(s, dir).select("doc_id", "lm_score")
    val ranked = Cumulative.rowNumber(s, lm,
      Seq(col("lm_score").desc, col("doc_id").asc), "rk").persist() // count + bucket join
    val n = ranked.agg(count(lit(1)).as("n"))
    val b = ranked.join(broadcast(n))
      .withColumn("bucket",
        when(col("rk") <= expr("(n + 2) div 3"), "head")
          .when(col("rk") <= expr("(2 * n + 2) div 3"), "middle")
          .otherwise("tail"))
    b.join(Tables.load(s, dir, "documents").select("doc_id", "lang"), "doc_id")
      .groupBy("bucket", "lang")
      .agg(count(lit(1)).as("n_docs"),
        min("lm_score").as("lo"), max("lm_score").as("hi"))
      .orderBy("bucket", "lang")
  }

  /** Dedup provenance MANIFEST — the audit artifact of the q58 pipeline:
    * one row per FINAL survivor with every original doc_id that collapsed
    * into it (its exact-dup absorbees plus every member of its near-dup
    * cluster and THEIR absorbees), as `(survivor, n_members, members)`
    * with the member list sorted-numeric and comma-joined (a string both
    * engines render identically). Singleton docs appear as their own
    * 1-member row, so the manifest PARTITIONS the corpus — Σ n_members =
    * |documents|, spec-pinned. The survivor is the cluster label itself
    * (min member id — q58's policy; q104 pins the policy boundary).
    *
    * Scale: the doc→exact-survivor map is one digest-keyed shuffle
    * ([[Dedup.exactSurvivors]]' key discipline — the fixed-width sha2,
    * never the payload); clustering is the q55/q58 `Components` engine;
    * the member fold is one shuffle on cluster with per-cluster-bounded
    * lists (a pathological mega-cluster should be capped + spilled to a
    * side manifest before this fold — same caveat as any collect_list).
    */
  val q114 = Q("q114_dedup_manifest",
    s"""WITH RECURSIVE
       |eg AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS e_surv
       |  FROM documents),
       |corpus AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)),
       |pairs AS (${TierFour.minhashSql("corpus")}),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT doc_id AS id FROM corpus),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.id WHERE r.lbl < e.v),
       |lab AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id)
       |SELECT l.lbl AS survivor, CAST(count(*) AS BIGINT) AS n_members,
       |       string_agg(CAST(g.doc_id AS VARCHAR), ',' ORDER BY g.doc_id) AS members
       |FROM eg g JOIN lab l ON l.id = g.e_surv
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val eMap = docs.select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val eSurv = eMap.groupBy("h").agg(min("doc_id").as("e_surv"))
    val docToE = eMap.join(eSurv, "h").select("doc_id", "e_surv")
    // persisted like q104's: the detector and the Components node set
    // each materialize this frame several times — unpersisted, the
    // sha2-collapse lineage re-executes through every internal pin
    // (the 10× scale probe measured q114 at 4.4× q104 on identical
    // machinery before this line; SCALE.md diagnosis #2)
    val distinctDocs = docs.join(
        eSurv.select(col("e_surv").as("doc_id")), Seq("doc_id"), "left_semi")
      .persist()
    val labeled = Dedup.clusters(distinctDocs)
      .withColumnRenamed("doc_id", "e_surv")
    docToE.join(labeled, "e_surv")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        array_join(
          transform(array_sort(collect_list(col("doc_id"))), _.cast("string")),
          ",").as("members"))
      .select(col("cluster").as("survivor"), col("n_members"), col("members"))
      .orderBy("survivor")
  }

  /** Hard-negative mining — for every labeled vector, the 3 most
    * cosine-similar vectors with a DIFFERENT label (similarity ties on
    * lower neg_id): the contrastive pair source for metric-learning /
    * retrieval fine-tuning, and the label-noise audit (a hard negative at
    * cosine ≈ 1 is usually a mislabeled duplicate). Exact-double cosine,
    * q35's arithmetic; output rounds to 6 dp.
    *
    * Scale: this is the brute-force ANCHOR (q24/q35/q107 posture — the
    * candidate join is a broadcast-NLJ at fixture scale, norms hoisted
    * once per vector, per-vector top-k window partitioned by vec_id).
    * The 100 TB path mines within IVF cells exactly as
    * [[TierFifteen.cellVote]] votes: same-cell candidates + runner-up
    * probe, the label filter riding the celled join — the anchor is what
    * the celled plan's recall is measured against.
    */
  val q115 = Q("q115_hard_negatives",
    """WITH v AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      |p AS (
      |  SELECT a.vec_id, b.vec_id AS neg_id,
      |         list_dot_product(a.e, b.e) /
      |         (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS c
      |  FROM v a JOIN v b
      |    ON a.vec_id <> b.vec_id AND a.label <> b.label),
      |r AS (
      |  SELECT vec_id, neg_id, c,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, neg_id) AS rk
      |  FROM p)
      |SELECT vec_id, neg_id, round(c, 6) AS cos, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin) { (s, dir) =>
    graft.expressions.GraftFunctions.register(s)
    def dot(x: Column, y: Column) = call_function("graft_dot", x, y)
    val v = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
    val a = v.select(col("vec_id"), col("label"), col("e").as("ea"), col("nrm").as("na"))
    val b = v.select(col("vec_id").as("neg_id"), col("label").as("nl"),
      col("e").as("eb"), col("nrm").as("nb"))
    a.join(b, col("vec_id") =!= col("neg_id") && col("label") =!= col("nl"))
      .withColumn("c", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("c").desc, col("neg_id").asc)))
      .filter(col("rk") <= 3)
      .select(col("vec_id"), col("neg_id"), round(col("c"), 6).as("cos"),
        col("rk").cast("long").as("rk"))
      .orderBy("vec_id", "rk")
  }

  /** Per-document TF-IDF keyword extraction — each doc's top-3 tokens by
    * `tf · idf` where idf is the integer per-mille rarity `N·10³ div df`
    * (N = docs holding ≥ 1 token, df = docs holding the token; score ties
    * on token ASC). The per-doc representation — topic tags, routing
    * features, cluster naming — where BM25 (q82) ranks docs for a QUERY.
    * All-integer; int64 envelope: score ≤ tf · N · 10³ — at 10⁹ docs and
    * 10⁵-token docs that is 10¹⁷, an order under the bound (same
    * operating-envelope note as q57's ppm products).
    *
    * Scale: one (doc_id, token) count shuffle; df folds from the per-doc
    * counts (vocabulary-sized, NOT corpus-sized); the tf ⋈ df join keys
    * on token with AQE free to broadcast a dictionary-sized df table; N
    * rides a broadcast single-row frame; the top-3 window partitions by
    * doc — bounded by doc length, never global.
    */
  val q116 = Q("q116_tfidf_keywords",
    """WITH toks AS (
      |  SELECT doc_id, token FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE token <> ''),
      |tf AS (
      |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks GROUP BY 1, 2),
      |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
      |sc AS (
      |  SELECT doc_id, token, tf * ((n * 1000) // df) AS score
      |  FROM tf JOIN df USING (token), n),
      |r AS (
      |  SELECT doc_id, token, score,
      |         row_number() OVER (PARTITION BY doc_id
      |                            ORDER BY score DESC, token) AS rk
      |  FROM sc)
      |SELECT doc_id, token, CAST(score AS BIGINT) AS score, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, dir) =>
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = tf.agg(countDistinct("doc_id").as("n"))
    tf.join(df, "token").join(broadcast(n))
      .select(col("doc_id"), col("token"),
        (col("tf") * expr("(n * 1000) div df")).as("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("token").asc)))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("token"), col("score"),
        col("rk").cast("long").as("rk"))
      .orderBy("doc_id", "rk")
  }

  /** q115's PRODUCTION path — hard negatives mined within IVF cells
    * ([[TierFifteen.cellVote]]'s shape with the label filter riding the
    * celled join): each vector's candidates are the vectors of its own +
    * runner-up Lloyd cell ([[TierEleven.probeAssign]], q85's two-probe
    * widening) with a DIFFERENT label, ranked by the same exact-double
    * cosine. The per-vector window sorts one-to-two cells' worth of
    * candidates, never n, so the whole plan is two cell-keyed shuffles at
    * any corpus size; recall vs the q115 brute-force anchor is measured
    * and floored in TierSixteenSpec. `(vec_id, neg_id, rk)`.
    */
  private[graft] def cellHardNegatives(s: SparkSession, dir: String,
      probe2: Boolean = true, pins: Pins = new Pins): DataFrame = {
    def dot(x: Column, y: Column) = call_function("graft_dot", x, y)
    val emb = TierNine.embOf(s, dir)
    val lbl = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("lb"))
    val cents = pins(TierNine.lloydCentroids(s, dir))
    val own = pins(TierNine.assignTo(emb, cents))
    val xs = TierEleven.probeAssign(emb, cents, own, probe2)
      .join(emb, "vec_id").join(lbl, "vec_id")
      .select(col("cid"), col("vec_id"), col("lb"), col("e").as("xe"))
      .withColumn("nx", sqrt(dot(col("xe"), col("xe"))))
    val ys = own.join(emb, "vec_id").join(lbl, "vec_id")
      .select(col("cid"), col("vec_id").as("neg_id"), col("lb").as("nl"),
        col("e").as("ye"))
      .withColumn("ny", sqrt(dot(col("ye"), col("ye"))))
    xs.join(ys, Seq("cid"))
      .filter(col("vec_id") =!= col("neg_id") && col("lb") =!= col("nl"))
      .withColumn("c", dot(col("xe"), col("ye")) / (col("nx") * col("ny")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("c").desc, col("neg_id").asc)))
      .filter(col("rk") <= 3)
      .select(col("vec_id"), col("neg_id"), col("rk").cast("long").as("rk"))
  }

  /** q112's embed as a reusable column pipeline over an arbitrary
    * `(doc_id, text)` frame against a FROZEN vocab-rank table — the
    * model-apply form: a stream micro-batch embeds against the corpus
    * vocab built once in batch (stream-static join; tokens outside the
    * frozen vocab hash nowhere and drop, the standard OOV policy for a
    * frozen featurizer). Parity with batch q112 is s30's gate.
    */
  private[graft] def hashEmbed(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val f = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
      .join(broadcast(vocab), "token")
      .withColumn("h", expr(s"((tid % $P) * $A0 + $B0) % $P"))
      .select(col("doc_id"), expr(s"h % $D").as("b"),
        when(expr(s"(h div $D) % 2") === 0, col("cnt")).otherwise(-col("cnt")).as("v"))
    val e = f.groupBy("doc_id").agg(
      sum(when(col("b") === 0, col("v")).otherwise(0L)).as("e0"),
      (1 until D).map(k =>
        sum(when(col("b") === k, col("v")).otherwise(0L)).as(s"e$k")): _*)
    docs.select("doc_id").join(e, Seq("doc_id"), "left")
      .select(col("doc_id") +: (0 until D).map(k =>
        coalesce(col(s"e$k"), lit(0L)).as(s"e$k")): _*)
  }

  val all: Seq[Q] = Seq(q112, q113, q114, q115, q116)
}
