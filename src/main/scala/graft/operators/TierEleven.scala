package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tier 11 — the RETRIEVAL and MODEL-APPLY surface of a training-data
  * pipeline: BM25 ranked retrieval (the lexical search every contamination /
  * curation workflow starts from), a hashed-feature linear quality classifier
  * applied as a broadcast model join (the fastText-filter shape of
  * CCNet/GPT-3-style corpus filtering), the text NORMALIZATION pass that
  * precedes every tokenizer, and the per-vector kNN JOIN inside trained IVF
  * cells (the kNN-graph backbone of semantic dedup). Determinism follows the
  * established conventions: integer `div` scoring in a pinned operation
  * order ([[TierSix.q51]]'s ppm convention), the [[TierFour.A0]] affine
  * family for hashing, element-order-deterministic `graft_dot` for float
  * math, ranking on ROUNDED cosines.
  */
object TierEleven {
  import TierFour.{A0, B0, P}

  /** BM25 ranked retrieval for a fixed query ("spark window hash") — the
    * lexical-search primitive. All-integer scoring in a pinned order so
    * both engines agree bit for bit: idf_ppm = (N·10⁶) div df (q51's
    * monotone idf), length norm in parts-per-thousand with k1 = 1.2,
    * b = 0.75 scaled ×1000, per-term score = (tf·2200·idf_ppm) div den.
    *
    * Scale: the broadcast query-term join is the FILTER — only documents
    * containing a query term survive the scan-side join, so the tf/score
    * stages see the posting lists, never the corpus (the inverted-index
    * access path, expressed declaratively). One doc_id-keyed shuffle joins
    * tf with doc length; df and totals are broadcast one-row/|q|-row
    * frames. Operating bound (Int64): tf·2200·idf_ppm < 2⁶³ requires
    * tf·N < 4.2e15 — at N = 10¹¹ docs that allows tf ≤ 42 000 occurrences
    * of one query term in one document; beyond it, compute the product in
    * DECIMAL(38,0) on both engines (ranking unchanged — score is monotone
    * in tf·idf).
    */
  /** The exact-integer BM25 term score, shared verbatim by q82 (direct)
    * and [[LexIndex.probe]] (store-served) — one definition, because the
    * q87 contract is that serving from the store changes no scored bit.
    * Expects columns tf, df, dl, n, total_toks. */
  private[graft] val bm25ScoreSql: String =
    """(tf * 2200 * ((n * 1000000) div df)) div
      |(tf * 1000 +
      | (1200 * (250 + (750 * ((dl * 1000) div (total_toks div n))) div 1000)) div 1000)
      |""".stripMargin.replace("\n", " ")

  /** [[bm25ScoreSql]] with the two wrap-prone terms routed through
    * DECIMAL(38,0): the idf dividend `n·10⁶` (exceeds Int64 past
    * n ≈ 9.2·10¹² documents) and the triple product `tf·2200·idf_ppm`
    * (exceeds it once tf·N > 4.2·10¹⁵ — the scaladoc bound above; under
    * ANSI, Spark 4's default, the integer form then FAILS LOUDLY rather
    * than silently corrupting the ranking, and this pin is the remedy).
    * Identical operation order and `div` truncation, so on the safe
    * regime the two forms are bit-identical (Bm25DispatchSpec pins both
    * regimes); per-term scores and the denominator stay comfortably
    * inside Int64 at any corpus size, so only the dividends widen. */
  private[graft] val bm25ScoreSqlDecimal: String =
    """(cast(tf as decimal(38,0)) * 2200 * ((cast(n as decimal(38,0)) * 1000000) div df)) div
      |(tf * 1000 +
      | (1200 * (250 + (750 * ((dl * 1000) div (total_toks div n))) div 1000)) div 1000)
      |""".stripMargin.replace("\n", " ")

  /** The dispatched term score — session conf `spark.graft.bm25Decimal`
    * (the q57 `modelHint` pattern: a corpus-scale PROMISE the caller
    * pins, because the engine cannot see future ingest): `true` routes
    * the products through DECIMAL for corpora past the Int64 envelope;
    * default stays all-integer (codegen'd long arithmetic, no decimal
    * overhead). Both q82 and [[LexIndex.probe]] read this one dispatch —
    * the q87 store-equivalence contract survives either setting. */
  private[graft] def bm25Score(s: org.apache.spark.sql.SparkSession): String =
    if (s.conf.getOption("spark.graft.bm25Decimal").exists(_.equalsIgnoreCase("true")))
      bm25ScoreSqlDecimal
    else bm25ScoreSql

  val q82 = Q("q82_bm25",
    """WITH toks AS (
      |  SELECT doc_id, token FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE token <> ''),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
      |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
      |               (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS total_toks),
      |q AS (SELECT unnest(['spark', 'window', 'hash']) AS token),
      |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |       FROM toks JOIN q USING (token) GROUP BY 1, 2),
      |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT doc_id,
      |         sum((tf * 2200 * ((n * 1000000) // df)) //
      |             (tf * 1000 +
      |              (1200 * (250 + (750 * ((dl * 1000) // (total_toks // n))) // 1000)) // 1000))
      |           AS score
      |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN tot
      |  GROUP BY 1)
      |SELECT doc_id, CAST(score AS BIGINT) AS score
      |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tot = docs.agg(count(lit(1)).as("n"))
      .crossJoin(dl.agg(sum("dl").as("total_toks")))
    val qterms = s.sql(
      "SELECT * FROM VALUES ('spark'), ('window'), ('hash') AS t(token)")
    val tf = toks.join(broadcast(qterms), "token")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "token").join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("score_t", expr(bm25Score(s)))
      .groupBy("doc_id").agg(sum("score_t").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
  }

  /** Hashed-feature linear quality classifier — the fastText-filter apply
    * shape (CCNet / GPT-3-style corpus filtering): token → dense vocab id
    * (distributed two-pass rank, [[Cumulative.rowNumber]]) → affine hash
    * into 4096 feature buckets → sum the bucket weights over all token
    * OCCURRENCES → threshold at 0 into keep/drop. The weight table stands
    * in for trained parameters (derived deterministically from the bucket
    * id — this sandbox trains nothing) but the PLUMBING is the production
    * shape: the model ships as a (bucket, weight) table and is applied as
    * a BROADCAST join against the feature stream — swap the 4096 rows for
    * a real .bin export and nothing else changes.
    *
    * Scale: vocab rank is the one corpus-vocabulary pass (shared machinery
    * with q26); features then flow scan → broadcast vocab join → broadcast
    * weight join → one doc_id-keyed partial+final sum. Token-less
    * documents score 0 via the left join from `documents`.
    */
  val q83 = Q("q83_quality_classifier",
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
       |  FROM feat JOIN wts USING (bucket) GROUP BY 1)
       |SELECT d.doc_id, coalesce(sc.score_c, 0) AS score_c,
       |       CASE WHEN coalesce(sc.score_c, 0) >= 0 THEN 'keep' ELSE 'drop' END AS label
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    classifierScores(s, dir)
      .withColumn("label",
        when(col("score_c") >= 0, "keep").otherwise("drop"))
      .orderBy("doc_id")
  }

  /** q83's scored corpus as a reusable frame — `(doc_id, score_c)`, every
    * document present (token-less docs score 0 via the left join). The
    * vocab-rank + affine-bucket + broadcast-weight-join plan is q83's;
    * q105's percentile gate consumes it twice (rank pass + admission
    * agg). */
  private[graft] def classifierScores(
      s: SparkSession, dir: String): DataFrame =
    classifierScoresOf(Tables.load(s, dir, "documents"))

  /** [[classifierScores]] over an arbitrary `(doc_id, text, …)` frame —
    * the [[Dedup.artifacts]] build path, which passes its pinned
    * vocabulary as `sharedVocab`. */
  private[graft] def classifierScoresOf(
      docs: DataFrame, sharedVocab: Option[DataFrame] = None): DataFrame = {
    val s = docs.sparkSession
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    // a composed build (Dedup.artifacts) passes the detector's vocabulary
    // — the identical (token, tid) rank over the same corpus dictionary
    // (DedupArtifactsSpec pins scores ≡ the self-training q83 twin), so
    // the corpus is tokenized + rank-shuffled once, not twice (r15)
    val vocab = sharedVocab.getOrElse(Cumulative.rowNumber(s,
        toks.select("token").distinct(), Seq(col("token")), "tid"))
    // one Scala source of truth for the stand-in weights (pseudoWeights —
    // scoreCol's array and this model table must never drift); the oracle
    // SQL restates the formula as the intentional second engine
    val wts = s.range(4096)
      .select(col("id").as("bucket"),
        element_at(typedlit(pseudoWeights.toSeq), (col("id") + 1).cast("int")).as("w"))
    val sc = toks.join(broadcast(vocab), "token")
      .select(col("doc_id"),
        expr(s"((tid % $P) * $A0 + $B0) % $P % 4096").as("bucket"))
      .join(broadcast(wts), "bucket")
      .groupBy("doc_id").agg(sum("w").as("score_c"))
    docs.select("doc_id").join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("score_c"), lit(0L)).as("score_c"))
  }

  /** Text normalization — the pass every tokenizer assumes has already run:
    * strip markup to whitespace, collapse whitespace runs, trim. The
    * fixture INJECTS deterministic noise first (doc_id%3 → <p>…</p> wrap,
    * doc_id%4 → doubled spaces, doc_id%5 → leading/trailing pad), then
    * cleans, so `restored` audits the round trip against the pristine
    * text — the corpus is whitespace-normal by construction (verified at
    * sf0.001/0.01/0.1), so every row restores. Cleaning is idempotent
    * (clean∘clean = clean, spec-pinned).
    *
    * Scale: three codegen'd regex/string ops per row, zero shuffles, runs
    * at scan speed; the ORDER BY is the oracle convention. The regexes
    * avoid engine-divergent classes (`<[^>]*>`, literal-space `+` runs —
    * no \s, whose Java/RE2 semantics differ at Unicode edges).
    */
  val q84 = Q("q84_text_normalize",
    """WITH noisy AS (
      |  SELECT doc_id, text,
      |         CASE WHEN doc_id % 5 = 0 THEN '  ' || s2 || '  ' ELSE s2 END AS noisy
      |  FROM (
      |    SELECT doc_id, text,
      |           CASE WHEN doc_id % 4 = 0 THEN replace(s1, ' ', '  ') ELSE s1 END AS s2
      |    FROM (
      |      SELECT doc_id, text,
      |             CASE WHEN doc_id % 3 = 0 THEN '<p>' || text || '</p>' ELSE text END AS s1
      |      FROM documents))),
      |c AS (
      |  SELECT doc_id, text, noisy,
      |         trim(regexp_replace(regexp_replace(noisy, '<[^>]*>', ' ', 'g'),
      |                             '  +', ' ', 'g')) AS clean
      |  FROM noisy)
      |SELECT doc_id, CAST(length(noisy) AS BIGINT) AS n_noisy,
      |       CAST(length(clean) AS BIGINT) AS n_clean,
      |       CAST(CASE WHEN clean = text THEN 1 ELSE 0 END AS BIGINT) AS restored
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .withColumn("s1",
        when(col("doc_id") % 3 === 0, concat(lit("<p>"), col("text"), lit("</p>")))
          .otherwise(col("text")))
      .withColumn("s2",
        when(col("doc_id") % 4 === 0, regexp_replace(col("s1"), " ", "  "))
          .otherwise(col("s1")))
      .withColumn("noisy",
        when(col("doc_id") % 5 === 0, concat(lit("  "), col("s2"), lit("  ")))
          .otherwise(col("s2")))
      .withColumn("clean", normalize(col("noisy")))
      .select(col("doc_id"),
        length(col("noisy")).cast("long").as("n_noisy"),
        length(col("clean")).cast("long").as("n_clean"),
        when(col("clean") === col("text"), 1L).otherwise(0L).as("restored"))
      .orderBy("doc_id")
  }

  /** Per-vector nearest neighbor WITHIN its trained IVF cell — the kNN
    * JOIN that builds the kNN graph semantic dedup and clustering consume
    * (q24/q29/q43/q70 answer one query; a pipeline needs every vector's
    * neighbor). Cell = q67's Lloyd-trained assignment, so the candidate
    * space is each cell's members — the IVF contract applied symmetrically.
    * Ranking is on the 6-dp-ROUNDED cosine with nn_id ASC tie-break
    * (identical bits both engines: `graft_dot` sums in element order).
    * Vectors alone in their cell emit no row (no neighbor at this probe
    * width; multi-probe widening is q62's pattern).
    *
    * Scale: one shuffle keys both sides by cell id; within a cell the pair
    * space is |cell|² — bounded because k grows with the corpus (k ≈ √n
    * keeps cells ~√n). The argmax is a partial+final `min(struct)` — pair
    * rows are born cell-local, so map-side partials collapse each vector's
    * candidates BEFORE the vec_id shuffle; no window sort ever sees the
    * pair space. Fixture k = 4 (seeds = vec_id < 4, q67's convention).
    */
  val q85 = Q("q85_ann_knn_join",
    s"""WITH ${TierNine.lloydSql},
       |pr AS (
       |  SELECT x.vec_id AS vec_id, y.vec_id AS nn_id,
       |         round(list_dot_product(xv.e, yv.e) /
       |           (sqrt(list_dot_product(xv.e, xv.e)) *
       |            sqrt(list_dot_product(yv.e, yv.e))), 6) AS cos
       |  FROM a1 x JOIN a1 y ON x.cid = y.cid AND x.vec_id <> y.vec_id
       |  JOIN v xv ON xv.vec_id = x.vec_id
       |  JOIN v yv ON yv.vec_id = y.vec_id),
       |top AS (
       |  SELECT vec_id, nn_id, cos, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY cos DESC, nn_id ASC) AS rk
       |  FROM pr)
       |SELECT vec_id, nn_id, cos FROM top WHERE rk = 1
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    knnJoin(s, dir, probe2 = false)
  }

  /** The q85 kNN join with an optional SECOND probe: each query vector also
    * searches its 2nd-nearest Lloyd cell (q62's multi-probe pattern applied
    * to the join shape). The widening is two aggregation passes — own cell
    * via [[TierNine.assignTo]]'s partial+final `min(struct)`, the runner-up
    * by excluding it and min-ing again — never a `collect_list` of all k
    * distances, so it holds at production k. Candidates stay distinct by
    * construction: a neighbor lives in exactly one cell and the two probed
    * cells differ. Measured on the fixture (AnnRecallSpec): global-top-1
    * recall 0.446 single-probe → 0.738 two-probe; 0.714 single-probe in
    * the near-dup regime (neighbor cos ≥ 0.45) the operator targets.
    */
  private[graft] def knnJoin(
      s: org.apache.spark.sql.SparkSession, dir: String,
      probe2: Boolean): org.apache.spark.sql.DataFrame = {
    val emb = TierNine.embOf(s, dir)
    // persist: cents (Lloyd training — a multi-pass corpus aggregation) and
    // own feed two-to-three consumers each; without the pin every consumer
    // re-trains. Swept by Verify/Bench's per-query cache sweep (the q26
    // convention for shared intermediates).
    val cents = TierNine.lloydCentroids(s, dir).persist()
    val own = TierNine.assignTo(emb, cents).persist()
    val xAsg = probeAssign(emb, cents, own, probe2)
    val xs = xAsg.join(emb, "vec_id")
      .select(col("cid"), col("vec_id"), col("e").as("xe"),
        sqrt(TierNine.dotc(col("e"), col("e"))).as("nx"))
    val ys = own.join(emb, "vec_id")
      .select(col("cid"), col("vec_id").as("nn_id"), col("e").as("ye"),
        sqrt(TierNine.dotc(col("e"), col("e"))).as("ny"))
    xs.join(ys, Seq("cid"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos",
        round(TierNine.dotc(col("xe"), col("ye")) / (col("nx") * col("ny")), 6))
      // min(struct(-cos, nn_id, cos)): highest rounded cosine, then lowest
      // nn_id — the oracle's row_number order, as a partial+final agg
      .groupBy("vec_id")
      .agg(min(struct(negate(col("cos")).as("nc"), col("nn_id"), col("cos"))).as("b"))
      .select(col("vec_id"), col("b.nn_id").as("nn_id"), col("b.cos").as("cos"))
      .orderBy("vec_id")
  }

  /** The query-side probe set: each vector's own cell, plus (probe2) its
    * runner-up — the SAME candidate frame assignTo min-aggs over (shared
    * tie-break semantics), minus the own cell. Shared by [[knnJoin]] and
    * [[TierFifteen.cellVote]]. */
  private[graft] def probeAssign(
      emb: org.apache.spark.sql.DataFrame, cents: org.apache.spark.sql.DataFrame,
      own: org.apache.spark.sql.DataFrame, probe2: Boolean): org.apache.spark.sql.DataFrame =
    if (!probe2) own
    else own.unionAll(
      TierNine.candidates(emb, cents)
        .join(own.withColumnRenamed("cid", "cid1"), "vec_id")
        .filter(col("cid") =!= col("cid1"))
        .groupBy("vec_id")
        .agg(min(struct(col("d"), col("cid"))).as("b"))
        .select(col("vec_id"), col("b.cid").as("cid")))

  /** The q83 weight table as a plain array: w(b) for buckets 0..4095 —
    * deterministic stand-ins for trained parameters (see [[q83]]). */
  private[graft] def pseudoWeights: Array[Long] =
    Array.tabulate(4096)(b => ((b.toLong * A0 + B0) % P) % 2001L - 1000L)

  /** Stateless per-row classifier score — the STRING-HASH form of [[q83]]
    * (fastText hashes token strings; q83's vocab-rank form is the
    * oracle-checkable twin): token → `xxhash64` → pmod-4096 bucket → weight
    * looked up in the model array → sum. No vocab table, no joins, no
    * state — a pure column expression, so the SAME gate screens a live
    * stream (s24 parity-pins streamed ≡ batch admissions). Delegates to
    * the native codegen'd [[graft.expressions.ClassifierScore]] (round 6
    * flagged the `aggregate`-HOF fold as CodegenFallback in the ingest hot
    * path); [[scoreColReference]] keeps the declarative form as the
    * differential oracle.
    */
  private[graft] def scoreCol(weights: Array[Long], text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.expressions.ClassifierScore(
        org.apache.spark.sql.GraftSqlBridge.expression(text), weights.toSeq))

  /** The declarative HOF twin of [[scoreCol]] — CodegenFallback, kept as
    * the parity oracle for [[graft.expressions.ClassifierScore]]
    * (ExpressionSpec pins native ≡ HOF bit for bit). */
  private[graft] def scoreColReference(weights: Array[Long], text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val arr = typedlit(weights.toSeq)
    aggregate(
      filter(split(text, " "), t => t =!= ""),
      lit(0L),
      (acc, t) => acc + element_at(arr, (pmod(xxhash64(t), lit(4096)) + 1).cast("int")))
  }

  /** PII redaction — detect and mask emails / phone numbers / IP addresses
    * (the scrub pass every published-corpus pipeline runs before release).
    * The fixture INJECTS deterministic PII first (%3 email, %4 phone, %5
    * IP — mid-text, never terminal, so match counting via split is
    * engine-agnostic), then counts per class and redacts with typed mask
    * tokens. Patterns stick to portable regex (explicit classes and `{n}`
    * counts — no `\d`/`\b`, whose Java/RE2 semantics differ); counts are
    * `len(split_by_pattern) − 1`, replacement is global on both engines.
    *
    * Scale: pure per-row codegen'd regex work, zero shuffles, scan speed —
    * the same posture as q84, and the two compose (normalize, then scrub).
    */
  val q86 = Q("q86_pii_redact",
    """WITH noisy AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 5 = 0 THEN s2 || ' node 192.168.1.77 up' ELSE s2 END AS noisy
      |  FROM (
      |    SELECT doc_id,
      |           CASE WHEN doc_id % 4 = 0 THEN s1 || ' call 555-123-4567 ok' ELSE s1 END AS s2
      |    FROM (
      |      SELECT doc_id,
      |             CASE WHEN doc_id % 3 = 0 THEN text || ' contact bob@example.com now' ELSE text END AS s1
      |      FROM documents))),
      |c AS (
      |  SELECT doc_id,
      |         CAST(len(string_split_regex(noisy, '[a-z0-9.]+@[a-z0-9.]+')) - 1 AS BIGINT) AS n_email,
      |         CAST(len(string_split_regex(noisy, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) - 1 AS BIGINT) AS n_phone,
      |         CAST(len(string_split_regex(noisy, '[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+')) - 1 AS BIGINT) AS n_ip,
      |         regexp_replace(
      |           regexp_replace(
      |             regexp_replace(noisy, '[a-z0-9.]+@[a-z0-9.]+', '[EMAIL]', 'g'),
      |             '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
      |           '[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+', '[IP]', 'g') AS redacted
      |  FROM noisy)
      |SELECT doc_id, n_email, n_phone, n_ip, redacted
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .withColumn("s1",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact bob@example.com now"))).otherwise(col("text")))
      .withColumn("s2",
        when(col("doc_id") % 4 === 0,
          concat(col("s1"), lit(" call 555-123-4567 ok"))).otherwise(col("s1")))
      .withColumn("noisy",
        when(col("doc_id") % 5 === 0,
          concat(col("s2"), lit(" node 192.168.1.77 up"))).otherwise(col("s2")))
      .select(col("doc_id"),
        piiCount(col("noisy"), emailRe).as("n_email"),
        piiCount(col("noisy"), phoneRe).as("n_phone"),
        piiCount(col("noisy"), ipRe).as("n_ip"),
        redact(col("noisy")).as("redacted"))
      .orderBy("doc_id")
  }

  private val emailRe = "[a-z0-9.]+@[a-z0-9.]+"
  private val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private val ipRe = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"

  /** Matches of `re` in `c` (engine-agnostic split counting — matches must
    * not be string-terminal, which the q86 fixture guarantees). */
  private def piiCount(c: org.apache.spark.sql.Column, re: String) =
    (size(split(c, re)) - 1).cast("long")

  /** The q84 normalization as a pure column (strip markup → collapse
    * whitespace runs → trim) — shared by q84 and [[Prepare]]. */
  private[graft] def normalize(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(c, "<[^>]*>", " "), "  +", " "))

  /** The q86 redaction as a pure column — stateless, so the SAME scrub
    * screens a live stream (s26 parity-pins streamed ≡ batch). */
  private[graft] def redact(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailRe, "[EMAIL]"),
        phoneRe, "[PHONE]"),
      ipRe, "[IP]")

  /** BM25 served FROM THE PERSISTED INVERTED INDEX — q82's semantics and
    * oracle (serving from the store must not change a single scored bit,
    * the q80 convention), with the probe reading [[LexIndex]]'s bucketed
    * posting lists: the `token IN (query)` filter prunes the scan to the
    * query terms' buckets (`SelectedBucketsCount` gated in LexIndexSpec),
    * document bodies are never touched, and the declared query pays the
    * one-time build only because the driver runs it cold — the production
    * shape amortizes `build` across every later query (q60's economics,
    * lexical flavor).
    */
  val q87 = Q("q87_bm25_index", q82.oracle.get) { (s, dir) =>
    // per-run unique name (swept at exit): a fixed name would let two
    // concurrent Verify/Bench runs sweep each other's tables mid-probe
    val name = LexIndex.scratchName(s, "lexidx_q87")
    LexIndex.build(
      Tables.load(s, dir, "documents").select("doc_id", "text"), name)
    LexIndex.probe(s, name, Seq("spark", "window", "hash"))
  }

  /** Cohort retention — q81's sibling on the analytics side: users
    * cohorted by FIRST-ACTIVITY day, then counted per (cohort, day-offset)
    * cell of the classic retention matrix. All-integer day arithmetic
    * (epoch-ms div 86400000 — q81's ms-floor convention) keeps both
    * engines bit-identical; `(user, day)` de-dups BEFORE the cell count so
    * a user's many same-day events count once.
    *
    * Scale: first-activity is one user-keyed partial+final min; the
    * day-level activity set de-dups on (user_id, day) — hash shuffle, no
    * sort; the join back to cohorts is user-keyed on both sides (aligned
    * partitioning); the final cell count aggregates to |cohorts|·|offsets|
    * rows. No windows, no per-user arrays — hot users cost their distinct
    * DAYS, not their event count.
    */
  val q88 = Q("q88_retention",
    """WITH d AS (
      |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      |f AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY 1)
      |SELECT CAST(cohort AS BIGINT) AS cohort_day,
      |       CAST(day - cohort AS BIGINT) AS day_offset,
      |       CAST(count(*) AS BIGINT) AS n_users
      |FROM d JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    // persist: d feeds the join's left side AND the cohort min, and the
    // (user, day) partitioning can't serve the user-only join key — without
    // the pin the events scan + de-dup shuffle run twice (swept by
    // Verify/Bench per-query, the q85 convention)
    val d = graft.Tables.load(s, dir, "events")
      .select(col("user_id"),
        expr("unix_millis(cast(ts as timestamp)) div 86400000").as("day"))
      .distinct()
      .persist()
    val f = d.groupBy("user_id").agg(min("day").as("cohort"))
    d.join(f, "user_id")
      .groupBy(col("cohort").as("cohort_day"),
        (col("day") - col("cohort")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Repeated-span detection — the EXACT-SUBSTRING dedup family (the
    * suffix-array method of "Deduplicating Training Data Makes Language
    * Models Better", re-expressed relationally): positions whose 8-token
    * shingle occurs ≥ 2 times anywhere in the corpus are flagged, and runs
    * of CONSECUTIVE flagged positions assemble into maximal repeated spans
    * (`p − row_number` gaps-and-islands), reported when ≥ 16 tokens. The
    * fixture appends a fixed 19-token boilerplate tail to every 7th doc —
    * deterministic cross-doc repeats with random (unflagged) boundaries.
    *
    * Scale: shingle df is one shuffle on the shingle string; the islands
    * window partitions BY DOC (each partition is one doc's flagged
    * positions — bounded by doc length, never a global sort). This is the
    * span-level complement of q77 (corpus-level boilerplate ratio) and
    * q22/q26 (whole-doc dedup): it yields the CUT LIST (doc, start, len)
    * an exact-substring dedup pass consumes.
    */
  /** The q89/q90 fixture's injected boilerplate — ONE definition
    * interpolated into the SQL oracle and used by the Spark runner (and
    * the specs): the two fixtures must never drift. */
  private[graft] val spanTail: String =
    " the quick brown fox jumps over the lazy dog while spark" +
      " shuffles data across the cluster during window aggregation"

  /** Shared SQL prefix for q89/q90: noisy fixture → token arrays → 8-gram
    * shingles by position → repeated set → flagged runs → spans `g`. */
  private val spansSql: String =
    s"""noisy AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 7 = 0 THEN text ||
      |           '$spanTail'
      |         ELSE text END AS text
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
      |  FROM noisy),
      |pos AS (
      |  SELECT doc_id, l, unnest(range(0, len(l) - 7)) AS p
      |  FROM toks WHERE len(l) >= 8),
      |sh AS (
      |  SELECT doc_id, p, array_to_string(list_slice(l, p + 1, p + 8), ' ') AS s
      |  FROM pos),
      |rep AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 2),
      |f AS (
      |  SELECT doc_id, p, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rn
      |  FROM sh JOIN rep USING (s)),
      |g AS (
      |  SELECT doc_id, min(p) AS span_start, max(p) - min(p) + 8 AS span_len
      |  FROM f GROUP BY doc_id, p - rn)""".stripMargin

  /** The noisy fixture's token arrays (shared by q89's detector and q90's
    * apply — one tokenizer definition, the LexIndex lesson). */
  private def noisyToks(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "documents")
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(spanTail)))
          .otherwise(col("text")))
      .select(col("doc_id"), filter(split(col("text"), " "), x => x =!= "").as("l"))

  /** q89's span frame `(doc_id, span_start, span_len)` un-ordered, from a
    * caller-supplied token frame (q90 persists one frame and feeds both
    * the detector and the strip — one corpus tokenize, not three).
    * `private[graft]` so the randomized differential can drive it with
    * arbitrary synthetic corpora, not just the declared fixture. */
  private[graft] def spansOf(noisy: org.apache.spark.sql.DataFrame) = {
    val toks = noisy
      // q63's guard: sequence(0, negative) throws where range() is empty
      .filter(size(col("l")) >= 8)
    val sh = toks.select(col("doc_id"),
      posexplode(expr(
        "transform(sequence(0, size(l) - 8), p -> array_join(slice(l, p + 1, 8), ' '))"))
        .as(Seq("p", "s")))
    val rep = sh.groupBy("s").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("s")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
    sh.join(rep, "s")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"), (col("p") - col("rn")).as("grp"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) - min(col("p")) + 8).as("span_len"))
      .filter(col("span_len") >= 16)
      .select("doc_id", "span_start", "span_len") // drop the island key
  }

  val q89 = Q("q89_repeated_spans",
    s"""WITH $spansSql
       |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
       |       CAST(span_len AS BIGINT) AS span_len
       |FROM g WHERE span_len >= 16 ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
    spansOf(noisyToks(s, dir))
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        col("span_len").cast("long").as("span_len"))
      .orderBy("doc_id", "span_start")
  }

  /** Span-strip APPLY — q89's cut list executed (the detector+apply
    * convention of q53/q58): every token position covered by a reported
    * span is removed, the remaining tokens rejoin in order, and every
    * document appears in the output (uncut docs pass through; a fully-cut
    * doc yields the empty string). This is the conservative boilerplate
    * strip; keep-first-occurrence variants change only which side of the
    * cut list survives, not this plan's shape. Note: token-space spans can
    * OVERLAP (flagged islands < 8 positions apart both extend +8 tokens);
    * removal is the UNION of covered positions — the anti-join gives that
    * for free (TierElevenSpec pins the arithmetic).
    *
    * Scale: covered positions explode from the span frame (|spans| ·
    * span_len rows — the cut list, not the corpus), anti-join against the
    * position-exploded tokens on (doc_id, p), and the rebuild is one
    * per-doc `array_sort(collect_list(struct(p, token)))` — grouped by
    * doc, bounded by doc length (the q63/lloyd collect convention).
    */
  val q90 = Q("q90_span_strip",
    s"""WITH $spansSql,
       |cut AS (SELECT doc_id, span_start, span_len FROM g WHERE span_len >= 16),
       |tp AS (
       |  SELECT doc_id, unnest(range(0, len(l))) AS p, l FROM toks WHERE len(l) > 0),
       |tok1 AS (SELECT doc_id, p, l[p + 1] AS token FROM tp),
       |kept AS (
       |  SELECT t.doc_id, t.p, t.token FROM tok1 t
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM cut c WHERE c.doc_id = t.doc_id
       |      AND t.p >= c.span_start AND t.p < c.span_start + c.span_len)),
       |rebuilt AS (
       |  SELECT doc_id, array_to_string(list(token ORDER BY p), ' ') AS clean_text,
       |         CAST(count(*) AS BIGINT) AS n_kept
       |  FROM kept GROUP BY 1)
       |SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
       |       CAST(len(t.l) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
       |FROM toks t LEFT JOIN rebuilt r USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    // one corpus tokenize: the persisted frame feeds the detector, the
    // position explode, AND the final left join (q88's persist convention;
    // swept by Verify/Bench per-query)
    val toks = noisyToks(s, dir).persist()
    val covered = spansOf(toks)
      .select(col("doc_id"),
        explode(expr("sequence(span_start, span_start + span_len - 1)")).as("p"))
    val tok1 = toks.filter(size(col("l")) > 0)
      .select(col("doc_id"), posexplode(col("l")).as(Seq("p", "token")))
    val rebuilt = tok1.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(p, token))), x -> x.token), ' ')")
        .as("clean_text"),
        count(lit(1)).as("n_kept"))
    toks.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (size(col("l")) - coalesce(col("n_kept"), lit(0L))).cast("long").as("n_removed"))
      .orderBy("doc_id")
  }

  /** Temperature-scaled mixture weights — the multilingual sampling
    * formula (p_l ∝ n_l^α, the mBERT/XLM-R upsampling of low-resource
    * languages) that PRODUCES the rates q71's weighted mixing consumes.
    * α = 1/2, deliberately: `sqrt` is correctly rounded by IEEE 754 on
    * both engines (identical bits for identical inputs — no libm `pow`,
    * whose last-ulp behavior is engine-specific), and counts ≤ 2⁵² are
    * exact doubles, so `round(sqrt(n)·10⁶)` is deterministic end to end;
    * the share normalization is then pure integer div (ppm convention).
    *
    * Scale: one partial+final count by language (|langs| rows), a one-row
    * total, broadcast arithmetic — nothing touches the corpus twice.
    */
  val q91 = Q("q91_temperature_mix",
    """WITH c AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
      |w AS (
      |  SELECT lang, n_docs, CAST(round(sqrt(n_docs) * 1000000) AS BIGINT) AS wt
      |  FROM c),
      |t AS (SELECT CAST(sum(wt) AS BIGINT) AS total FROM w)
      |SELECT lang, n_docs, wt,
      |       CAST((wt * 1000000) // total AS BIGINT) AS share_ppm
      |FROM w CROSS JOIN t ORDER BY lang""".stripMargin) { (s, dir) =>
    val c = Tables.load(s, dir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val w = c.select(col("lang"), col("n_docs"),
      round(sqrt(col("n_docs")) * 1000000).cast("long").as("wt"))
    val t = w.agg(sum("wt").as("total"))
    w.crossJoin(broadcast(t))
      .select(col("lang"), col("n_docs"), col("wt"),
        expr("(wt * 1000000) div total").as("share_ppm"))
      .orderBy("lang")
  }

  val all: Seq[Q] = Seq(q82, q83, q84, q85, q86, q87, q88, q89, q90, q91)
}
