package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tier 19 (round 8, seventh wave): the text→vector bridge CLOSED end to
  * end — semantic similarity computed on corpora that ship no embedding
  * column, using q112's feature-hashed doc vectors.
  *
  *  - q121: hash-embed near-dup candidate pairs — q35's exact-cosine
  *    semantics over the 8-dim hashed embeds: text-only semantic dedup
  *    candidates (SemDeDup's detector with the trained encoder swapped
  *    for the deterministic hashing-trick featurizer).
  *  - q122: semantic cross-SPLIT leakage — q121's pairs that straddle
  *    the q75 train/valid boundary: the pre-launch check that the valid
  *    set is not semantically contaminated by train (exact-match
  *    decontamination q78/q96 cannot see a paraphrase; an embedding
  *    pair can).
  *
  * Reference mapping: none (SURVEY.md §2.1); north-star LLM-pipeline ops.
  */
object TierNineteen {

  import TierFour.{A0, B0, P}

  /** q112's oracle CTE chain ending in per-doc DOUBLE components
    * `e(doc_id, e0..e7)` — token-less docs (zero vectors) are absent, so
    * downstream cosine never divides by zero. */
  private[operators] val embSql: String =
    s"""toks AS (
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
       |         ((tid % $P) * $A0 + $B0) % $P % 8 AS b,
       |         CASE WHEN (((tid % $P) * $A0 + $B0) % $P // 8) % 2 = 0
       |              THEN cnt ELSE -cnt END AS v
       |  FROM tc JOIN vocab USING (token)),
       |e AS (
       |  SELECT doc_id,
       |         ${(0 until 8).map(k =>
             s"CAST(sum(CASE WHEN b = $k THEN v ELSE 0 END) AS DOUBLE) AS e$k")
             .mkString(",\n       |         ")}
       |  FROM f GROUP BY 1)""".stripMargin

  private def dotSql(a: String, b: String): String =
    (0 until 8).map(k => s"$a.e$k * $b.e$k").mkString(" + ")

  /** Pair CTE on top of [[embSql]]: exact cosine over hashed embeds,
    * `p(doc_a, doc_b, c)` with doc_a < doc_b and c ≥ `thr`. */
  private[operators] def pairSql(thr: Double): String =
    s"""p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         (${dotSql("a", "b")}) /
       |         (sqrt(${dotSql("a", "a")}) * sqrt(${dotSql("b", "b")})) AS c
       |  FROM e a JOIN e b ON a.doc_id < b.doc_id
       |  WHERE (${dotSql("a", "a")}) > 0 AND (${dotSql("b", "b")}) > 0),
       |hits AS (SELECT doc_a, doc_b, c FROM p WHERE c >= $thr)""".stripMargin

  /** Engine-side pair generator shared by q121/q122 and the
    * [[Prepare]] semantic-dedup stage: hashed embeds as 8 DOUBLE columns
    * (pure codegen'd scalar math — no arrays, no HOFs in the pair loop),
    * norms hoisted once per doc, all-pairs candidates over an arbitrary
    * `(doc_id, text)` frame. This is the brute-force ANCHOR (q35's
    * posture); the scale path buckets the same 8-dim embeds through the
    * existing vector family — hyperplane LSH (q29/q61) or Lloyd cells
    * (q67/q108) — with this exact cosine as the verifier.
    *
    * The embed frame feeds both join sides, so it persists — into the
    * caller's [[Pins]] when provided (a composed pipeline that owns its
    * release, Prepare's posture), else a plain `persist()` swept by
    * Verify/Bench per query (the q57/q103 convention).
    */
  private[graft] def embedPairsOf(docs: DataFrame, thr: Double,
      pins: Option[Pins] = None): DataFrame = {
    val s = docs.sparkSession
    val vocab = Cumulative.rowNumber(s,
      docs.select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "").select("token").distinct(),
      Seq(col("token")), "tid")
    val emb0 = TierSixteen.hashEmbed(docs.select("doc_id", "text"), vocab)
      .select(col("doc_id") +: (0 until 8).map(k => col(s"e$k").cast("double")): _*)
    val emb = pins.map(_(emb0)).getOrElse(emb0.persist())
    def dot(x: String, y: String) =
      (0 until 8).map(k => col(s"$x$k") * col(s"$y$k")).reduce(_ + _)
    val a = emb.select(col("doc_id").as("doc_a") +:
      (0 until 8).map(k => col(s"e$k").as(s"a$k")): _*)
      .withColumn("na", sqrt(dot("a", "a"))).filter(col("na") > 0)
    val b = emb.select(col("doc_id").as("doc_b") +:
      (0 until 8).map(k => col(s"e$k").as(s"b$k")): _*)
      .withColumn("nb", sqrt(dot("b", "b"))).filter(col("nb") > 0)
    // the anchor's pair join is explicitly broadcast-NLJ: without the pin,
    // Catalyst's size estimate for the embed frame (derived from the
    // corpus-sized token scan upstream) exceeds the broadcast threshold at
    // sf0.1 and the non-equi join degrades to CartesianProduct — measured
    // 8.7 s vs ~3 s pinned. Valid precisely because this IS the bounded
    // anchor (q24/q35/q107 posture); the scale path cells the embeds.
    a.join(broadcast(b), col("doc_a") < col("doc_b"))
      .withColumn("c", dot("a", "b") / (col("na") * col("nb")))
      .filter(col("c") >= thr)
      .select(col("doc_a"), col("doc_b"), col("c"))
  }

  private[operators] def embedPairs(s: SparkSession, dir: String, thr: Double): DataFrame =
    embedPairsOf(Tables.load(s, dir, "documents").select("doc_id", "text"), thr)

  /** q121's PRODUCTION pair source — Lloyd cells trained ON the 8-dim
    * hash embeds themselves (two rounds of [[IvfStore.step]] with the
    * q109 driver-literal centroid rebuild between rounds; seeds = the k
    * lowest doc_ids), then candidates within own + runner-up cell
    * ([[TierEleven.probeAssign]]) verified by the same exact cosine.
    * Every stage is cell-keyed — nothing all-pairs, nothing sorts the
    * corpus; a pair reachable from both endpoints' probe sets dedups
    * AFTER the threshold filter (the distinct runs on hits, not
    * candidates). Pair recall vs the q121 anchor is measured and floored
    * in TierNineteenSpec — the cellVote/cellHardNegatives convention.
    *
    * Since round 11 this IS the pair source the near-dup graph family
    * declares (q143/q144/q148/q155/q171 run + [[celledPairSql]] oracle —
    * the VERDICT r10 re-sourcing; round 12 completed the sweep:
    * q122/q124/q128/q130/q136 and [[Prepare.corpus]]'s semantic stage now
    * declare it too); q121 alone keeps the exact all-pairs anchor as the
    * recall reference. Output `(doc_a, doc_b, c)` with the
    * exact (unrounded) cosine, doc_a < doc_b.
    */
  private[graft] def celledEmbedPairsOf(docs: DataFrame, thr: Double,
      probe2: Boolean = true, k: Int = 8, pins: Option[Pins] = None): DataFrame = {
    val emb = celledEmb(docs, pins)
    val cents = celledCents(emb, k)
    val own = TierNine.assignTo(emb, cents)
    celledPairsOver(emb, own, TierEleven.probeAssign(emb, cents, own, probe2), thr)
  }

  /** The pair join of [[celledEmbedPairsOf]] factored over PREBUILT
    * quantizer frames — `emb(vec_id, e)`, `own(vec_id, cid)` and the
    * probe set `probed(vec_id, cid)` — so [[celledArtifacts]] can train
    * the cells once and serve every threshold from the shared frames. */
  private def celledPairsOver(emb: DataFrame, own: DataFrame,
      probed: DataFrame, thr: Double): DataFrame = {
    graft.expressions.GraftFunctions.register(emb.sparkSession)
    def dotc(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      call_function("graft_dot", x, y)
    val xs = probed
      .join(emb, "vec_id")
      .select(col("cid"), col("vec_id").as("doc_a"), col("e").as("ea"))
      .withColumn("na", sqrt(dotc(col("ea"), col("ea"))))
    val ys = own.join(emb, "vec_id")
      .select(col("cid"), col("vec_id").as("doc_b"), col("e").as("eb"))
      .withColumn("nb", sqrt(dotc(col("eb"), col("eb"))))
    xs.join(ys, Seq("cid"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("c", dotc(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("c") >= thr)
      .select("doc_a", "doc_b", "c").distinct()
  }

  private[graft] def celledEmbedPairs(s: SparkSession, dir: String, thr: Double,
      probe2: Boolean = true, k: Int = 8): DataFrame =
    celledEmbedPairsOf(Tables.load(s, dir, "documents").select("doc_id", "text"),
      thr, probe2, k)

  /** The celled pair join against CALLER-FROZEN centroids — the one-shot
    * rebuild [[SemanticDedup]]'s maintain law compares to, and the pair
    * source its build seeds from. Same relation as [[celledEmbedPairsOf]]
    * (probed×own, `doc_a < doc_b`); the quantizer is the caller's frozen
    * table instead of freshly trained cells. `emb` must be zero-vector
    * free (the celled pair-universe rule). */
  private[graft] def pairsOverCents(emb: DataFrame, cents: DataFrame,
      thr: Double, probe2: Boolean = true): DataFrame = {
    val own = TierNine.assignTo(emb, cents)
    celledPairsOver(emb, own, TierEleven.probeAssign(emb, cents, own, probe2), thr)
  }

  /** The celled family's shared embed frame: `(vec_id, e[8])` hash embeds
    * as a DOUBLE array, zero vectors excluded — persisted (trainer takes
    * 2 passes, assignment + both pair sides re-read it), into the
    * caller's [[Pins]] when provided, else swept by Verify/Bench. */
  private def celledEmb(docs: DataFrame, pins: Option[Pins]): DataFrame = {
    val s = docs.sparkSession
    graft.expressions.GraftFunctions.register(s)
    val vocab = Cumulative.rowNumber(s,
      docs.select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "").select("token").distinct(),
      Seq(col("token")), "tid")
    val emb0 = TierSixteen.hashEmbed(docs.select("doc_id", "text"), vocab)
      .select(col("doc_id").as("vec_id"),
        array((0 until 8).map(c => col(s"e$c").cast("double")): _*).as("e"))
      .filter(call_function("graft_dot", col("e"), col("e")) > 0)
    pins.map(_(emb0)).getOrElse(emb0.persist())
  }

  /** Two [[IvfStore.step]] rounds from the deterministic k-lowest-doc_id
    * seeds, centroids rebuilt as driver literals between rounds (the q109
    * convention — k×8 scalars, bounded at any corpus size). */
  private def celledCents(emb: DataFrame, k: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val seeds = emb.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"), col("e").as("c"))
    val r1 = IvfStore.step(emb, seeds).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.toDF("cid", "c")
    IvfStore.step(emb, r1).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.toDF("cid", "c")
  }

  /** Per-doc top-1 neighbor WITHIN the probed Lloyd cells — the celled
    * kNN join over the hash embeds ([[TierEleven.knnJoin]]'s shape on the
    * [[celledCents]] quantizer): candidates are the own-cell members of
    * each doc's own + runner-up cell, ranked by 6-dp-ROUNDED cosine with
    * nn_id ASC tie-break (`min(struct(−cos, nn_id))` ≡ the oracle's
    * row_number — a partial+final agg, pair rows born cell-local, so
    * map-side partials collapse each doc's candidates BEFORE any
    * shuffle). Docs alone in their probed cells emit no row. Output
    * `(vec_id, nn_id, cos)`. */
  private[graft] def celledNnOf(docs: DataFrame, probe2: Boolean = true,
      k: Int = 8, pins: Option[Pins] = None): DataFrame = {
    val emb = celledEmb(docs, pins)
    val cents = celledCents(emb, k)
    val own = TierNine.assignTo(emb, cents)
    celledNnOver(emb, own, TierEleven.probeAssign(emb, cents, own, probe2))
  }

  /** [[celledNnOf]]'s argmax fold over prebuilt quantizer frames (the
    * [[celledPairsOver]] factoring). */
  private def celledNnOver(emb: DataFrame, own: DataFrame,
      probed: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(emb.sparkSession)
    def dotc(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      call_function("graft_dot", x, y)
    val xs = probed
      .join(emb, "vec_id")
      .select(col("cid"), col("vec_id"), col("e").as("xe"),
        sqrt(dotc(col("e"), col("e"))).as("nx"))
    val ys = own.join(emb, "vec_id")
      .select(col("cid"), col("vec_id").as("nn_id"), col("e").as("ye"),
        sqrt(dotc(col("e"), col("e"))).as("ny"))
    xs.join(ys, Seq("cid"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos",
        round(dotc(col("xe"), col("ye")) / (col("nx") * col("ny")), 6))
      .groupBy("vec_id")
      .agg(min(struct(negate(col("cos")).as("nc"), col("nn_id"), col("cos"))).as("b"))
      .select(col("vec_id"), col("b.nn_id").as("nn_id"), col("b.cos").as("cos"))
  }

  /** The celled quantizer's BUILD-ONCE handle (VERDICT r11 #2 — the
    * [[Dedup.artifacts]] amortization convention): trains the Lloyd
    * cells ONCE over `docs` and pins the shared working set — the embed
    * frame, the own-cell assignment and the probe set — so every
    * consumer (the 13+ queries of the near-dup graph family) reads the
    * SAME quantizer instead of re-training per query. `pairs(thr)` and
    * `nn()` are the two faces; CelledArtifactsSpec proves each ≡ its
    * self-training twin bit for bit and that `release` drops everything
    * the build pinned.
    *
    * Each DECLARED query still trains its own cells so its DuckDB
    * oracle stays self-contained (the honest per-query cost the bench
    * reports); a production pipeline builds THIS handle once per
    * (corpus, k) — or persists the centroids via the [[IvfStore]]
    * write-time convention — and amortizes the training across every
    * downstream report. */
  final case class CelledArtifacts private[operators] (
      emb: DataFrame, cents: DataFrame,
      pairs: Double => DataFrame, nn: () => DataFrame,
      warm: () => Unit, release: () => Unit)

  /** The lowest similarity threshold any consumer asks of the shared
    * handle (q171/q250's 0.80): [[CelledArtifacts.pairs]] pins the pair
    * set ONCE at this base and serves every thr ≥ it as a pure filter —
    * exact because `c` is a per-pair deterministic function of the two
    * embeddings and the post-join `distinct` commutes with a filter on
    * its own columns (`join → filter(c≥0.8) → distinct → filter(c≥thr)`
    * ≡ `join → filter(c≥thr) → distinct`). */
  private[operators] val PairBaseThr = 0.8

  private[graft] def celledArtifacts(docs: DataFrame, probe2: Boolean = true,
      k: Int = 8): CelledArtifacts = {
    val pins = new Pins
    val emb = celledEmb(docs, Some(pins))
    val cents = pins(celledCents(emb, k))
    val own = pins(TierNine.assignTo(emb, cents))
    val probed = pins(TierEleven.probeAssign(emb, cents, own, probe2))
    // the Σ|cell|² pair join runs ONCE at the base threshold and is
    // pinned; every consumer threshold is a filter over it (r16 — before
    // this, each of the 16 celled faces re-ran the pair join per entry:
    // measured 0.89 s/face re-join vs 0.11 s pinned-filter at sf0.1)
    val pairsBase = pins(celledPairsOver(emb, own, probed, PairBaseThr))
    CelledArtifacts(emb, cents,
      thr =>
        if (thr >= PairBaseThr) pairsBase.filter(col("c") >= thr)
        else celledPairsOver(emb, own, probed, thr),
      () => celledNnOver(emb, own, probed),
      // materialize every pinned member of the working set (probed/own
      // pull emb+cents through), so a harness timing the BUILD (Bench's
      // shared-artifacts sweep) charges the full training cost — now
      // including the base pair join — to the build entry and none of it
      // to the first face
      () => Seq(cents, own, probed, pairsBase).foreach(
        _.write.format("noop").mode("overwrite").save()),
      () => pins.release())
  }

  /** Oracle-SQL mirror of the celled quantizer on top of [[embSql]]:
    * seeds = the [[CellK]] lowest doc_ids (`csd`), two Lloyd rounds
    * (assign `ca0`/`ca1` by squared L2 via the dot identity, ties on
    * lower cid; 6-dp-rounded dimension means `cc1`/`cc2` — the
    * [[IvfStore.step]] convention), then the probe set `cpa` = own
    * (rk 1) + runner-up (rk 2) cell per doc against the final centroids.
    * `cv` holds the embeds as DuckDB lists; MATERIALIZED where a CTE is
    * read more than once (the q143 inlining rule). */
  private val CellK = 8
  private[operators] val cellSql: String =
    s"""cv AS MATERIALIZED (
       |  SELECT doc_id AS vec_id, [${(0 until 8).map(k => s"e$k").mkString(", ")}] AS e
       |  FROM e
       |  WHERE ${(0 until 8).map(k => s"e$k * e$k").mkString(" + ")} > 0),
       |csd AS (SELECT vec_id AS cid, e AS c FROM cv ORDER BY vec_id LIMIT $CellK),
       |cd0 AS (
       |  SELECT vec_id, cid,
       |         list_dot_product(e, e) - 2 * list_dot_product(e, c)
       |           + list_dot_product(c, c) AS d
       |  FROM cv CROSS JOIN csd),
       |ca0 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rk
       |    FROM cd0) WHERE rk = 1),
       |cc1 AS MATERIALIZED (
       |  SELECT cid, list(round(av, 6) ORDER BY j) AS c FROM (
       |    SELECT ca0.cid, j.j, avg(cv.e[j.j]) AS av
       |    FROM ca0 JOIN cv USING (vec_id)
       |    CROSS JOIN (SELECT unnest(range(1, 9)) AS j) AS j
       |    GROUP BY 1, 2) GROUP BY cid),
       |cd1 AS (
       |  SELECT vec_id, cid,
       |         list_dot_product(e, e) - 2 * list_dot_product(e, c)
       |           + list_dot_product(c, c) AS d
       |  FROM cv CROSS JOIN cc1),
       |ca1 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rk
       |    FROM cd1) WHERE rk = 1),
       |cc2 AS MATERIALIZED (
       |  SELECT cid, list(round(av, 6) ORDER BY j) AS c FROM (
       |    SELECT ca1.cid, j.j, avg(cv.e[j.j]) AS av
       |    FROM ca1 JOIN cv USING (vec_id)
       |    CROSS JOIN (SELECT unnest(range(1, 9)) AS j) AS j
       |    GROUP BY 1, 2) GROUP BY cid),
       |cd2 AS (
       |  SELECT vec_id, cid,
       |         list_dot_product(e, e) - 2 * list_dot_product(e, c)
       |           + list_dot_product(c, c) AS d
       |  FROM cv CROSS JOIN cc2),
       |cpa AS MATERIALIZED (
       |  SELECT vec_id, cid, rk FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rk
       |    FROM cd2) WHERE rk <= 2)""".stripMargin

  /** Celled pair CTE chain ≡ [[celledEmbedPairsOf]] (probe2 = true,
    * k = [[CellK]]): each doc's probe set joined against own-cell
    * members, doc_a < doc_b, exact cosine ≥ `thr` — ends in
    * `hits(doc_a, doc_b, c)`, drop-in for [[pairSql]] in a consumer's
    * oracle. */
  private[operators] def celledPairSql(thr: Double): String =
    s"""$cellSql,
       |cpr AS (
       |  SELECT x.vec_id AS doc_a, y.vec_id AS doc_b,
       |         list_dot_product(xe.e, ye.e) /
       |           (sqrt(list_dot_product(xe.e, xe.e)) *
       |            sqrt(list_dot_product(ye.e, ye.e))) AS c
       |  FROM cpa x JOIN cpa y ON y.cid = x.cid AND y.rk = 1
       |                       AND x.vec_id < y.vec_id
       |  JOIN cv xe ON xe.vec_id = x.vec_id
       |  JOIN cv ye ON ye.vec_id = y.vec_id),
       |hits AS (SELECT DISTINCT doc_a, doc_b, c FROM cpr WHERE c >= $thr)""".stripMargin

  /** Celled top-1-NN CTE chain ≡ [[celledNnOf]] (probe2 = true): ends in
    * `nn(doc_id, nb, c)` — per-doc best probed-cell neighbor by
    * 6-dp-rounded cosine, nb ASC ties. */
  private[operators] val celledNnSql: String =
    s"""$cellSql,
       |cnd AS (
       |  SELECT x.vec_id AS vec_id, y.vec_id AS nn_id,
       |         round(list_dot_product(xe.e, ye.e) /
       |           (sqrt(list_dot_product(xe.e, xe.e)) *
       |            sqrt(list_dot_product(ye.e, ye.e))), 6) AS cos
       |  FROM cpa x JOIN cpa y ON y.cid = x.cid AND y.rk = 1
       |                       AND y.vec_id <> x.vec_id
       |  JOIN cv xe ON xe.vec_id = x.vec_id
       |  JOIN cv ye ON ye.vec_id = y.vec_id),
       |nn AS MATERIALIZED (
       |  SELECT vec_id AS doc_id, nn_id AS nb, cos AS c FROM (
       |    SELECT vec_id, nn_id, cos,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY cos DESC, nn_id ASC) AS rk
       |    FROM cnd) WHERE rk = 1)""".stripMargin

  /** Hash-embed near-duplicate candidate pairs, cosine ≥ 0.95 over the
    * q112 vectors — text-only semantic dedup: the SemDeDup detector
    * shape (q35 → q100) with the trained encoder replaced by the
    * deterministic hashing-trick featurizer, so it runs on a corpus
    * that ships no embedding column. Zero vectors (token-less docs)
    * are excluded — cosine is undefined there. */
  val q121 = Q("q121_embed_near_dup",
    s"""WITH $embSql,
       |${pairSql(0.95)}
       |SELECT doc_a, doc_b, round(c, 6) AS cos
       |FROM hits ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    embedPairs(s, dir, 0.95)
      .select(col("doc_a"), col("doc_b"), round(col("c"), 6).as("cos"))
      .orderBy("doc_a", "doc_b")
  }

  /** Semantic cross-SPLIT leakage — q121's near-dup pairs that straddle
    * q75's train/valid boundary (same deterministic doc_id buckets:
    * <980 train, <990 valid, test excluded): a valid doc whose semantic
    * twin sits in train inflates eval. Exact-match decontamination
    * (q78/q96) cannot see a paraphrase; the embedding pair can. Output:
    * the leaked pairs, train side first.
    *
    * Scale: since round 12 the DECLARED pair source is the celled
    * production path ([[celledEmbedPairsOf]] — cell-keyed candidates,
    * exact-cosine verified; the round-11 re-sourcing convention), with
    * q121 kept as the all-pairs recall anchor the celled floor is
    * measured against (TierNineteenSpec). The split stamp is a pure
    * projection on doc_id — no extra shuffle beyond the pair join.
    */
  val q122 = Q("q122_split_leakage",
    s"""WITH $embSql,
       |${celledPairSql(0.95)},
       |sp AS (
       |  SELECT doc_id, ((doc_id % $P) * $A0 + $B0) % $P % 1000 AS bkt
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, CASE WHEN bkt < 980 THEN 'train' ELSE 'valid' END AS split
       |  FROM sp WHERE bkt < 990)
       |SELECT CASE WHEN sa.split = 'train' THEN h.doc_a ELSE h.doc_b END AS train_doc,
       |       CASE WHEN sa.split = 'train' THEN h.doc_b ELSE h.doc_a END AS valid_doc,
       |       round(h.c, 6) AS cos
       |FROM hits h
       |JOIN st sa ON sa.doc_id = h.doc_a
       |JOIN st sb ON sb.doc_id = h.doc_b
       |WHERE sa.split <> sb.split
       |ORDER BY train_doc, valid_doc""".stripMargin) { (s, dir) =>
    leakOver(Tables.load(s, dir, "documents"), celledEmbedPairs(s, dir, 0.95))
  }

  /** q122's split-stamp + cross-split filter over an ARBITRARY pair
    * frame `(doc_a, doc_b, c)` — the extracted face the shared-build
    * bench sweep drives with [[CelledArtifacts.pairs]](0.95)
    * (BenchFacesSpec pins face ≡ declared query bit for bit). */
  private[graft] def leakOver(docs: DataFrame, hits: DataFrame): DataFrame = {
    val bkt = ((col("doc_id") % P) * A0 + B0) % P % 1000
    val st = docs
      .select(col("doc_id"), bkt.as("bkt"))
      .filter(col("bkt") < 990)
      .select(col("doc_id"),
        when(col("bkt") < 980, "train").otherwise("valid").as("split"))
    hits
      .join(st.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(st.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .filter(col("sa") =!= col("sb"))
      .select(
        when(col("sa") === "train", col("doc_a")).otherwise(col("doc_b")).as("train_doc"),
        when(col("sa") === "train", col("doc_b")).otherwise(col("doc_a")).as("valid_doc"),
        round(col("c"), 6).as("cos"))
      .orderBy("train_doc", "valid_doc")
  }

  private[graft] def q122Face(s: SparkSession, dir: String,
      art: CelledArtifacts): DataFrame =
    leakOver(Tables.load(s, dir, "documents"), art.pairs(0.95))

  val all: Seq[Q] = Seq(q121, q122)
}
