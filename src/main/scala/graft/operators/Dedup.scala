package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The deduplication pipeline as a LIBRARY surface — the composable calls
  * a training-data job strings together, each one the semantics of an
  * oracle-checked query (cited per method). All methods take any
  * `(doc_id BIGINT, text STRING, …)` frame and preserve the caller's
  * extra columns where they return document rows.
  *
  * Production ordering ([[TierFour.q26]] degenerate-bucket caveat): exact
  * dedup FIRST — identical documents share every LSH band, so sketching
  * before exact dedup creates K²/2-pair buckets. [[deduplicate]] encodes
  * that ordering.
  *
  * Cluster-keep-min vs pairwise drop: dropping `doc_b` of every near-dup
  * pair (q53) keeps any document with no SMALLER similar neighbor — on
  * chained similarity (A≈B≈C, A̸≈C) it under-deduplicates relative to
  * one-survivor-per-cluster. [[deduplicate]] keeps exactly each
  * connected component's min doc_id ([[TierSeven.q58]] oracle-checks the
  * full composition).
  */
object Dedup {

  /** Exact dedup survivors — q22 semantics: one document per distinct
    * `text`, min doc_id wins. The shuffle key is the fixed-width sha2
    * digest, never the payload; survivors come back row-complete via a
    * semi join. */
  def exactSurvivors(docs: DataFrame): DataFrame = {
    val surv = docs
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    docs.join(surv, Seq("doc_id"), "left_semi")
  }

  /** Near-duplicate pairs `(doc_a, doc_b, jaccard)`, doc_a < doc_b —
    * q26's exact MinHash+LSH pipeline (bucketed candidates, exact
    * verification, never all-pairs). */
  def nearDupPairs(docs: DataFrame): DataFrame = nearDupPairs(docs, new Pins)

  private def nearDupPairs(docs: DataFrame, pins: Pins): DataFrame =
    TierFour.minhashPairs(TextOps.tokOf(docs.select("doc_id", "text")), pins)

  /** Near-dup cluster labels `(doc_id, cluster)` — cluster = min doc_id
    * of the connected component over [[nearDupPairs]] (q55's labeling;
    * singletons label themselves). */
  def clusters(docs: DataFrame): DataFrame = clusters(docs, new Pins)

  private def clusters(docs: DataFrame, pins: Pins): DataFrame =
    pins.track(Components.connected(
        docs.select(col("doc_id").as("id")),
        nearDupPairs(docs, pins).select(col("doc_a").as("src"), col("doc_b").as("dst"))))
      .select(col("id").as("doc_id"), col("lbl").as("cluster"))

  /** The full dedup APPLY: exact dedup, then one survivor (min doc_id)
    * per near-dup cluster of the distinct corpus. Returns surviving rows
    * with all caller columns — q58 semantics. Everything the pipeline
    * creates — the survivor cache, the detector's internal intermediates
    * and the connected-components label leaf (a localCheckpoint whose
    * blocks otherwise live until session end) — is recorded in `pins`;
    * `docs` is never. FINALITY: the labels' lineage is truncated, so
    * after `pins.release()` the returned plan cannot be re-executed —
    * release only once the survivors (and anything derived from them)
    * are materialized.
    */
  def deduplicate(docs: DataFrame, pins: Pins): DataFrame = {
    // three consumers (pair detection, the cluster node set, the final
    // semi join) each materialize independently — cache the survivors or
    // the corpus-wide sha2 groupBy + semi join runs three times.
    val distinctDocs = pins(exactSurvivors(docs))
    // a cluster's label IS its min doc_id (Components labels each node
    // with the component min, and the min labels itself) — survivors are
    // simply the self-labeled rows, no extra aggregation shuffle
    val keep = clusters(distinctDocs, pins)
      .filter(col("doc_id") === col("cluster"))
      .select("doc_id")
    distinctDocs.join(keep, Seq("doc_id"), "left_semi")
  }

  /** [[deduplicate]] over a fresh [[Pins]] whose release is wired to a
    * one-shot query-completion listener (VERDICT r7 item #5: the bare
    * wrapper used to DISCARD the handle, silently pinning the survivor
    * cache + the components label leaf for the session lifetime). The
    * first successful execution that materializes the returned plan — a
    * write, collect, or any action on a frame derived from it — releases
    * everything on completion, then unregisters itself.
    *
    * Contract: the returned frame is single-shot. Execute it once and keep
    * the OUTPUT; re-executing the same object afterwards fails (the label
    * leaf is a lineage-truncated localCheckpoint). Callers that
    * materialize several times from one plan (or want to control release
    * timing) pass their own [[Pins]].
    */
  def deduplicate(docs: DataFrame): DataFrame = {
    val pins = new Pins
    Release.onFirstExecution(deduplicate(docs, pins), () => pins.release())
  }

  /** The dedup-composition working set, built ONCE and shared across
    * every report that consumes it — `pairs` (q26's MinHash+LSH near-dup
    * pairs), `labels` (q55's connected-component cluster labels,
    * `(doc_id, cluster)`), `scores` (q83's classifier scores,
    * `(doc_id, score_c)`), all pinned, plus the release handle that
    * drops them AND the detector's internal intermediates AND the
    * components label leaf.
    *
    * Economics (the SigIndex/LexIndex precedent): each declared
    * reporting query (q158/q159/q165/q176/q177 …) re-runs the detector +
    * `Components` cold so its oracle stays self-contained — honest but
    * ~6-10 s of repeated work apiece at sf0.1. A production pipeline
    * builds THIS handle once and feeds every report from it;
    * DedupArtifactsSpec proves each face ≡ its declared query bit for
    * bit, and the id-diff release gate proves the handle drops
    * everything it pinned.
    *
    * FINALITY: `labels` is a lineage-truncated localCheckpoint leaf —
    * after [[Artifacts.release]] none of the three frames (nor plans
    * derived from them) can be re-executed.
    */
  final case class Artifacts(pairs: DataFrame, labels: DataFrame,
      scores: DataFrame, release: () => Unit,
      /** The detector relation WITHOUT q26's output `ORDER BY` — the
        * member the pins hold and every order-free consumer (Components,
        * the leakage aggregation, the bench build sweep) reads; `pairs`
        * is a sort VIEW over it for q26-shaped callers (r16). */
      pairsUnsorted: DataFrame = null) {
    /** Materialize the three pinned members so a build's full detector
      * cost lands before its first consumer. The unsorted relation, not
      * `pairs`: no order-free consumer needs q26's global sort (r16). */
    def warm(): Unit = Seq(pairsUnsorted, labels, scores)
      .foreach(_.write.format("noop").mode("overwrite").save())
  }

  /** Build the shared [[Artifacts]] over any `(doc_id, text, source …)`
    * frame. All three members, the token relation and the vocabulary are
    * persisted through one internal [[Pins]] (threaded into the detector
    * too — the round-7 leak class stays closed structurally). */
  def artifacts(docs: DataFrame): Artifacts = {
    val pins = new Pins
    // ONE corpus tokenize + vocabulary rank feeds both the detector and
    // the classifier scores (r15 — the two builds ranked the identical
    // dictionary independently; DedupArtifactsSpec pins both members
    // against their self-training twins bit for bit)
    val t = pins(TextOps.tokOf(docs.select("doc_id", "text")))
    val v = pins(TextOps.vocab(t)) // the detector's dispatch count, its tokid join, the scores
    // the pin holds the UNSORTED detector relation; no consumer of the
    // shared handle needs q26's global (doc_a, doc_b) range-sort, so the
    // build never computes it — `pairs` stays available as a sort view
    // over the pinned rows for q26-shaped callers (r16)
    val pairsU = pins(TierFour.minhashPairsUnsortedOver(t, v, pins))
    val labels = pins(pins.track(Components.connected(
        docs.select(col("doc_id").as("id")),
        pairsU.select(col("doc_a").as("src"), col("doc_b").as("dst"))))
      .select(col("id").as("doc_id"), col("lbl").as("cluster")))
    val scores = pins(TierEleven.classifierScoresOf(docs, Some(v)))
    Artifacts(pairsU.orderBy("doc_a", "doc_b"), labels, scores,
      () => pins.release(), pairsUnsorted = pairsU)
  }

  private def labOf(a: Artifacts): DataFrame =
    a.labels.select(col("doc_id").as("id"), col("cluster").as("lbl"))

  /** q55's cluster-size histogram from a shared [[Artifacts]] build —
    * exact by construction: q55's declared body IS
    * `Components.connected(docs.ids, minhashPairs(tok))` folded to the
    * histogram, and `labels` is that same call. (The OTHER heavy
    * recompositions — q58/q98/q104/q114 — run their detectors over
    * `exactSurvivors`/bespoke compositions, so an artifacts face would
    * only coincide on a corpus with no exact duplicates; they stay
    * self-contained in the bench on purpose.) */
  def clusterSizes(a: Artifacts): DataFrame =
    a.labels.groupBy("cluster").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_clusters"))
      .orderBy("csize")

  /** q158's leakage matrix from a shared [[Artifacts]] build — an
    * aggregation, so it reads the unsorted pin (r16). */
  def leakageMatrix(docs: DataFrame, a: Artifacts): DataFrame =
    TierThirtySeven.leakageOver(docs,
      if (a.pairsUnsorted != null) a.pairsUnsorted else a.pairs)

  /** q159's dedup savings report from a shared [[Artifacts]] build. */
  def savings(docs: DataFrame, a: Artifacts): DataFrame =
    TierThirtySeven.savingsOver(docs, labOf(a))

  /** q165's best-of-cluster representatives from a shared build. */
  def bestOfCluster(a: Artifacts): DataFrame =
    TierForty.bestOfClusterOver(labOf(a), a.scores)

  /** q176's budget-constrained selection from a shared build. */
  def budgetSelection(docs: DataFrame, a: Artifacts, budget: Long): DataFrame =
    TierFortySix.selectionOver(docs, labOf(a), a.scores, budget)

  /** q177's keep-rule policy diff from a shared build. */
  def policyDiff(docs: DataFrame, a: Artifacts): DataFrame =
    TierFortySix.policyDiffOver(docs, labOf(a), a.scores)

  /** q280's cluster source-purity table from a shared build — `labels`
    * IS q280's label set (the same `Components.connected` over
    * `minhashPairs` on the full corpus), so the face ≡ the declared
    * query exactly (BenchFacesSpec). */
  def clusterPurity(docs: DataFrame, a: Artifacts): DataFrame =
    TierHundred.purityOver(labOf(a),
      docs.select(col("doc_id").as("id"), col("source").as("src")))

  /** q288's cluster-size log₂ bands from a shared build — `labels` IS
    * q288's label set (the same `Components.connected` over
    * `minhashPairs` on the full corpus — the q55/q280 argument), so the
    * face ≡ the declared query exactly (BenchFacesSpec). */
  def sizeBands(a: Artifacts): DataFrame =
    TierHundredFour.sizeHistogramOver(labOf(a))

  /** INCREMENTAL CLUSTER MAINTENANCE — the ingest-loop composition of
    * the two incremental layers this repo already law-pins separately:
    * probe the batch against the persisted [[SigIndex]] (near-dup pairs
    * touching the batch, frozen-vocab — SigIndexSpec: probe ∪ corpus
    * pairs ≡ full recompute), fold those pairs into the existing
    * cluster labels with [[Components.delta]] (ComponentsSpec: delta ≡
    * rebuild on the unioned edges), then ABSORB the batch into the
    * index so the next batch sees it as corpus. Returns the updated
    * `(doc_id, cluster)` frame — an eager lineage-truncated leaf,
    * materialized BEFORE the absorb step (the probe plan reads the
    * postings table lazily; checkpointing first pins the pre-append
    * read) — a bare leaf; drop it with `GraftSqlBridge.releaseLeaf`.
    * The input `labels` frame is NOT consumed: maintain releases only
    * the leaves it and [[Components.delta]] created, so a chained loop
    * can keep (or release) each round's labels itself —
    * DedupMaintainSpec pins the previous round's frame still readable
    * after the next maintain.
    *
    * Law (DedupMaintainSpec): `maintain(build(D); B₁); … ; Bₖ)` ≡ the
    * one-shot `Components.connected` over the frozen-token-space pair
    * set of D ∪ B₁ ∪ … ∪ Bₖ — exactly the full Artifacts rebuild when
    * the batches add no vocabulary (the SigIndex drop-semantics caveat
    * applies: genuinely-new tokens need a rebuild, like any frozen
    * tokenizer). Isolated batch docs (no near-dup pair) enter as their
    * own singleton clusters. The probe's two batch-sized persists
    * follow q60's posture (released by the sweep's hygiene pass).
    *
    * Scale: per batch this moves O(batch·bands) postings + the touched
    * super-edges — the corpus is read only through the bucketed index
    * scan and the labels only through the delta fold; nothing
    * re-tokenizes, nothing re-clusters from scratch. */
  def maintain(name: String, labels: DataFrame, newDocs: DataFrame,
      buckets: Int = 32): DataFrame = {
    val spark = newDocs.sparkSession
    val nd = newDocs.select("doc_id", "text")
    val pairs = SigIndex.probe(spark, name, nd)
    val lbl0 = labels.select(col("doc_id").as("id"), col("cluster").as("lbl"))
    val seeded = lbl0.unionByName(
      nd.select(col("doc_id").as("id"), col("doc_id").as("lbl"))
        .join(lbl0.select("id"), Seq("id"), "left_anti"))
    val pins = new Pins
    val updated = Components.delta(seeded,
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")), pins)
      .select(col("id").as("doc_id"), col("lbl").as("cluster"))
    val out = Pins.checkpoint(updated)
    pins.release()
    SigIndex.append(spark, name, nd, buckets)
    out
  }
}
