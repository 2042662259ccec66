package graft.streaming

import graft.functions.Bloom
import graft.operators.{Pins, SemanticDedup, TextOps, TierFour, TierSeven}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** THE FULL INGEST PIPELINE, wired end to end as ONE stream (VERDICT
  * r13 #5) — the production composition of every admission stage this
  * library ships, in the order a 100 TB training-data ingest runs them
  * (cheapest screen first, so each stage sees only the previous stage's
  * survivors):
  *
  *  1. QUALITY GATE — q31's stateless per-row score (length / punct /
  *     stopword heuristics), a pure column: no state, no joins.
  *  2. EXACT-DUPLICATE BLOOM — the corpus text-digest Bloom filter as a
  *     broadcast literal (one-sided error: a false positive over-drops,
  *     never under-drops — the documented production trade; s21).
  *  3. SIMHASH HAMMING SCREEN — per-row 64-bit signature, anti-joined
  *     against the corpus signature store on 16-bit chunk postings
  *     (Hamming ≤ 3 — q56's screen as the s22 stream-static join).
  *  4. SEMANTIC ADMISSION — frozen-vocab hash embed, probed against the
  *     persisted IVF store's own + runner-up cells, exact-cosine
  *     verified ([[SemanticAdmit.screen]] — s46). GROW mode by
  *     construction: stage 5 absorbs admissions, so a twin of an
  *     EARLIER admission is rejected (first arrival wins).
  *  5. CLUSTER MAINTENANCE — the admitted batch's embeds fold into the
  *     live near-dup cluster labels through
  *     [[graft.operators.SemanticDedup.maintain]] (probe pairs →
  *     `Components.delta` → store absorb), so the labels every
  *     downstream report reads (best-of-cluster, leakage, savings) are
  *     current at the end of EVERY micro-batch — no nightly rebuild.
  *
  * All corpus-side artifacts are FROZEN at [[build]] time (Bloom bits,
  * signature store, vocabulary ranks, IVF quantizer) — the stream is
  * pure flow against static sides plus one driver-held labels leaf;
  * there is no Spark state store to size or checkpoint. Rebuild to
  * absorb vocabulary/centroid drift, like any tokenizer checkpoint.
  *
  * Law (IngestPipelineSpec, s49): the drained stream's END STATE —
  * admitted set, vector store, cluster labels — equals the one-shot
  * batch pipeline on the same rows: `screen` over everything, the store
  * grown by the admissions, labels = the one-shot celled rebuild over
  * corpus ∪ admissions (the [[SemanticMaintainSpec]] law composed with
  * the s22 and s46 parities).
  *
  * Replay contract: a re-delivered ledgered batch id is skipped whole
  * (admitted rows, store absorb, label fold — the at-least-once guard
  * of [[SemanticAdmit.absorb]] applied to the full composition);
  * [[SemanticAdmit.compactLedger]] folds the admission ledger, and
  * [[graft.operators.IvfStore.compact]] the store, at any cadence.
  *
  * Scale: stages 1–3 are map-side only (broadcast Bloom literal;
  * signature postings joined on 16-bit chunks — broadcast-able at any
  * corpus size since the store is 16 bytes/doc, or bucket-join it when
  * pinned); stage 4 reads only the batch's probed cells (bounded
  * driver metadata → static partition filter); stage 5 moves only the
  * touched super-edges, and a batch that finds no pair merging two
  * clusters runs no components solve at all. [[absorb]] materializes
  * the gated rows, their embeds and the admitted rows once each. Nothing
  * re-reads, re-signs, or re-clusters the corpus, but one step is still
  * O(labels): every absorb checkpoints the whole updated labels frame
  * (corpus ∪ admissions), even when it equals the previous one. A base
  * labeling plus per-batch overrides would make that step proportional
  * to the batch too; it is not built.
  */
object IngestPipeline {

  /** Exact-dup Bloom sizing — public so harnesses replaying a stage
    * against [[Handle.words]] use the same geometry. */
  val BloomBits = 4096
  val BloomHashes = 3

  /** The frozen corpus-side working set + the live labels leaf. Release
    * with [[Handle.release]] once the stream is done. `compactEvery`:
    * fold the admission ledger and compact the IVF store every N
    * ledgered batches (VERDICT r14 #4 — without a cadence, a 10⁵-batch
    * ingest's replay guard goes file-open-bound); 0 disables. */
  final class Handle private[IngestPipeline] (
      val words: Array[Long],
      val sigStore: DataFrame,
      val vocab: DataFrame,
      val storePath: String,
      val outPath: String,
      val thr: Double,
      val compactEvery: Int,
      @volatile private var labelsRef: DataFrame) {

    /** Current `(vec_id, cluster)` labels over corpus ∪ admissions —
      * a bare lineage-truncated leaf the handle owns; read freely, never
      * re-execute after [[release]]. */
    def labels: DataFrame = labelsRef

    private[IngestPipeline] def advance(next: DataFrame): Unit = {
      val prev = labelsRef
      labelsRef = next
      GraftSqlBridge.releaseLeaf(prev)
    }

    def release(): Unit = {
      GraftSqlBridge.releaseLeaf(labelsRef)
      sigStore.unpersist(blocking = false)
      vocab.unpersist(blocking = false)
    }
  }

  /** Corpus build time: freeze every screen's artifact. `corpus` is the
    * admitted historical `(doc_id, text)` set; the vector store lands
    * MIRRORED at `storePath` (the [[SemanticDedup]] layout), admissions
    * and the ledger under `outPath`, initial labels from the one-shot
    * celled rebuild. `centroids` e.g. `IvfStore.train(emb, k)` over the
    * corpus embeds. */
  def build(spark: SparkSession, corpus: DataFrame, storePath: String,
      outPath: String, centroids: DataFrame => DataFrame,
      thr: Double, compactEvery: Int = 16): Handle = {
    val docs = corpus.select("doc_id", "text")
    val words = Bloom.toBits(
      Bloom.build(docs, xxhash64(col("text")), bits = BloomBits,
        hashes = BloomHashes), bits = BloomBits)
    val sigStore = docs
      .select(col("doc_id"), TextOps.simhashCol(col("text")).as("simhash"))
      .persist()
    val vocab = graft.operators.Cumulative.rowNumber(spark,
      docs.select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "").select("token").distinct(),
      Seq(col("token")), "tid").persist()
    vocab.count() // materialize the rank table's cache before any stream starts (s30)
    val emb = SemanticAdmit.embedOf(docs, vocab)
      .filter(call_function("graft_dot", col("e"), col("e")) > 0)
    val labels0 = SemanticDedup.build(spark, emb, storePath, centroids(emb), thr)
    new Handle(words, sigStore, vocab, storePath, outPath, thr, compactEvery,
      labels0)
  }

  /** The full admission screen, batch-shaped — stages 1–4 over any
    * `(doc_id, text)` frame against the frozen artifacts. The batch law
    * and every micro-batch ([[absorb]]) run the SAME two functions,
    * [[gate]] then [[screenOf]] (the s22 posture); `absorb` only
    * checkpoints between them. */
  def screen(h: Handle, batch: DataFrame): DataFrame = {
    val gated = gate(h, batch)
    screenOf(h, gated, SemanticAdmit.embedOf(gated, h.vocab))
  }

  /** Stage 4, the semantic screen, over gated rows and their embeds. */
  private def screenOf(h: Handle, gated: DataFrame, emb: DataFrame): DataFrame =
    SemanticAdmit.screenEmbedded(gated, emb, h.storePath, h.thr)

  /** Stages 1–3: quality gate, exact-dup Bloom, SimHash Hamming screen. */
  private def gate(h: Handle, batch: DataFrame): DataFrame =
    TierSeven.hammingAdmit(
      batch
        .filter(TierFour.qualityCol(col("text")) >= 2)
        .filter(!Bloom.mightContainCol(h.words, xxhash64(col("text")),
          bits = BloomBits, hashes = BloomHashes))
        .withColumn("simhash", TextOps.simhashCol(col("text"))),
      h.sigStore).drop("simhash")

  /** True when batch `id` is in `outPath/ledger` — the replay guard of
    * every ledgered absorb here and in [[SemanticAdmit.absorb]].
    * Existence probe first, NO blanket catch (ADVICE r14): a transient
    * ledger read failure must FAIL the batch so Spark retries it, not
    * silently read as "fresh" and double-process an absorbed batch. */
  private[streaming] def ledgered(spark: SparkSession, outPath: String, id: Long): Boolean =
    graft.sources.Warehouse.dirExists(spark, s"$outPath/ledger") &&
      spark.read.parquet(s"$outPath/ledger")
        .filter(col("batch_id") === id).head(1).nonEmpty

  /** One micro-batch through the whole pipeline: screen → write
    * admissions → fold cluster labels + absorb into the store → ledger.
    * A re-delivered ledgered batch is skipped whole. With a batch id the
    * admissions land under the DETERMINISTIC partition dir
    * `admitted/bid=<id>` in overwrite mode (ADVICE r14): a crash after
    * the admitted write but before the ledger write replays the batch
    * and OVERWRITES the same dir instead of appending a second copy —
    * `admitted/` is exactly-once, not at-least-once. (Readers of the
    * parent dir see the extra `bid` partition column; don't mix
    * ledgered and unledgered absorbs into one `outPath`.) */
  def absorb(h: Handle, batch: DataFrame, batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    if (batchId.exists(ledgered(spark, h.outPath, _))) return
    // the screen, materialized stage by stage, each intermediate once:
    // the gated rows, their embeds (read by the screen's cell collect,
    // its verify join, and the cluster fold), and the admitted rows.
    // localCheckpoint, NOT persist: the screen's logical plan references
    // its own stages many times over (probe set ∪ own, the 4-chunk
    // anti-join chain), and maintain's pair probe would re-embed that
    // plan another ~10× — the composed tree grows multiplicatively and
    // the driver dies ANALYZING it long before data moves (measured:
    // 280 s of SparkPlanInfo.fromSparkPlan on a 4-row batch). Truncating
    // lineage here makes every downstream reference a shallow leaf read.
    val pins = new Pins
    val gated = pins.leaf(gate(h, batch.select("doc_id", "text")))
    val emb = pins.leaf(SemanticAdmit.embedOf(gated, h.vocab))
    val admitted = pins.leaf(screenOf(h, gated, emb))
    batchId match {
      case Some(id) => admitted.write.mode("overwrite")
        .parquet(s"${h.outPath}/admitted/bid=$id")
      case None => admitted.write.mode("append")
        .parquet(s"${h.outPath}/admitted")
    }
    // labels + store advance together: maintain materializes the fold
    // BEFORE the store absorb and shares the batch id with the store's
    // own ledger, so a crash between the two replays consistently
    h.advance(SemanticDedup.maintain(h.storePath, h.labels,
      SemanticAdmit.embedsOf(admitted, emb), h.thr, batchId = batchId,
      ingestId = "ingest_pipeline"))
    pins.release()
    batchId.foreach { id =>
      spark.sql(s"SELECT CAST($id AS BIGINT) AS batch_id")
        .coalesce(1).write.mode("append").parquet(s"${h.outPath}/ledger")
      // auto-compaction cadence (VERDICT r14 #4): both calls are no-ops
      // below their file-count thresholds and atomic-swap safe, so a
      // fixed modulus costs one directory listing on off batches
      if (h.compactEvery > 0 && id % h.compactEvery == 0 && id > 0) {
        SemanticAdmit.compactLedger(spark, h.outPath)
        graft.operators.IvfStore.compact(spark, h.storePath)
      }
    }
  }

  /** The streaming wiring: `foreachBatch` over a `(doc_id, text)`
    * stream, each micro-batch through [[absorb]]. */
  def run(h: Handle, stream: DataFrame): StreamingQuery =
    stream.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        absorb(h, b, batchId = Some(id))
      }.start()
}
