package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{IvfStore, TierEleven, TierNine, TierSixteen}

/** STREAMING SEMANTIC ADMISSION — the embedding near-dup stage the s22
  * ingest pipeline lacked (VERDICT r12 #3). s22 composes the stateless
  * quality gate, the exact-duplicate Bloom, and the SimHash Hamming
  * screen; this adds the fourth stage: an incoming document is embedded
  * against the FROZEN corpus vocabulary (q112's column,
  * [[TierSixteen.hashEmbed]] — the s30 stream-static posture), assigned
  * to its own + runner-up cell of a persisted [[IvfStore]] (the q80/q92
  * store — the batch celled detector's probe discipline), exact-cosine
  * verified against ONLY those cells' vectors, and rejected when any
  * stored twin reaches the threshold.
  *
  * Pure flow — no state store: vocab, centroids and cell vectors are all
  * static sides, so the SAME `screen` call serves a batch frame and a
  * stream micro-batch (`foreachBatch`, because the embed aggregates
  * per-doc token counts — s30's wiring). Streamed admissions over a
  * drained stream ≡ the batch screen on the same rows
  * (SemanticAdmitSpec, s46).
  *
  * `Prepare`-style wiring: corpus build time runs
  * `IvfStore.build(spark, emb, path, IvfStore.train(emb, k))` over the
  * corpus embeds and freezes the vocab rank table; ingest time runs
  * [[run]] over the document stream. With `grow = true` every admitted
  * document's (non-zero) embed is absorbed back into the store via
  * [[IvfStore.append]], so a twin of an EARLIER ADMISSION is rejected
  * too (first arrival wins — the q104 priority-dedup posture on a
  * stream); admitted doc_ids must then be new to the store
  * (`append`'s contract).
  *
  * Scale: the embed is one shuffle over the micro-batch's tokens against
  * a broadcast vocab; the probe collects the batch's ≤ 2·|batch| probed
  * cell ids (bounded driver metadata, the [[IvfStore.probe]] rule) into
  * a STATIC partition filter, so the vector scan prunes to the probed
  * cells at plan time; the verify join is cell-keyed. For bulk backfill
  * batches large enough that the `isin` list stops being metadata, run
  * the batch celled detector instead — this operator is the per-arrival
  * admission face of the same math.
  */
object SemanticAdmit {

  private def dotc(x: Column, y: Column) = call_function("graft_dot", x, y)

  /** q112 embeds as `(vec_id, e: array<double>)` against a FROZEN vocab —
    * the shared shape for the store build and the screen (tokens outside
    * the vocab drop; an all-OOV doc embeds to the zero vector). */
  def embedOf(docs: DataFrame, vocab: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    TierSixteen.hashEmbed(docs.select("doc_id", "text"), vocab)
      .select(col("doc_id").as("vec_id"),
        array((0 until 8).map(c => col(s"e$c").cast("double")): _*).as("e"))
  }

  /** The admitted subset of `docs` — every row whose embed has NO stored
    * twin at cosine ≥ `thr` within its own + runner-up cell of the store
    * at `storePath`. Zero-vector embeds (all tokens OOV) carry no
    * semantic signal and are admitted, matching the batch celled
    * detector, which excludes zero vectors from the pair universe. */
  def screen(docs: DataFrame, vocab: DataFrame, storePath: String,
      thr: Double): DataFrame =
    screenEmbedded(docs, embedOf(docs, vocab), storePath, thr)

  /** [[screen]] over embeds the caller already holds — `emb` is
    * `embedOf(docs, vocab)`, or a materialized copy of it, so a caller
    * that reuses the embeds afterwards (the store absorb, the cluster
    * fold) embeds each doc once. */
  def screenEmbedded(docs: DataFrame, emb: DataFrame, storePath: String,
      thr: Double): DataFrame = {
    val spark = docs.sparkSession
    val live = emb.filter(dotc(col("e"), col("e")) > 0)
    val cents = spark.read.parquet(s"$storePath/centroids")
    val own = TierNine.assignTo(live, cents)
    val probed = TierEleven.probeAssign(live, cents, own, probe2 = true)
      .join(live, "vec_id")
      .select(col("cid"), col("vec_id"), col("e").as("xe"))
      .withColumn("nx", sqrt(dotc(col("xe"), col("xe"))))
    // bounded driver read: ≤ 2 probed cells per incoming doc — the batch's
    // cell set is metadata, and isin is a static partition filter on the
    // cell-partitioned store layout
    val cells = probed.select("cid").distinct().collect().map(_.getLong(0)).toSeq
    val store = spark.read.parquet(s"$storePath/vectors")
      .filter(col("cell").isin(cells: _*))
      .select(col("cell").as("cid"), col("vec_id").as("sid"), col("e").as("ye"))
    val twins = probed.join(store, Seq("cid"))
      // a doc is not its own duplicate (the batch detector's doc_a ≠
      // doc_b): also keeps a grow-mode crash-window replay (store
      // absorbed, out ledger not yet written) from rejecting a doc for
      // matching its own stored embed
      .filter(col("sid") =!= col("vec_id"))
      .withColumn("c",
        dotc(col("xe"), col("ye")) / (col("nx") * sqrt(dotc(col("ye"), col("ye")))))
      .filter(col("c") >= thr)
      .select(col("vec_id").as("doc_id")).distinct()
    docs.join(twins, Seq("doc_id"), "left_anti")
  }

  /** The rows of `emb` (a screened frame's embeds) whose doc was admitted. */
  private[streaming] def embedsOf(admitted: DataFrame, emb: DataFrame): DataFrame =
    emb.join(admitted.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")

  /** One micro-batch through the screen with the replay contract
    * ([[IvfStore.append]]'s): admitted rows land under
    * `outPath/admitted/bid=<id>` (overwrite — replay-idempotent even in
    * the crash window before the ledger write), the batch id lands in
    * `outPath/ledger` AFTER the write, and an at-least-once re-delivery
    * of a ledgered batch is skipped whole. With `grow`, admitted non-zero
    * embeds are absorbed into the store before the ledger write (the
    * store append keeps its own ledger under the same batch id). */
  def absorb(batch: DataFrame, vocab: DataFrame, storePath: String,
      outPath: String, thr: Double, batchId: Option[Long] = None,
      grow: Boolean = false): Unit = {
    val spark = batch.sparkSession
    if (batchId.exists(IngestPipeline.ledgered(spark, outPath, _))) return
    // with grow, the embeds serve the screen and the store absorb, so
    // they are cached; the admitted rows are read twice (write +
    // optional grow); both dropped before return
    val emb = if (grow) embedOf(batch, vocab).persist() else embedOf(batch, vocab)
    val admitted = screenEmbedded(batch, emb, storePath, thr).persist()
    // deterministic partition dir per ledgered batch (ADVICE r14): a
    // crash-window replay overwrites instead of double-appending, so
    // admitted/ is exactly-once; unledgered batch calls keep the flat
    // append (don't mix the two modes in one outPath)
    batchId match {
      case Some(id) => admitted.write.mode("overwrite")
        .parquet(s"$outPath/admitted/bid=$id")
      case None => admitted.write.mode("append").parquet(s"$outPath/admitted")
    }
    if (grow) IvfStore.append(spark, storePath,
      embedsOf(admitted, emb).filter(dotc(col("e"), col("e")) > 0),
      batchId = batchId, ingestId = "semantic_admit")
    admitted.unpersist(blocking = false)
    if (grow) emb.unpersist(blocking = false)
    batchId.foreach { id =>
      spark.sql(s"SELECT CAST($id AS BIGINT) AS batch_id")
        .coalesce(1).write.mode("append").parquet(s"$outPath/ledger")
    }
  }

  /** Fold the admission ledger at `outPath/ledger` to one file, rows
    * preserved exactly — [[absorb]] appends a 1-row file per micro-batch
    * and its replay guard ([[IngestPipeline.ledgered]]) re-reads the
    * whole directory per batch, so a long-running ingest's replay guard
    * becomes file-open-bound without
    * this (the [[graft.operators.IvfStore.compact]] ledger discipline;
    * VERDICT r13 #4). Safe to call between batches at any cadence;
    * replay-skip behavior is identical across a fold
    * (SemanticAdmitSpec). Returns true when it folded. */
  def compactLedger(spark: SparkSession, outPath: String): Boolean =
    graft.sources.Warehouse.foldToOneFile(spark, s"$outPath/ledger")

  /** The streaming wiring: `foreachBatch` over a `(doc_id, text)` stream,
    * each micro-batch through [[absorb]]. */
  def run(stream: DataFrame, vocab: DataFrame, storePath: String,
      outPath: String, thr: Double, grow: Boolean = false): StreamingQuery =
    stream.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        absorb(b, vocab, storePath, outPath, thr, batchId = Some(id), grow = grow)
      }.start()
}
