package perfbench

import graft.functions.Bloom
import graft.operators.{IvfStore, TextOps, TierFour, TierSeven}
import graft.streaming.{IngestPipeline, SemanticAdmit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `ingest_drain`: `IngestPipeline.build` over the corpus
  * (`corpus.parquet`, a slice of the `documents` table), then a closed
  * loop of ledgered `absorb` calls over the seeded, labelled batches
  * (`batch-<k>.parquet`: doc_id, text, label). In traced runs, before
  * each absorb the four screening stages run on their own, through the
  * same public stage functions `screen` composes, to count and time what
  * each keeps, and conservation is checked after it (rows in = stage
  * rejects + admitted, with admitted equal to the staged screen's output).
  * Every run checks that no labelled duplicate or low-quality doc was
  * admitted. */
object Ingest {
  def run(ctx: Ctx, rec: Recorder, out: Out): Unit = {
    val nBatches = new java.io.File(ctx.input).list().count(_.startsWith("batch-"))
    val (spark, layers) = Main.session(rec)
    val corpus = spark.read.parquet(s"${ctx.input}/corpus.parquet").select("doc_id", "text")
    val tb = System.nanoTime()
    val h = IngestPipeline.build(spark, corpus, ctx.path("ingest/store"), ctx.path("ingest/out"),
      emb => IvfStore.train(emb, k = 16), thr = 0.95)
    rec.add("ingest.build_s", (System.nanoTime() - tb) / 1e9)
    out.fields("setup_s") = Main.sinceJvmStart
    layers.foreach(_.tagOf = stepOf)

    // one batch at least, more while the measuring time lasts
    val t0 = System.nanoTime()
    var k = 0
    while (k < nBatches && (k == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
      val batch = spark.read.parquet(s"${ctx.input}/batch-$k.parquet")
      val rowsIn = batch.count()
      rec.add("ingest.rows_in", rowsIn.toDouble)
      val counts = if (ctx.traced) Some(stages(rec, h, batch.select("doc_id", "text"), rowsIn)) else None
      out.attempted += 1
      val id = s"op-$k"
      Main.listen(spark, rec, on = true)
      val gc0 = Layers.gcMillis
      val start = System.currentTimeMillis().toDouble
      val sc = spark.sparkContext
      sc.setLocalProperty("perfbench.phase", "execute")
      sc.setLocalProperty("perfbench.span", id)
      val ok = try {
        IngestPipeline.absorb(h, batch.select("doc_id", "text"), batchId = Some(k.toLong))
        true
      } catch { case e: Throwable => out.fail(s"batch $k: ${e.getMessage}"); false }
      val end = System.currentTimeMillis().toDouble
      rec.add("engine.gc_s", (Layers.gcMillis - gc0) / 1e3)
      rec.span(Span(id, "ingest.absorb", start, end, ""))
      Main.listen(spark, rec, on = false)
      if (ok) {
        rec.sample("latency_ms", end - start)
        rec.sample("throughput_per_s", rowsIn / ((end - start) / 1e3))
        check(spark, h, batch, k, counts, out)
      }
      k += 1
    }
    val in = rec.counter("ingest.rows_in")
    rec.add("ingest.admit_ratio", if (in > 0) rec.counter("ingest.semantic.rows_out") / in else 0.0)
    out.fields("batches") = k
    out.fields("phase_s") = Map("batches" -> (System.nanoTime() - t0) / 1e9)
    h.release()
    spark.stop()
  }

  /** Attributes a stage run inside `absorb` (the only stages recorded) to
    * the library step that started it, from the stage's call site, which
    * Spark cuts to its innermost frames: the commit (admitted rows,
    * ledger, compaction) or cluster maintenance (`SemanticDedup.maintain`
    * and the `Components`/`IvfStore` calls it makes). */
  def stepOf(info: org.apache.spark.scheduler.StageInfo): Option[String] = {
    val site = info.details
    if (info.name.startsWith("parquet at IngestPipeline") ||
      site.contains("compactLedger") || site.contains("IvfStore$.compact")) Some("commit")
    else if (Seq("SemanticDedup$", "Components$", "IvfStore$").exists(site.contains)) Some("maintain")
    else None
  }

  /** Runs the four screening stages one by one on the current handle and
    * returns the rows each keeps; the counters and stage times go to the
    * recorder. Untimed with respect to the operation; traced runs only,
    * since it re-runs the whole screen. */
  def stages(rec: Recorder, h: IngestPipeline.Handle, batch: DataFrame,
      rowsIn: Long): Map[String, Long] = {
    def step(name: String, df: => DataFrame): (DataFrame, Long) = {
      val t0 = System.nanoTime()
      val kept = df.localCheckpoint(true)
      val n = kept.count()
      rec.add(s"ingest.${name}_s", (System.nanoTime() - t0) / 1e9)
      rec.add(s"ingest.$name.rows_out", n.toDouble)
      (kept, n)
    }
    val (q, nq) = step("quality", batch.filter(TierFour.qualityCol(col("text")) >= 2))
    val (b, nb) = step("bloom", q.filter(!Bloom.mightContainCol(h.words, xxhash64(col("text")),
      bits = IngestPipeline.BloomBits, hashes = IngestPipeline.BloomHashes)))
    val (s, ns) = step("simhash", TierSeven.hammingAdmit(
      b.withColumn("simhash", TextOps.simhashCol(col("text"))), h.sigStore).drop("simhash"))
    val (m, nm) = step("semantic", SemanticAdmit.screen(s, h.vocab, h.storePath, h.thr))
    Seq(q, b, s, m).foreach(_.unpersist(blocking = false))
    Map("rows_in" -> rowsIn, "quality" -> nq, "bloom" -> nb, "simhash" -> ns, "semantic" -> nm)
  }

  def check(spark: SparkSession, h: IngestPipeline.Handle, batch: DataFrame, k: Int,
      counts: Option[Map[String, Long]], out: Out): Unit = {
    val admitted = spark.read.parquet(s"${h.outPath}/admitted/bid=$k")
    val nAdmitted = admitted.count()
    // each stage's rejects are what it dropped of its input; the last
    // stage's survivors must be exactly what absorb admitted
    counts.foreach { c =>
      val rejects = Seq("rows_in" -> "quality", "quality" -> "bloom", "bloom" -> "simhash",
        "simhash" -> "semantic").map { case (a, b) => c(a) - c(b) }
      out.attempted += 1
      if (c("rows_in") != rejects.sum + nAdmitted)
        out.fail(s"batch $k: conservation: in ${c("rows_in")}, rejects $rejects, " +
          s"admitted $nAdmitted, staged screen kept ${c("semantic")}")
    }
    // every labelled duplicate and low-quality doc is one the screens
    // must reject (see gen.py), so only fresh docs may be admitted
    val wrong = admitted.join(batch.filter(col("label") =!= "fresh"), "doc_id")
      .groupBy("label").count().collect().map(r => s"${r.getString(0)}: ${r.getLong(1)}")
    out.attempted += 1
    if (wrong.nonEmpty) out.fail(s"batch $k: admitted docs the screens must reject (${wrong.mkString(", ")})")
  }
}
