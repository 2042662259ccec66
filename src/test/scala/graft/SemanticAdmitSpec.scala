package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Cumulative, IvfStore}
import graft.streaming.SemanticAdmit

/** s46: the STREAMING SEMANTIC ADMISSION stage (VERDICT r12 #3) — the
  * embedding near-dup screen as a stream-static celled probe against the
  * persisted IVF store. Laws:
  *  - streamed admissions over the drained stream ≡ the batch screen on
  *    the same rows (the s21/s22 parity posture);
  *  - soundness: every rejection has a true cosine twin ≥ thr in the
  *    corpus (driver brute force over the same embeds — no false drops);
  *  - an exact re-ingest is caught DETERMINISTICALLY (identical embed ⇒
  *    identical own cell), a fresh doc is admitted;
  *  - replay: a ledgered batch re-delivered with the same id is skipped
  *    (the IvfStore.append contract);
  *  - grow mode: a twin of an EARLIER ADMISSION is rejected (first
  *    arrival wins), while the frozen-store mode admits both.
  */
class SemanticAdmitSpec extends SparkSpec {

  private val Thr = 0.95

  private def freshVocab(corpus: DataFrame): DataFrame = {
    val v = Cumulative.rowNumber(spark,
      corpus.select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "").select("token").distinct(),
      Seq(col("token")), "tid").persist()
    v.count() // freeze the rank table before any stream starts (s30)
    v
  }

  private def cos(a: Vector[Double], b: Vector[Double]): Double = {
    val d = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    if (na == 0 || nb == 0) 0.0 else d / (na * nb)
  }

  test("s46: streaming semantic admission ≡ batch screen; sound rejects; replay skipped; grow rejects later twins") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val vocab = freshVocab(corpus)
    val emb = SemanticAdmit.embedOf(corpus, vocab)
      .filter(expr("aggregate(zip_with(e, e, (x, y) -> x * y), 0D, (a, x) -> a + x)") > 0)
      .persist()
    val store = java.nio.file.Files.createTempDirectory("sem_admit_store").toString
    IvfStore.build(spark, emb, store, IvfStore.train(emb, k = 4))
    val corpusEmb = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap

    // fixture: an exact corpus re-ingest (cos 1.0, same own cell — the
    // deterministic catch), an all-OOV fresh doc (zero embed, admitted),
    // and an in-vocab text whose best corpus cosine is < Thr (admitted) —
    // searched deterministically so the fixture can't silently degenerate
    val srcText = corpus.orderBy("doc_id").head().getString(1)
    val tokens = srcText.split(" ").filter(_.nonEmpty).distinct
    val candidates = (2 to 12).map(k =>
      Seq.fill(6)(tokens.take(k)).flatten.mkString(" "))
    val candEmb = candidates.toDF("text")
      .withColumn("doc_id", monotonically_increasing_id())
      .select("doc_id", "text")
    val candVecs = SemanticAdmit.embedOf(candEmb, vocab).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    val candTexts = candEmb.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val inVocabFresh = candTexts.toSeq.sortBy(_._1).collectFirst {
      case (id, t) if candVecs(id).exists(_ != 0) &&
        corpusEmb.values.map(v => cos(candVecs(id), v)).max < Thr => t
    }
    assert(inVocabFresh.isDefined,
      "fixture must yield an in-vocab text below the twin threshold")

    val incoming = Seq(
      (9101L, srcText),            // exact re-ingest → semantic reject
      (9102L, "zq9x wq7k vv3m"),   // all-OOV → zero embed → admitted
      (9103L, inVocabFresh.get))   // in-vocab, sub-threshold → admitted

    // batch screen + soundness against driver brute force
    val batchAdmitted = SemanticAdmit.screen(incoming.toDF("doc_id", "text"),
      vocab, store, Thr).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchAdmitted == Set(9102L, 9103L),
      s"batch screen must reject only the exact re-ingest, got $batchAdmitted")
    val inVecs = SemanticAdmit.embedOf(incoming.toDF("doc_id", "text"), vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    for (id <- incoming.map(_._1).toSet -- batchAdmitted) {
      assert(corpusEmb.values.map(v => cos(inVecs(id), v)).max >= Thr,
        s"rejected $id must have a true cosine twin ≥ $Thr (no false drops)")
    }

    // streamed (frozen store): drained admissions ≡ batch
    val out = java.nio.file.Files.createTempDirectory("sem_admit_out").toString
    val in = MemoryStream[(Long, String)]
    val q = SemanticAdmit.run(
      in.toDF().select(col("_1").as("doc_id"), col("_2").as("text")),
      vocab, store, out, Thr)
    try incoming.grouped(2).foreach { c => in.addData(c); q.processAllAvailable() }
    finally q.stop()
    def admittedIds(p: String): Seq[Long] =
      spark.read.parquet(s"$p/admitted").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
    assert(admittedIds(out).toSet == batchAdmitted,
      "streamed admissions must equal the batch screen")
    assert(admittedIds(out).size == batchAdmitted.size, "no duplicate admissions")

    // replay: the same batch id again → ledger skip, output unchanged
    val n0 = admittedIds(out).size
    SemanticAdmit.absorb(incoming.toDF("doc_id", "text"), vocab, store, out,
      Thr, batchId = Some(0L))
    assert(admittedIds(out).size == n0, "re-delivered ledgered batch must be skipped")

    // ledger compaction (VERDICT r13 #4): fold the per-batch ledger files
    // to one, rows preserved exactly, replay-skip semantics identical —
    // a ledgered id still skips, a fresh id still admits
    assert(spark.read.parquet(s"$out/ledger").inputFiles.length > 1,
      "fixture: the drained stream must have left multiple ledger files")
    val ledgerRows = spark.read.parquet(s"$out/ledger")
      .collect().map(_.toString).sorted.toSeq
    assert(SemanticAdmit.compactLedger(spark, out), "the fold must trigger")
    assert(spark.read.parquet(s"$out/ledger").inputFiles.length == 1,
      "the ledger must fold to a single file")
    assert(spark.read.parquet(s"$out/ledger")
        .collect().map(_.toString).sorted.toSeq == ledgerRows,
      "folding must preserve every ledgered batch id")
    assert(!SemanticAdmit.compactLedger(spark, out),
      "an already-folded ledger is a no-op")
    SemanticAdmit.absorb(incoming.toDF("doc_id", "text"), vocab, store, out,
      Thr, batchId = Some(1L))
    assert(admittedIds(out).size == n0,
      "a ledgered batch must still skip after the fold")
    SemanticAdmit.absorb(Seq((9104L, "zq9x wq7k vv3m")).toDF("doc_id", "text"),
      vocab, store, out, Thr, batchId = Some(2L))
    assert(admittedIds(out).size == n0 + 1,
      "a fresh batch must still admit after the fold")

    // grow mode: a twin of an earlier ADMISSION is rejected; the frozen
    // store admits both (the contrast that justifies the option)
    val novel = inVocabFresh.get
    val b1 = Seq((9201L, novel)).toDF("doc_id", "text")
    val b2 = Seq((9202L, novel)).toDF("doc_id", "text")
    val outGrow = java.nio.file.Files.createTempDirectory("sem_admit_grow").toString
    SemanticAdmit.absorb(b1, vocab, store, outGrow, Thr, batchId = Some(10L), grow = true)
    SemanticAdmit.absorb(b2, vocab, store, outGrow, Thr, batchId = Some(11L), grow = true)
    assert(admittedIds(outGrow).toSet == Set(9201L),
      "grow mode must reject the later twin of an earlier admission")
    val outFrozen = java.nio.file.Files.createTempDirectory("sem_admit_frozen").toString
    val store2 = java.nio.file.Files.createTempDirectory("sem_admit_store2").toString
    IvfStore.build(spark, emb, store2, IvfStore.train(emb, k = 4))
    SemanticAdmit.absorb(b1, vocab, store2, outFrozen, Thr, batchId = Some(10L))
    SemanticAdmit.absorb(b2, vocab, store2, outFrozen, Thr, batchId = Some(11L))
    assert(admittedIds(outFrozen).toSet == Set(9201L, 9202L),
      "the frozen store admits both copies — grow is the first-wins switch")

    emb.unpersist()
    vocab.unpersist()
  }

  test("s46: crash-window replay overwrites admitted/ exactly-once; a corrupt ledger FAILS the batch (ADVICE r14)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val vocab = freshVocab(corpus)
    val emb = SemanticAdmit.embedOf(corpus, vocab)
      .filter(expr("aggregate(zip_with(e, e, (x, y) -> x * y), 0D, (a, x) -> a + x)") > 0)
    val store = java.nio.file.Files.createTempDirectory("sem_eo_store").toString
    IvfStore.build(spark, emb, store, IvfStore.train(emb, k = 2))
    val out = java.nio.file.Files.createTempDirectory("sem_eo_out").toString
    val batch = Seq((90L, "totally novel words here")).toDF("doc_id", "text")

    def admittedRows(): Seq[Long] =
      spark.read.parquet(s"$out/admitted").select("doc_id")
        .collect().map(_.getLong(0)).toSeq

    SemanticAdmit.absorb(batch, vocab, store, out, Thr, batchId = Some(5L))
    assert(admittedRows() == Seq(90L), "fixture: the novel doc admits")

    // the crash window: admitted/ written, ledger write never happened —
    // simulate by deleting the ledger, then re-deliver the same id. The
    // deterministic bid=5 dir must OVERWRITE, not append a second copy.
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/ledger"), true)
    SemanticAdmit.absorb(batch, vocab, store, out, Thr, batchId = Some(5L))
    assert(admittedRows() == Seq(90L),
      "a crash-window replay must overwrite its own bid dir, never duplicate")

    // a ledger that EXISTS but cannot be read is a real failure, not
    // "no ledger yet": the batch must fail (so Spark retries it) instead
    // of silently re-processing as fresh
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/ledger"), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$out/ledger"))
    val garbage = fs.create(
      new org.apache.hadoop.fs.Path(s"$out/ledger/part-corrupt.parquet"))
    garbage.write("this is not a parquet file".getBytes)
    garbage.close()
    intercept[Exception] {
      SemanticAdmit.absorb(batch, vocab, store, out, Thr, batchId = Some(6L))
    }
    assert(admittedRows() == Seq(90L),
      "a failed ledger probe must not have admitted anything")
    vocab.unpersist()
  }
}
