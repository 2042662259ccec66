package graft

import graft.operators.{Components, Cumulative, IvfStore, TextOps, TierFour,
  TierNineteen}
import graft.streaming.{IngestPipeline, SemanticAdmit}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

/** s49 — THE FULL INGEST PIPELINE END TO END (VERDICT r13 #5): quality
  * gate → exact-dup Bloom → SimHash Hamming screen → semantic admission
  * → cluster maintenance, as ONE `foreachBatch` stream. Laws:
  *
  *  - the drained stream's END STATE ≡ the batch pipeline on the same
  *    rows: admitted set = the one-shot screen, store = corpus ∪
  *    admissions, labels = the one-shot celled rebuild over corpus ∪
  *    admissions (zero-embed admissions as singletons);
  *  - every stage has a LIVE catch on the fixture (a quality reject, a
  *    Bloom exact-dup catch, a SimHash near-dup catch, a semantic twin
  *    catch, plus an OOV and an in-vocab admission);
  *  - grow: a later twin of an earlier ADMISSION is rejected (first
  *    arrival wins — the admitted doc was absorbed into the store);
  *  - replay: a re-delivered ledgered batch changes nothing (admitted
  *    rows, store, labels);
  *  - in-batch twins: two fresh docs that are each other's semantic
  *    twins are both admitted (the screen probes only the store) and
  *    merged by the cluster fold — labels ≡ a full recompute over
  *    store ∪ batch (the non-empty `Components.delta` path);
  *  - leaks: ledgered absorbs leave only the current labels leaf (plus
  *    the handle's `sigStore` and `vocab`) pinned.
  */
class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def cos(a: Vector[Double], b: Vector[Double]): Double = {
    val d = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    if (na == 0 || nb == 0) 0.0 else d / (na * nb)
  }

  test("s49: drained ingest stream ≡ batch pipeline (admissions, store, labels); stage catches live; grow + replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val storePath = java.nio.file.Files.createTempDirectory("ingest_store").toString
    val outPath = java.nio.file.Files.createTempDirectory("ingest_out").toString

    // ---- fixture search, all pre-build and driver-side: the frozen
    // artifacts (vocab, Bloom bits, quantizer) are deterministic, so they
    // can be replayed here to pick the threshold and the per-stage catches
    val vocab = Cumulative.rowNumber(spark,
      corpus.select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "").select("token").distinct(),
      Seq(col("token")), "tid").persist()
    vocab.count()
    val words = graft.functions.Bloom.toBits(
      graft.functions.Bloom.build(corpus, xxhash64(col("text")),
        bits = IngestPipeline.BloomBits, hashes = IngestPipeline.BloomHashes),
      bits = IngestPipeline.BloomBits)
    val embDf = SemanticAdmit.embedOf(corpus, vocab)
      .filter(expr("aggregate(zip_with(e, e, (x, y) -> x * y), 0D, (a, x) -> a + x)") > 0)
    val corpusEmb = embDf.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    val cents = IvfStore.train(embDf, k = 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toSeq
    def sqd(e: Vector[Double], c: Vector[Double]): Double = {
      val ee = e.map(x => x * x).sum; val cc = c.map(x => x * x).sum
      val ec = e.zip(c).map { case (x, y) => x * y }.sum
      ee - 2 * ec + cc
    }
    def cellsOf(e: Vector[Double], n: Int): Seq[Long] =
      cents.map { case (cid, c) => (sqd(e, c), cid) }.sorted.take(n).map(_._2)
    val ownCell = corpusEmb.map { case (id, e) => id -> cellsOf(e, 1).head }

    val goodDocs = corpus.filter(TierFour.qualityCol(col("text")) >= 2)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(goodDocs.nonEmpty, "fixture needs a quality-passing corpus doc")
    val srcText = goodDocs.head._2
    val corpusSigs = corpus
      .select(TextOps.simhashCol(col("text")).as("sig"))
      .collect().map(_.getLong(0))
    def minDist(sig: Long): Int =
      corpusSigs.map(c => java.lang.Long.bitCount(sig ^ c)).min
    // SimHash catch: a single-token edit within Hamming 1..3 (s22's search)
    val edits = goodDocs.take(10).flatMap { case (_, t) =>
      val toks = t.split(" ")
      toks.indices.take(40).map(p => toks.updated(p, "graftedit").mkString(" "))
    }
    val editSigs = edits.toSeq.toDF("text")
      .select(col("text"), TextOps.simhashCol(col("text")).as("sig"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val nearDup = editSigs.collectFirst {
      case (t, sig) if minDist(sig) >= 1 && minDist(sig) <= 3 => t
    }
    assert(nearDup.isDefined, "no single-token edit landed within Hamming 1..3")
    // semantic catch + in-vocab admission: prefix-bag candidates (varying
    // width and skew) that clear stages 1-3 (quality, Bloom, Hamming ≥ 4);
    // among them, the stage-4 catch is the one with the highest corpus
    // cosine whose best twin sits in its own + runner-up cells (so the
    // celled probe provably finds it), and the threshold splits it from
    // the admission candidate
    val srcToks = srcText.split(" ").filter(_.nonEmpty).distinct
    val candidates = ((2 to 12).map(k =>
        Seq.fill(6)(srcToks.take(k)).flatten.mkString(" ")) ++
      (2 to 12).flatMap(k => (1 to 3).map(m =>
        (Seq.fill(6)(srcToks.take(k)).flatten ++
          Seq.fill(4 * m)(srcToks.head)).mkString(" ")))).distinct
    val candStats = candidates.toDF("text")
      .filter(TierFour.qualityCol(col("text")) >= 2)
      .filter(!graft.functions.Bloom.mightContainCol(words,
        xxhash64(col("text")), bits = IngestPipeline.BloomBits,
        hashes = IngestPipeline.BloomHashes))
      .withColumn("sig", TextOps.simhashCol(col("text")))
      .withColumn("doc_id", monotonically_increasing_id())
      .select("doc_id", "text", "sig")
    val candEmb = SemanticAdmit.embedOf(candStats, vocab).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    val stage13 = candStats.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .collect { case (id, t, s) if minDist(s) >= 4 &&
        candEmb(id).exists(_ != 0) => (t, candEmb(id)) }
    assert(stage13.nonEmpty, "no candidate cleared quality + Bloom + Hamming ≥ 4")
    // per candidate: best corpus cosine IN its probed (own + runner) cells
    val probedCos = stage13.map { case (t, e) =>
      val probed = cellsOf(e, 2).toSet
      val best = corpusEmb.collect {
        case (cid, ce) if probed(ownCell(cid)) => cos(e, ce)
      }
      (t, if (best.isEmpty) 0.0 else best.max)
    }
    val (semTwinText, twinCos) = probedCos.maxBy(_._2)
    assert(twinCos >= 0.6,
      s"fixture must yield a strong in-cell semantic twin, best was $twinCos")
    val Thr = twinCos - 1e-9 // any threshold ≤ the twin's cosine rejects it
    val freshOpt = probedCos.collectFirst {
      case (t, c) if c < Thr - 0.02 && t != semTwinText => t }
    assert(freshOpt.isDefined,
      "fixture must yield an in-vocab sub-threshold admission")
    val inVocabFresh = freshOpt.get
    vocab.unpersist()

    val h = IngestPipeline.build(spark, corpus, storePath, outPath,
      emb => IvfStore.train(emb, k = 4), Thr)

    val incoming = Seq(
      (9001L, "a a a a a"),        // stage-1 quality reject
      (9002L, srcText),            // stage-2 Bloom exact-dup catch
      (9003L, nearDup.get),        // stage-3 SimHash Hamming catch
      (9004L, semTwinText),        // stage-4 semantic twin catch
      (9005L, "zq9x wq7k vv3m"),   // OOV (zero embed) — admitted
      (9006L, inVocabFresh))       // in-vocab, sub-threshold — admitted

    // ---- batch law, computed BEFORE the stream grows the store ----
    val batchAdmitted = IngestPipeline.screen(h, incoming.toDF("doc_id", "text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchAdmitted == Set(9005L, 9006L),
      s"batch pipeline must admit exactly the two fresh docs, got $batchAdmitted")
    // soundness of the stage-4 catch: it has a true cosine twin ≥ Thr in
    // the corpus (9001 fails quality, 9002 is an exact corpus text, 9003
    // is Hamming ≤ 3 — all attributable by construction)
    val semTwinVec = stage13.collectFirst {
      case (t, e) if t == semTwinText => e }.get
    assert(corpusEmb.values.map(v => cos(semTwinVec, v)).max >= Thr,
      "the semantic catch must have a true cosine twin in the corpus (sound)")

    val labels0Snapshot = h.labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // ---- drive the stream in 3 micro-batches ----
    val in = MemoryStream[(Long, String)]
    val q = IngestPipeline.run(h,
      in.toDF().select(col("_1").as("doc_id"), col("_2").as("text")))
    try incoming.grouped(2).foreach { c => in.addData(c); q.processAllAvailable() }
    finally q.stop()

    def admittedIds: Set[Long] =
      spark.read.parquet(s"$outPath/admitted").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    assert(admittedIds == batchAdmitted,
      "streamed admissions must equal the batch screen")

    // ---- end-state labels ≡ one-shot celled rebuild over the union ----
    val frozen = spark.read.parquet(s"$storePath/centroids")
    val admittedDocs = incoming.filter(r => batchAdmitted(r._1))
      .toDF("doc_id", "text")
    val unionEmb = SemanticAdmit.embedOf(
        corpus.unionByName(admittedDocs), h.vocab)
      .filter(expr("aggregate(zip_with(e, e, (x, y) -> x * y), 0D, (a, x) -> a + x)") > 0)
    val oneShot = Components.connected(
        unionEmb.select(col("vec_id").as("id")),
        TierNineteen.pairsOverCents(unionEmb, frozen, Thr)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap + (9005L -> 9005L)
    val got = h.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == oneShot,
      "end-state labels must equal the one-shot celled rebuild over corpus ∪ admissions")
    assert(got.keySet == labels0Snapshot.keySet ++ Set(9005L, 9006L),
      "labels must grow by exactly the admissions")
    // store end state: the in-vocab admission absorbed, the zero embed not
    val stored = spark.read.parquet(s"$storePath/vectors")
      .filter(col("vec_id") >= 9000L).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(stored == Set(9006L), s"store must grow by the non-zero admission, got $stored")

    // ---- grow: a later twin of an earlier admission is rejected ----
    IngestPipeline.absorb(h,
      Seq((9007L, inVocabFresh)).toDF("doc_id", "text"), batchId = Some(100L))
    assert(admittedIds == batchAdmitted,
      "a twin of an earlier admission must be rejected (first arrival wins)")

    // ---- replay: a ledgered batch id changes nothing ----
    val labelsBefore = h.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    IngestPipeline.absorb(h,
      Seq((9008L, "completely new text")).toDF("doc_id", "text"), batchId = Some(100L))
    assert(admittedIds == batchAdmitted, "a replayed ledgered batch must be skipped")
    assert(h.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == labelsBefore, "labels must not move on a replayed batch")

    // ---- auto-compaction cadence (VERDICT r14 #4): an absorb whose
    // batch id hits the modulus folds the ledger mid-stream; replay
    // skips and fresh admissions are unchanged across the fold ----
    val ledgerIdsBefore = spark.read.parquet(s"$outPath/ledger")
      .collect().map(_.getLong(0)).toSet
    assert(spark.read.parquet(s"$outPath/ledger").inputFiles.length > 1,
      "fixture: the stream must have left multiple ledger files")
    IngestPipeline.absorb(h,
      Seq((9009L, "zq9x wq7k vv3m mm2p")).toDF("doc_id", "text"),
      batchId = Some(112L)) // 112 % 16 == 0 → the cadence fires
    assert(spark.read.parquet(s"$outPath/ledger").inputFiles.length == 1,
      "the cadence batch must fold the admission ledger to one file")
    assert(spark.read.parquet(s"$outPath/ledger")
        .collect().map(_.getLong(0)).toSet == ledgerIdsBefore + 112L,
      "folding must preserve every ledgered batch id")
    val afterCadence = admittedIds
    IngestPipeline.absorb(h,
      Seq((9010L, "another new doc")).toDF("doc_id", "text"),
      batchId = Some(1L)) // ledgered pre-fold → must still skip post-fold
    assert(admittedIds == afterCadence,
      "a pre-fold ledgered id must still skip after the fold")

    h.release()
    spark.catalog.clearCache()
  }

  private val SqNorm = "aggregate(zip_with(e, e, (x, y) -> x * y), 0D, (a, x) -> a + x)"

  /** A handle over the fixture corpus at threshold `thr`, plus twin
    * pairs of fresh docs: each pair is one in-vocab token bag in two
    * orders (same embed and SimHash, different text), skewed enough that
    * no corpus doc reaches `thr`, and clear of the quality gate, the
    * Bloom filter and the Hamming screen. */
  private def twinFixture(thr: Double, nPairs: Int)
      : (IngestPipeline.Handle, Seq[((Long, String), (Long, String))]) = {
    val corpus = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val h = IngestPipeline.build(spark, corpus,
      java.nio.file.Files.createTempDirectory("ingest_store").toString,
      java.nio.file.Files.createTempDirectory("ingest_out").toString,
      emb => IvfStore.train(emb, k = 4), thr)
    val corpusEmb = SemanticAdmit.embedOf(corpus, h.vocab).filter(expr(SqNorm) > 0)
      .collect().map(_.getSeq[Double](1).toVector)
    val corpusSigs = corpus.select(TextOps.simhashCol(col("text")))
      .collect().map(_.getLong(0))
    val toks = corpus.select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) >= 4).distinct().orderBy("t")
      .collect().map(_.getString(0)).toSeq
    val bags = for (a <- toks; b <- toks if a != b)
      yield (Seq.fill(16)(a) ++ Seq.fill(6)(b)).mkString(" ")
    val cand = bags.toDF("text")
      .filter(TierFour.qualityCol(col("text")) >= 2)
      .filter(!graft.functions.Bloom.mightContainCol(h.words, xxhash64(col("text")),
        bits = IngestPipeline.BloomBits, hashes = IngestPipeline.BloomHashes))
      .withColumn("doc_id", monotonically_increasing_id())
      .withColumn("sig", TextOps.simhashCol(col("text")))
    val sigOf = cand.select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fresh = SemanticAdmit.embedOf(cand, h.vocab).join(cand, col("vec_id") === col("doc_id"))
      .select("text", "e", "doc_id").collect().toSeq
      .map(r => (r.getString(0), r.getSeq[Double](1).toVector, r.getLong(2)))
      .filter { case (_, e, id) =>
        e.exists(_ != 0) && corpusEmb.forall(c => cos(e, c) < thr - 0.05) &&
          corpusSigs.forall(c => java.lang.Long.bitCount(sigOf(id) ^ c) >= 4)
      }
    assert(fresh.size >= nPairs, s"fixture: only ${fresh.size} twin candidates")
    // one bag per dominant token, so the pairs are distinct bags
    val picked = fresh.groupBy(_._1.takeWhile(_ != ' ')).values.map(_.head)
      .toSeq.sortBy(_._1).take(nPairs)
    assert(picked.size == nPairs, "fixture: too few distinct twin bags")
    val pairs = picked.zipWithIndex.map { case ((t, _, _), i) =>
      val reordered = t.split(" ").reverse.mkString(" ")
      ((9100L + 2 * i, t), (9101L + 2 * i, reordered))
    }
    (h, pairs)
  }

  private def labelMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("in-batch semantic twins: both admitted, labels after absorb ≡ full recompute over store ∪ batch") {
    val thr = 0.9
    val (h, pairs) = twinFixture(thr, 2)
    val corpus = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val docs = pairs.flatMap(p => Seq(p._1, p._2))
    val batch = (docs :+ (9199L -> "zq9x wq7k vv3m")).toDF("doc_id", "text")
    IngestPipeline.absorb(h, batch, batchId = Some(0L))
    val admitted = spark.read.parquet(s"${h.outPath}/admitted").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(admitted == docs.map(_._1).toSet + 9199L,
      s"the screen probes only the store, so every twin is admitted; got $admitted")
    val unionEmb = SemanticAdmit.embedOf(corpus.unionByName(batch), h.vocab)
      .filter(expr(SqNorm) > 0)
    val full = Components.connected(unionEmb.select(col("vec_id").as("id")),
      TierNineteen.pairsOverCents(unionEmb,
        spark.read.parquet(s"${h.storePath}/centroids"), thr)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val got = labelMap(h.labels)
    assert(got == labelMap(full) + (9199L -> 9199L),
      "labels after absorb must equal the full recompute over store ∪ batch")
    pairs.foreach { case ((a, _), (b, _)) =>
      assert(got(a) == got(b), s"twins $a, $b must share a cluster")
    }
    GraftSqlBridge.releaseLeaf(full)
    h.release()
  }

  test("two ledgered absorbs leave only the current labels leaf, sigStore and vocab pinned") {
    val (h, pairs) = twinFixture(0.9, 2)
    def pins: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet ++
      spark.sparkContext.getRDDStorageInfo.map(_.id)
    h.sigStore.count() // the handle's persisted sides are pinned before the baseline
    val labels0 = GraftSqlBridge.leafIds(h.labels)
    assert(labels0.subsetOf(pins), "fixture: the build's labels leaf must be pinned")
    val before = pins
    // each batch is one twin pair: both absorbs run the merging fold
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      IngestPipeline.absorb(h, Seq(a, b).toDF("doc_id", "text"), batchId = Some(i.toLong))
    }
    val current = GraftSqlBridge.leafIds(h.labels)
    assert(current.nonEmpty && (current & before).isEmpty)
    // unpersist drops the registration at once; blocks drain asynchronously
    val deadline = System.nanoTime() + 30_000_000_000L
    while ((pins -- before) != current && System.nanoTime() < deadline) Thread.sleep(50)
    assert(pins -- before == current,
      s"absorb left extra pins: ${(pins -- before) -- current}")
    assert((pins & labels0).isEmpty, "the previous labels leaf must be released")
    h.release()
    assert((pins & current).isEmpty, "release must drop the labels leaf")
  }
}
