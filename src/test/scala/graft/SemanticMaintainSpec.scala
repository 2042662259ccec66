package graft

import graft.operators.{Components, IvfStore, SemanticDedup, TierNine, TierNineteen}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ingest-loop law for [[SemanticDedup]] — the embedding-family
  * maintain symmetry (VERDICT r13 #1, the DedupMaintainSpec shape):
  * chained maintain calls over (corpus build; batch₁; batch₂) must equal
  * the ONE-SHOT celled cluster labels over the whole corpus against the
  * same frozen quantizer. Also pinned here: the probe-level law
  * (probePairs ≡ the celled pair set touching the batch), input-labels
  * survival, zero-vector singleton entry, and replay idempotence of a
  * ledgered batch.
  */
class SemanticMaintainSpec extends SparkSpec {
  import spark.implicits._

  // q69 uses 0.45; at the spec's sf0.001 (500 vectors) that yields 7
  // exact pairs and ~1 touching a batch — too sparse to exercise merges,
  // so the law (which holds at any threshold) is pinned at 0.3, where
  // hundreds of pairs cross the corpus/batch split
  private val Thr = 0.3

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("semantic maintain ∘ maintain ≡ one-shot celled rebuild over the union") {
    val emb = TierNine.embOf(spark, sf)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val b1 = emb.filter(col("vec_id") % 10 === 0)
    val b2 = emb.filter(col("vec_id") % 10 === 5)
    val cents = IvfStore.train(corpus, k = 4) // frozen on the corpus snapshot
    val path = java.nio.file.Files.createTempDirectory("sem_maintain").toString
    val labels0 = SemanticDedup.build(spark, corpus, path, cents, Thr)
    val frozen = spark.read.parquet(s"$path/centroids")

    // probe-level law: the incremental probe finds EXACTLY the celled
    // pairs touching the batch — one-shot(corpus ∪ b1) minus
    // one-shot(corpus), under the same frozen quantizer
    val pCorpus = pairSet(TierNineteen.pairsOverCents(corpus, frozen, Thr))
    val pWithB1 = pairSet(
      TierNineteen.pairsOverCents(corpus.unionByName(b1), frozen, Thr))
    val got1 = pairSet(IvfStore.probePairs(spark, path, b1, Thr))
    assert(got1 == pWithB1 -- pCorpus,
      s"probePairs must equal the pair delta: got ${got1.size}, " +
        s"expected ${(pWithB1 -- pCorpus).size}")
    assert(got1.nonEmpty, "fixture must produce batch-touching pairs")

    val m1 = SemanticDedup.maintain(path, labels0, b1, Thr, batchId = Some(0L))
    val m1Rows = m1.count()

    // batch₂ carries a zero vector too: all-OOV arrivals have no cosine
    // signal and must enter as their own singleton cluster, unabsorbed
    val dim = corpus.head().getSeq[Double](1).size
    val zeroId = 999999L
    val zb = Seq((zeroId, Seq.fill(dim)(0.0))).toDF("vec_id", "e")
    val m2 = SemanticDedup.maintain(path, m1, b2.unionByName(zb), Thr,
      batchId = Some(1L))
    // maintain must NOT consume its input (it releases only the leaves
    // it created — the contract shared with Dedup.maintain)
    assert(m1.count() == m1Rows,
      "the previous round's labels must survive the next maintain")

    val got = m2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = corpus.unionByName(b1).unionByName(b2)
    val oneShotLabels = Components.connected(
        all.select(col("vec_id").as("id")),
        TierNineteen.pairsOverCents(all, frozen, Thr)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val oneShot = oneShotLabels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap + (zeroId -> zeroId)
    assert(got.keySet == oneShot.keySet, "every vector must carry a label")
    assert(got == oneShot,
      "chained maintain must equal the one-shot celled rebuild exactly")
    // the folds did real work: some batch vector joined a corpus cluster
    val batchIds = (b1.unionByName(b2)).collect().map(_.getLong(0)).toSet
    assert(batchIds.exists(id => got(id) != id),
      "fixture must attach at least one batch vector to an existing cluster")

    // replay: re-delivering the ledgered batch skips the store append and
    // the label fold is idempotent (pairs + self-labels already present)
    val m3 = SemanticDedup.maintain(path, m2, b2.unionByName(zb), Thr,
      batchId = Some(1L))
    val replayed = m3.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replayed == got, "a replayed ledgered batch must change nothing")
    // the zero vector was never absorbed into the store
    assert(spark.read.parquet(s"$path/vectors")
      .filter(col("vec_id") === zeroId).isEmpty,
      "zero vectors must not enter the store")

    Seq(labels0, m1, m2, m3, oneShotLabels)
      .foreach(org.apache.spark.sql.GraftSqlBridge.releaseLeaf)
    spark.catalog.clearCache()
  }

  test("probePairs plan: both store reads prune to the batch's probed cells") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val emb = TierNine.embOf(spark, sf)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val cents = IvfStore.train(corpus, k = 4)
    val path = java.nio.file.Files.createTempDirectory("sem_prune").toString
    IvfStore.build(spark, corpus, path, cents, mirrored = true)
    // a one-vector batch probes ≤ 2 cells — the store scans must carry a
    // `cell` partition filter and read strictly fewer files than the
    // store holds (the bounded-I/O claim behind "never re-read the
    // corpus"). AQE off for a deterministic physical tree (the
    // SigIndexSpec traversal convention).
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      val one = corpus.orderBy("vec_id").limit(1)
      val pairs = IvfStore.probePairs(spark, path, one, Thr)
      pairs.collect()
      pairs.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec if f.metadata("Location").contains("sem_prune") => f
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(scans.nonEmpty, "expected store file scans in the probe plan")
    val storeScans = scans.filter(s =>
      s.metadata("Location").contains("vectors") ||
        s.metadata("Location").contains("mirror"))
    assert(storeScans.nonEmpty && storeScans.forall(
        _.metadata("PartitionFilters").contains("cell")),
      storeScans.map(_.metadata("PartitionFilters")).mkString(" | "))
    val totalFiles = spark.read.parquet(s"$path/vectors").inputFiles.length +
      spark.read.parquet(s"$path/mirror").inputFiles.length
    val readFiles = storeScans.map(_.metrics("numFiles").value).sum
    assert(readFiles < totalFiles,
      s"probe must prune: read $readFiles of $totalFiles store files")
  }
}
