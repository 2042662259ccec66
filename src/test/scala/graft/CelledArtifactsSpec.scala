package graft

import graft.operators.TierNineteen

/** The build-once celled-quantizer handle ([[TierNineteen.celledArtifacts]],
  * VERDICT r11 #2): every face must equal its self-training twin BIT FOR
  * BIT (same deterministic seeds ⇒ same cells ⇒ same candidates), and the
  * handle's release must drop everything the shared build pinned (the
  * DedupArtifactsSpec id-diff convention).
  */
class CelledArtifactsSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("pairs(thr)/nn() ≡ self-training twins bit for bit; release drops the pins") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val a = TierNineteen.celledArtifacts(docs)
    // one build serves every consumer threshold AND the kNN face
    val shared90 = rows(a.pairs(0.9))
    val shared95 = rows(a.pairs(0.95))
    val sharedNn = rows(a.nn())
    val artifactIds =
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(artifactIds.nonEmpty, "the shared build must pin its working set")
    val solo90 = rows(TierNineteen.celledEmbedPairsOf(docs, 0.9))
    val solo95 = rows(TierNineteen.celledEmbedPairsOf(docs, 0.95))
    val soloNn = rows(TierNineteen.celledNnOf(docs))
    assert(shared90 == solo90 && shared90.nonEmpty,
      "pairs(0.9) must equal the self-training celled detector")
    assert(shared95 == solo95 && shared95.nonEmpty,
      "pairs(0.95) must equal the self-training celled detector")
    assert(sharedNn == soloNn && sharedNn.nonEmpty,
      "nn() must equal the self-training celled kNN")
    assert(shared95.size < shared90.size,
      "fixture thresholds must discriminate (0.95 strictly tighter)")
    a.release()
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet & artifactIds
    assert(left.isEmpty,
      s"celledArtifacts.release must drop everything the shared build pinned: $left")
    // tidy the solo runs' conventional caches (Verify/Bench sweep these
    // in harness use; the frames are finished, unpersist is safe)
    (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
      .foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
  }
}
