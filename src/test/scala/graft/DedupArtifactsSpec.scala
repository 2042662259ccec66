package graft

import graft.operators.{Dedup, TierFortySix, TierForty, TierThirtySeven}

/** The build-once dedup-composition handle ([[Dedup.artifacts]], VERDICT
  * r10 #4): every report face must equal its declared self-contained
  * query BIT FOR BIT, and the handle's release must drop everything the
  * shared build pinned (the DedupSpec id-diff convention).
  */
class DedupArtifactsSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("every artifacts-fed report ≡ its declared query bit for bit; release drops the pins") {
    val docs = Tables.load(spark, sf, "documents")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val a = Dedup.artifacts(docs)
    val faces: Seq[(String, org.apache.spark.sql.DataFrame, Q)] = Seq(
      ("leakage_matrix", Dedup.leakageMatrix(docs, a), TierThirtySeven.q158),
      ("savings", Dedup.savings(docs, a), TierThirtySeven.q159),
      ("best_of_cluster", Dedup.bestOfCluster(a), TierForty.q165),
      ("selection", Dedup.budgetSelection(docs, a, TierFortySix.Budget),
        TierFortySix.q176),
      ("policy_diff", Dedup.policyDiff(docs, a), TierFortySix.q177))
    // one build serves all five faces — materialize them first, then diff
    // the SPECIFIC ids the shared build pinned (the DedupSpec gauge; the
    // declared runs below add their own conventional per-query caches,
    // swept by Verify/Bench in harness use, tidied at the end here)
    val sharedRows = faces.map { case (name, df, _) => name -> rows(df) }.toMap
    val artifactIds =
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(artifactIds.nonEmpty, "the shared build must pin its working set")
    for ((name, _, q) <- faces) {
      val declared = rows(q.run(spark, sf))
      assert(sharedRows(name) == declared,
        s"$name: shared-build result must equal ${q.name}")
      assert(declared.nonEmpty, s"$name must be non-degenerate on the fixture")
    }
    a.release()
    operators.Release.sweep(spark) // q177's declared run is single-shot
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet & artifactIds
    assert(left.isEmpty,
      s"artifacts.release must drop everything the shared build pinned: $left")
    // tidy the declared runs' conventional caches (this spec has no
    // per-query sweep; the frames are finished, unpersist is safe)
    (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
      .foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
  }
}
