package graft

import graft.operators.{Dedup, SharedFaces, TierNineteen}

/** The shared-artifacts bench sweep ([[Bench]], VERDICT r12 #1) is only
  * honest if every face it times computes EXACTLY what the declared
  * query computes. CelledArtifactsSpec/DedupArtifactsSpec pin the
  * handles' members ≡ their self-training twins; this suite pins the
  * REGISTRY — each `(name, face)` pair in [[SharedFaces]] against
  * `SparkEntry.queries(name)` — so a mis-wired entry (wrong face, wrong
  * threshold, wrong query name) cannot ship a benchmark that times one
  * plan and reports it under another query's name.
  *
  * Comparison is content-exact on the full row set, sorted: the faces
  * and queries share every ORDER BY, but rows tied on the sort key may
  * legitimately interleave differently between two physically different
  * (yet semantically identical) pair-source plans.
  */
class BenchFacesSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def tidy(before: Set[Int]): Unit = {
    // the declared runs' conventional caches are swept by Verify/Bench in
    // harness use; the frames are finished here, unpersist is safe
    (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
      .foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
  }

  test("every celled bench face ≡ its declared query (content-exact)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val art = TierNineteen.celledArtifacts(docs)
    art.warm()
    val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
    for ((name, face) <- SharedFaces.celled) {
      val got = rows(face(spark, sf, art))
      val expected = rows(SparkEntry.queries(name)(spark, sf))
      assert(got == expected, s"$name: bench face must equal the declared query")
      assert(got.nonEmpty, s"$name must be non-degenerate on the fixture")
      // faces are single-shot reports; drop their residue, keep the handle
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, r) => if (!keep(id) && !before(id)) r.unpersist(blocking = false) }
    }
    art.release()
    operators.Release.sweep(spark)
    tidy(before)
  }

  test("every dedup bench face ≡ its declared query (content-exact)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val art = Dedup.artifacts(Tables.load(spark, sf, "documents"))
    for ((name, face) <- SharedFaces.dedup) {
      val got = rows(face(spark, sf, art))
      val expected = rows(SparkEntry.queries(name)(spark, sf))
      assert(got == expected, s"$name: bench face must equal the declared query")
      assert(got.nonEmpty, s"$name must be non-degenerate on the fixture")
    }
    art.release()
    operators.Release.sweep(spark)
    tidy(before)
  }

  test("every bigram bench face ≡ its declared query (content-exact)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val art = operators.TierHundredTwo.bigramArtifacts(
      Tables.load(spark, sf, "documents"))
    art.warm()
    val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
    for ((name, face) <- SharedFaces.bigram) {
      val got = rows(face(spark, sf, art))
      val expected = rows(SparkEntry.queries(name)(spark, sf))
      assert(got == expected, s"$name: bench face must equal the declared query")
      assert(got.nonEmpty, s"$name must be non-degenerate on the fixture")
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, r) => if (!keep(id) && !before(id)) r.unpersist(blocking = false) }
    }
    art.release()
    operators.Release.sweep(spark)
    tidy(before)
  }
}
