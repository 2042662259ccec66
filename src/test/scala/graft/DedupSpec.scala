package graft

import graft.operators.{Dedup, Pins, TierFour, TierThree}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._

/** The Dedup library facade against pure-Scala recomputation: exact stage
  * (min doc_id per distinct text), cluster stage (union-find keep-min over
  * the pairs the detector actually emits), and the full composition on a
  * corpus WITH exact duplicates (both stages live).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def unionFindKeep(ids: Seq[Long], pairs: Seq[(Long, Long)]): Set[Long] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.groupBy(find).values.map(_.min).toSet
  }

  test("exactSurvivors ≡ min doc_id per distinct text (q22 semantics), rows intact") {
    val docs = Tables.load(spark, sf, "documents")
    val expected = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).values.map(_.map(_._1).min).toSet
    val got = Dedup.exactSurvivors(docs)
    assert(got.select("doc_id").collect().map(_.getLong(0)).toSet == expected)
    assert(got.columns.toSeq == docs.columns.toSeq, "caller columns preserved")
  }

  test("deduplicate ≡ union-find keep-min over the emitted pairs (real corpus)") {
    val docs = Tables.load(spark, sf, "documents")
    val distinctDocs = Dedup.exactSurvivors(docs)
    val ids = distinctDocs.select("doc_id").collect().map(_.getLong(0)).toSeq
    val pairs = Dedup.nearDupPairs(distinctDocs).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty, "corpus must contain near-dups")
    val expected = unionFindKeep(ids, pairs)
    val got = Dedup.deduplicate(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("full pipeline on a corpus with exact duplicates: both stages drop") {
    // 3 copies of text X (ids 10,11,12), 2 of Y (20,21), unique Z (30) —
    // exact stage must keep {10,20,30}; the near-dup stage then clusters
    // whatever the detector finds among the THREE distinct texts
    val x = "alpha beta gamma delta epsilon zeta eta theta"
    val y = "alpha beta gamma delta epsilon zeta eta iota" // near-dup of x (J=7/9)
    val z = "one two three four five six seven eight"
    val docs = Seq((10L, x), (11L, x), (12L, x), (20L, y), (21L, y), (30L, z))
      .toDF("doc_id", "text")
    val exact = Dedup.exactSurvivors(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(exact == Set(10L, 20L, 30L))
    val pairs = Dedup.nearDupPairs(docs.filter(col("doc_id").isin(10L, 20L, 30L)))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = unionFindKeep(Seq(10L, 20L, 30L), pairs)
    val got = Dedup.deduplicate(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got.contains(10L) && got.contains(30L), "cluster minima survive")
  }

  // Both release tests diff the SPECIFIC RDD ids the pipeline pinned —
  // a global persistent-RDD count is flaky here because other tests'
  // auto-release listeners drain asynchronously in the shared session.
  private def pinnedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def awaitReleased(ids: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 30_000_000_000L
    while ((pinnedIds & ids).nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    pinnedIds & ids
  }

  test("deduplicate auto-releases its pinned state after first execution (VERDICT r7 #5)") {
    val docs = Tables.load(spark, sf, "documents")
    val before = pinnedIds
    val out = Dedup.deduplicate(docs)
    out.count() // first materialization → completion listener fires release
    val mine = pinnedIds -- before
    // listener bus + unpersist are both async — poll until this call's pins drain
    val left = awaitReleased(mine)
    assert(left.isEmpty,
      s"deduplicate must release everything it pinned after its first execution; still pinned: $left")
  }

  test("deduplicate(docs, pins): pins.release() drops the pinned cache (VERDICT r5 nit)") {
    val docs = Tables.load(spark, sf, "documents")
    val before = pinnedIds
    val pins = new Pins
    val out = Dedup.deduplicate(docs, pins)
    out.count() // materialize — the pipeline pins its survivor cache
    val mine = pinnedIds -- before
    assert(mine.nonEmpty, "pipeline should have pinned at least the survivor cache")
    pins.release()
    val left = awaitReleased(mine)
    assert(left.isEmpty,
      s"release handle must drop everything the pipeline pinned; still pinned: $left")
  }

  test("both release forms spare the caller's checkpointed documents leaf") {
    // a test-owned checkpoint leaf: the pipeline's plan embeds it, and a
    // release that walked that plan dropped its blocks (the caller's next
    // read then failed with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    val docs = Tables.load(spark, sf, "documents").localCheckpoint(true)
    val n = docs.count()
    val leaf = GraftSqlBridge.leafIds(docs)
    def intact(form: String): Unit = {
      assert(leaf.subsetOf(pinnedIds), s"$form dropped the caller's documents leaf")
      assert(docs.count() == n, s"$form: the caller's frame must still read")
    }
    val before = pinnedIds
    Dedup.deduplicate(docs).count() // the single-shot release fires here
    awaitReleased(pinnedIds -- before)
    intact("deduplicate(docs)")
    val pins = new Pins
    Dedup.deduplicate(docs, pins).count()
    pins.release()
    intact("deduplicate(docs, pins) + pins.release()")
    GraftSqlBridge.releaseLeaf(docs)
  }
}
