package graft

import graft.operators.{TierFortyThree, TierNineteen}
import org.apache.spark.sql.functions._

/** Tier-43 differentials: q170 against brute-force first-occurrence
  * sets, q171 against a direct bucket fold of the collected pairs;
  * decay/conservation laws; plan gates.
  */
class TierFortyThreeSpec extends SparkSpec {

  test("q170 novelty ≡ brute force; first doc fully novel; the corpus-wide curve decays") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    val sets = docs.map { case (id, t) =>
      val l = t.split(" ").filter(_.nonEmpty)
      id -> (if (l.length >= 8) l.sliding(8).map(_.mkString(" ")).toSet
             else Set.empty[String])
    }.filter(_._2.nonEmpty)
    val seen = scala.collection.mutable.Set.empty[String]
    val expected = sets.map { case (id, ks) =>
      val novel = ks.count(!seen(_))
      seen ++= ks
      (id, ks.size.toLong, novel.toLong, novel.toLong * 1000000 / ks.size)
    }
    // id-diff release gate (DedupSpec convention): q170 now threads its
    // shingle cache through Pins + single-shot auto-release — the first
    // materialization must drop everything the query pinned
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val got = TierFortyThree.q170.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // the auto-release fires on the ASYNC listener bus — poll briefly
    // before judging (the assertion is about WHETHER it fires, not about
    // beating the bus thread to the race)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def leftover = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    while (leftover.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leftover.isEmpty,
      s"q170 must auto-release its pinned shingle cache after first execution: $leftover")
    assert(got == expected)
    assert(got.head._4 == 1000000L, "the first document is novel by definition")
    // the decay law: the second half of the corpus is on average less
    // novel than the first half (re-hashing accumulates)
    val (h1, h2) = got.splitAt(got.size / 2)
    assert(h2.map(_._4).sum / h2.size < h1.map(_._4).sum / h1.size,
      "average novelty must decay as the corpus grows")
    assert(got.exists(_._4 < 1000000L), "some document must repeat earlier content")
  }

  test("q171 histogram ≡ direct bucket fold; pairs conserved; the 0.9 threshold mass is visible") {
    val cp = TierNineteen.celledEmbedPairsOf(
        Tables.load(spark, sf, "documents").select("doc_id", "text"), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val pairs = cp.map(_._3)
    // q171 declares the celled pair source (r10 VERDICT re-sourcing):
    // containment + recall vs the anchor stay floored
    val anchor = TierNineteen.embedPairsOf(
        Tables.load(spark, sf, "documents").select("doc_id", "text"), 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cp.map(p => (p._1, p._2)).toSet.subsetOf(anchor),
      "celled pairs are cosine-verified: ⊆ anchor")
    val recall = cp.size.toDouble / anchor.size
    info(s"celled pair recall at thr 0.8: $recall")
    // measured 0.49 at sf0.001: the 0.80–0.90 band pairs are farther
    // apart than the near-dup regime, so they straddle cells more often —
    // the histogram reports the celled detector's own view by design
    assert(recall >= 0.40, s"celled pair recall $recall below measured floor")
    val expected = pairs.groupBy(c => math.floor(c * 20).toLong).toSeq.sortBy(_._1)
      .map { case (b, xs) => (b, b * 50000, xs.size.toLong) }
    val got = TierFortyThree.q171.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.map(_._3).sum == pairs.size, "every pair lands in exactly one band")
    val (below, above) = (got.filter(_._1 < 18).map(_._3).sum, got.filter(_._1 >= 18).map(_._3).sum)
    assert(below > 0 && above > 0,
      "mass must exist on both sides of the q121 threshold for the report to inform it")
  }

  test("tier-43 plan gates: no CartesianProduct beyond the documented pair anchor") {
    for (q <- TierFortyThree.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
