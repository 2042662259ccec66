package graft

import graft.operators.{TextOps, TierFour, TierThirtySeven}
import org.apache.spark.sql.functions._

/** Tier-37 differentials: both reports re-derived in memory from the
  * collected q26 pair list (roll-up and union-find respectively);
  * conservation laws; plan gates.
  */
class TierThirtySevenSpec extends SparkSpec {

  private def pairsAndDocs = {
    val pairs = TierFour.minhashPairs(TextOps.tok(spark, sf))
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), x => x =!= "")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    (pairs, docs)
  }

  test("q158 leakage matrix ≡ in-memory roll-up; pairs conserved; matrix is unordered-keyed") {
    val (pairs, docs) = pairsAndDocs
    val src = docs.map(d => d._1 -> d._2).toMap
    val expected = pairs.map { case (a, b) =>
      val (sa, sb) = (src(a), src(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.groupBy(identity).map { case (k, xs) => (k._1, k._2, xs.size.toLong) }
      .toSeq.sortBy(x => (x._1, x._2))
    val got = TierThirtySeven.q158.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.map(_._3).sum == pairs.size, "every pair lands in exactly one cell")
    assert(got.forall(x => x._1 <= x._2), "cells are unordered source pairs")
    assert(got.exists(x => x._1 != x._2), "fixture must show cross-source leakage")
  }

  test("q159 savings ≡ in-memory union-find; after ≤ before; totals conserve") {
    val (pairs, docs) = pairsAndDocs
    val parent = scala.collection.mutable.Map(docs.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val lbl = docs.map(d => d._1 -> find(d._1)).toMap
    // cluster label = min member id ⇔ kept doc is its own label
    val expected = docs.groupBy(_._2).toSeq.sortBy(_._1).map { case (s, xs) =>
      (s, xs.size.toLong, xs.count(d => lbl(d._1) == d._1).toLong,
        xs.map(_._3).sum, xs.filter(d => lbl(d._1) == d._1).map(_._3).sum)
    }
    val got = TierThirtySeven.q159.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    assert(got.forall(x => x._3 <= x._2 && x._5 <= x._4), "dedup never adds")
    assert(got.map(_._2).sum == docs.size, "every doc counted once")
    assert(got.exists(x => x._3 < x._2), "fixture must actually save something")
  }

  test("tier-37 plan gates: no CartesianProduct") {
    for (q <- TierThirtySeven.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
