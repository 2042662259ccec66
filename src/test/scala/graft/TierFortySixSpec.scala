package graft

import graft.operators.{TextOps, TierEleven, TierFour, TierFortySix}
import org.apache.spark.sql.functions._

/** Tier-46 differentials: both re-derived from union-find + collected
  * scores/tokens; budget tightness, partition and singleton-agreement
  * laws; plan gates.
  */
class TierFortySixSpec extends SparkSpec {

  private def world = {
    val pairs = TierFour.minhashPairs(TextOps.tok(spark, sf))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val scores = TierEleven.classifierScores(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), x => x =!= "")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val parent = scala.collection.mutable.Map(docs.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val lbl = docs.map(d => d._1 -> find(d._1)).toMap
    (docs, scores, lbl)
  }

  test("q176 selection ≡ in-memory greedy; kept are reps; the budget is tight") {
    val (docs, scores, lbl) = world
    val reps = docs.map(_._1).groupBy(lbl).values
      .map(ms => ms.map(id => (scores(id), -id, id)).max._3).toSet
    val tok = docs.map(d => d._1 -> d._3).toMap
    val ordered = reps.toSeq.sortBy(id => (-scores(id), id))
    var cum = 0L
    val expected = ordered.flatMap { id =>
      cum += tok(id)
      if (cum <= 500L) Some((id, scores(id), tok(id), cum)) else None
    }.sortBy(x => (x._4, x._1))
    val got = TierFortySix.q176.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.size < reps.size, "the budget must actually cut")
    assert(got.map(_._1).toSet.subsetOf(reps), "only cluster representatives are selectable")
    // tightness: the FIRST excluded candidate (the greedy order is a
    // prefix) would have blown the budget
    val firstOut = ordered.drop(got.size).headOption
    firstOut.foreach(id => assert(got.last._4 + tok(id) > 500L, "the cut is tight"))
  }

  test("q177 policy diff ≡ in-memory; partition identity; singletons always agree") {
    val (docs, scores, lbl) = world
    val bySrc = docs.map(d => d._1 -> d._2).toMap
    val clusters = docs.map(_._1).groupBy(lbl)
    val rows = clusters.map { case (_, ms) =>
      val rep = ms.map(id => (scores(id), -id, id)).max._3
      (bySrc(rep), rep, ms.min)
    }.toSeq
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, xs) =>
      (src, xs.size.toLong, xs.count(x => x._2 == x._3).toLong,
        xs.count(x => x._2 != x._3).toLong)
    }
    val got = TierFortySix.q177.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.forall(x => x._2 == x._3 + x._4), "agree + differ = clusters")
    assert(got.map(_._2).sum == clusters.size)
    assert(got.map(_._4).sum > 0, "the fixture must contain a rule disagreement")
    // singleton clusters agree by construction
    for ((_, ms) <- clusters if ms.size == 1) {
      val rep = ms.map(id => (scores(id), -id, id)).max._3
      assert(rep == ms.min)
    }
  }

  test("tier-46 plan gates: no CartesianProduct") {
    for (q <- TierFortySix.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
