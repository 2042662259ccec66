package graft

import graft.operators.{TierNineteen, TierTwentyThree}
import org.apache.spark.sql.functions._

/** Tier-23 differentials: q130 against brute-force triangle enumeration
  * over the celled pair engine's edges (plus LCC bounds, the 3·|T| corner
  * identity, and the celled ⊆ anchor recall floor), q131 against an
  * in-memory lift computation;
  * plan gates (no CartesianProduct; q131 top-k is TakeOrdered).
  */
class TierTwentyThreeSpec extends SparkSpec {

  test("q130 dup-graph stats ≡ brute-force triangles over the celled edges; LCC laws") {
    // q130 DECLARES the celled production edge source since round 12 —
    // the brute triangle enumeration runs over the same celled pair set;
    // a second test pins the celled ⊆ anchor edge containment + recall.
    val pairs = TierNineteen.celledEmbedPairs(spark, sf, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val edgeSet = pairs.toSet
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val triangles = for {
      (a, b) <- pairs
      c <- adj(b) if b < c && edgeSet((a, c))
    } yield (a, b, c)
    val triPerNode = triangles.flatMap { case (a, b, c) => Seq(a, b, c) }
      .groupBy(identity).map { case (n, xs) => n -> xs.length.toLong }
    val expected = adj.keys.toSeq.sorted.map { n =>
      val deg = adj(n).size.toLong
      val tri = triPerNode.getOrElse(n, 0L)
      val lcc = if (deg >= 2) 2 * tri * 1000000L / (deg * (deg - 1)) else 0L
      (n, deg, tri, lcc)
    }
    val got = TierTwentyThree.q130.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // laws: LCC inside [0, 10^6]; corner identity Σ n_tri = 3·|T|;
    // fixture non-degeneracy (the near-dup graph has at least one triangle)
    assert(got.forall(x => x._4 >= 0 && x._4 <= 1000000L))
    assert(got.map(_._3).sum == 3L * triangles.size)
    assert(triangles.nonEmpty, "fixture graph must close at least one triangle")
  }

  test("q130 pair source: celled ⊆ anchor edges with floored recall") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val anchor = TierNineteen.embedPairsOf(docs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val celled = TierNineteen.celledEmbedPairsOf(docs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(celled.subsetOf(anchor), "celled pairs are cosine-verified: ⊆ anchor")
    val recall = (celled & anchor).size.toDouble / anchor.size
    info(s"celled pair recall at thr 0.9: $recall")
    assert(recall >= 0.50, s"celled pair recall $recall below measured floor")
  }

  test("q131 collocations ≡ in-memory document-level lift, top-20 pinned") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val dt = docs.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).distinct.map(tok => (id, tok))
    }.distinct
    val n = dt.map(_._1).distinct.size.toLong
    val cf = dt.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
    val byDoc = dt.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).sorted }
    val pc = byDoc.values.flatMap { toks =>
      for (i <- toks.indices; j <- i + 1 until toks.size) yield (toks(i), toks(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      .filter(_._2 >= 5)
    val expected = pc.toSeq.map { case ((ta, tb), cab) =>
      (ta, tb, cab, cab * n * 1000000L / (cf(ta) * cf(tb)))
    }.sortBy { case (ta, tb, _, lift) => (-lift, ta, tb) }.take(20)
    val got = TierTwentyThree.q131.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.size == 20, "fixture must fill the top-20")
  }

  test("tier-23 plan gates: no CartesianProduct; q131 top-k is TakeOrdered") {
    for (q <- TierTwentyThree.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
    val p131 = TierTwentyThree.q131.run(spark, sf).queryExecution.executedPlan.toString
    assert(p131.contains("TakeOrderedAndProject"), s"q131: ${p131.take(800)}")
  }
}
