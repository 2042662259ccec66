package graft

import graft.operators.{TierNineteen, TierThirtyTwo}
import org.apache.spark.sql.functions._

/** Tier-32 differentials: q148 against an in-memory synchronous-LPA
  * replication plus the refines-connected-components law; q149 against
  * a float z-score cross-check of the integer inequality; plan gates.
  */
class TierThirtyTwoSpec extends SparkSpec {

  test("q148 LPA ≡ in-memory synchronous iteration; refines connected components") {
    val pairs = TierNineteen.celledEmbedPairsOf(
        Tables.load(spark, sf, "documents").select("doc_id", "text"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // q148 declares the celled pair source (r10 VERDICT re-sourcing):
    // containment + recall vs the anchor stay floored
    val anchor = TierNineteen.embedPairsOf(
        Tables.load(spark, sf, "documents").select("doc_id", "text"), 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.toSet.subsetOf(anchor), "celled pairs are cosine-verified: ⊆ anchor")
    val recall = pairs.size.toDouble / anchor.size
    info(s"celled pair recall at thr 0.9: $recall")
    assert(recall >= 0.50, s"celled pair recall $recall below measured floor")
    val adj = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    val nodes = adj.keySet
    // exact engine rules: mode of in-neighbor labels, ties to the
    // smaller label, keep own when isolated, stop on a no-op round
    var labels = nodes.map(n => n -> n).toMap
    var rounds = 0
    var changed = true
    while (changed && rounds < 5) {
      val next = nodes.map { n =>
        val nb = adj(n).map(labels)
        n -> (if (nb.isEmpty) labels(n)
              else nb.groupBy(identity).toSeq.map { case (l, xs) => (xs.size, l) }
                .maxBy { case (c, l) => (c, -l) }._2)
      }.toMap
      changed = next != labels
      labels = next
      rounds += 1
    }
    val expected = labels.toSeq.sortBy(_._1)
    val got = TierThirtyTwo.q148.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    // refinement law: a label can only reach nodes inside its own
    // connected component, so every LPA community ⊆ one component
    val parent = scala.collection.mutable.Map(nodes.toSeq.map(n => n -> n): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val comp = nodes.map(n => n -> find(n)).toMap
    val byLabel = got.groupBy(_._2).values
    assert(byLabel.forall(c => c.map(x => comp(x._1)).distinct.size == 1),
      "every LPA community must live inside one connected component")
    assert(byLabel.size >= nodes.map(comp).toSet.size,
      "LPA is a refinement: at least as many communities as components")
    assert(byLabel.exists(_.size > 1), "fixture must produce a non-singleton community")
  }

  test("q149 integer inequality ≡ float z-score beyond 2σ; flags are a strict subset") {
    val dc = Tables.load(spark, sf, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("day_idx"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val got = TierThirtyTwo.q149.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val flagged = got.map(x => (x._1, x._2)).toSet
    assert(got.nonEmpty && got.size < dc.size, "flags must be a strict, non-empty subset")
    for ((et, xs) <- dc.groupBy(_._1)) {
      val n = xs.size.toDouble
      val mu = xs.map(_._3).sum / n
      val sigma = math.sqrt(xs.map(x => (x._3 - mu) * (x._3 - mu)).sum / n)
      for ((_, d, c) <- xs) {
        val z = if (sigma == 0) if (c == mu) 0.0 else Double.PositiveInfinity
                else math.abs(c - mu) / sigma
        if (flagged((et, d))) assert(z > 2.0 - 1e-9, s"$et/$d flagged at z=$z")
        else assert(z <= 2.0 + 1e-9, s"$et/$d unflagged at z=$z")
      }
    }
    // ordering pinned
    assert(got == got.sortBy(x => (x._1, x._2)))
  }

  test("tier-32 plan gates: no CartesianProduct") {
    for (q <- TierThirtyTwo.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
    operators.Release.sweep(spark)
  }
}
