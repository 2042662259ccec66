package graft

import graft.operators.{TierNineteen, TierTwentyOne, TierTwentySix}
import org.apache.spark.sql.functions._

/** Tier-26 differentials: q136 against in-memory multi-source BFS over
  * the celled pair edges (plus the BFS consistency laws and the
  * hop-monotonicity-vs-anchor law), q137
  * against an in-memory weighted iteration (plus divergence-from-uniform
  * and mass laws); plan gates.
  */
class TierTwentySixSpec extends SparkSpec {

  private val S = 1000000000000L

  test("q136 seed distance ≡ in-memory multi-source BFS; frontier laws") {
    // q136 DECLARES the celled production edge source since round 12 —
    // the in-memory BFS runs over the same celled pair set; a second test
    // pins hop monotonicity vs the all-pairs anchor.
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val pairs = TierNineteen.celledEmbedPairs(spark, sf, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val seeds = docs.filter(_._2 == "src0").map(_._1).toSet
    var dist = seeds.map(_ -> 0L).toMap
    for (h <- 1 to 4) {
      val frontier = dist.filter(_._2 == h - 1).keys
      val grow = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        .filterNot(dist.contains).map(_ -> h.toLong)
      dist = dist ++ grow
    }
    val expected = docs.map(_._1).sorted.map(id => (id, dist.getOrElse(id, -1L)))
    val got = TierTwentySix.q136.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    val byId = got.toMap
    seeds.foreach(sd => assert(byId(sd) == 0L, s"seed $sd must be distance 0"))
    // every reached non-seed has a neighbor exactly one hop closer
    got.filter(x => x._2 > 0).foreach { case (id, d) =>
      assert(adj(id).exists(nb => byId(nb) == d - 1), s"no parent for $id at $d")
    }
    assert(got.exists(_._2 > 0), "fixture must reach beyond the seeds")
    assert(got.exists(_._2 == -1L), "fixture must leave an untouched periphery")
  }

  test("q136 (celled, declared) hop counts ≥ all-pairs anchor hops; reach floored") {
    // celled edges ⊆ anchor edges ⇒ every celled hop count is ≥ the
    // anchor's for the same doc (a dropped edge can only lengthen or cut
    // a path), and the celled reached set is ⊆ the anchor's, floored.
    val docsDf = Tables.load(spark, sf, "documents")
    val pairs = TierNineteen.embedPairsOf(docsDf.select("doc_id", "text"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val seeds = docsDf.filter(col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    var dist = seeds.map(_ -> 0L).toMap
    for (h <- 1 to 4) {
      val frontier = dist.filter(_._2 == h - 1).keys
      val grow = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        .filterNot(dist.contains).map(_ -> h.toLong)
      dist = dist ++ grow
    }
    val got = TierTwentySix.q136.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    got.foreach { case (id, d) =>
      val anchorD = dist.getOrElse(id, -1L)
      if (d >= 0)
        assert(anchorD >= 0 && anchorD <= d,
          s"doc $id: celled hops $d beat the anchor's $anchorD")
    }
    val reachedA = dist.keySet
    val reachedC = got.filter(_._2 >= 0).keySet
    assert(reachedC.subsetOf(reachedA))
    val nsA = (reachedA -- seeds).size
    val nsC = (reachedC -- seeds).size
    assert(nsA == 0 || nsC * 10 >= nsA * 4,
      s"celled non-seed reach $nsC vs anchor $nsA under the 0.4 floor")
  }

  test("q137 weighted pagerank ≡ in-memory weighted iteration; diverges from uniform q125 split") {
    val o = Tables.load(spark, sf, "orders").select("o_orderkey", "o_custkey")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mult = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
      .collect().map(r => (o(r.getLong(0)) * 2, r.getLong(1) * 2 + 1))
      .groupBy(identity).map { case (e, xs) => e -> xs.length.toLong }
    val nodes = (mult.keys.map(_._1) ++ mult.keys.map(_._2)).toSeq.distinct.sorted
    val n = nodes.length.toLong
    val ww = mult.groupBy(_._1._1).map { case (s, es) => s -> es.values.sum }
    var r = nodes.map(_ -> S / n).toMap
    for (_ <- 1 to 3) {
      val contrib = mult.toSeq.groupBy(_._1._2).map { case (dst, es) =>
        dst -> es.map { case ((src, _), w) => r(src) * w / ww(src) }.sum
      }
      val dang = nodes.filterNot(ww.contains).map(r).sum
      r = nodes.map { nid =>
        nid -> (15L * S / (100L * n) +
          85L * (contrib.getOrElse(nid, 0L) + dang / n) / 100L)
      }.toMap
    }
    val expected = nodes.map(nid => (nid, r(nid))).toSeq
    val got = TierTwentySix.q137.run(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(got == expected)
    assert(got.map(_._2).sum <= S && got.forall(_._2 > 0))
    // the weights must MATTER: at least one supplier ranks differently than
    // under q125's uniform split
    val uniform = TierTwentyOne.q125.run(spark, sf).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got.exists { case (nid, v) => uniform(nid) != v },
      "weighted ranks identical to uniform — weights had no effect")
  }

  test("tier-26 plan gates: no CartesianProduct") {
    for (q <- TierTwentySix.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
    // built-but-never-executed engine frames leave armed auto-release
    // listeners + pinned checkpoint leaves — drain them (round-9 ADVICE)
    operators.Release.sweep(spark)
  }
}
