package graft

import graft.operators.{Graph, Release, TierNineteen, TierTwentyNine}
import org.apache.spark.sql.functions._

/** Tier-29 differentials: q142 against an in-memory HITS iteration (plus
  * the bipartite hub/authority separation and L1-envelope laws), q143
  * against an in-memory degree-peel (plus core-degree and fixpoint laws);
  * plan gates.
  */
class TierTwentyNineSpec extends SparkSpec {

  private val SH = 1000000000L

  test("q142 HITS ≡ in-memory alternating iteration; bipartite sides separate; L1 envelopes") {
    val o = Tables.load(spark, sf, "orders").select("o_orderkey", "o_custkey")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
      .collect().map(r => (o(r.getLong(0)) * 2, r.getLong(1) * 2 + 1)).distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    var h = nodes.map(_ -> SH / n).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 2) {
      val ar = edges.groupBy(_._2).map { case (d, es) => d -> es.map(e => h(e._1)).sum }
      val at = math.max(ar.values.sum, 1L)
      a = ar.map { case (k, v) => k -> v * SH / at }
      val hr = edges.groupBy(_._1).map { case (s, es) => s -> es.map(e => a(e._2)).sum }
      val ht = math.max(hr.values.sum, 1L)
      h = hr.map { case (k, v) => k -> v * SH / ht }
    }
    val expected = nodes.map(nid => (nid, h.getOrElse(nid, 0L), a.getOrElse(nid, 0L))).toSeq
    val got = TierTwentyNine.q142.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // bipartite separation: customers (even ids) are pure hubs, suppliers
    // (odd ids) pure authorities — the direction-sensitivity HITS adds
    // over the undirected-ish PageRank family
    got.foreach { case (nid, hub, auth) =>
      if (nid % 2 == 0) assert(auth == 0L, s"customer $nid must carry no authority")
      else assert(hub == 0L, s"supplier $nid must carry no hub mass")
    }
    assert(got.exists(_._2 > 0) && got.exists(_._3 > 0), "both sides must score")
    // L1 envelopes: each normalized side sums to ≤ SH (floor losses only)
    assert(got.map(_._2).sum <= SH && got.map(_._3).sum <= SH)
    assert(got.forall(x => x._2 >= 0 && x._3 >= 0))
  }

  test("q143 2-core ≡ in-memory degree peel; core-degree law; fixpoint well inside the cap") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val pairs = TierNineteen.celledEmbedPairsOf(docs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val adj = pairs.flatMap { case (x, y) => Seq(x -> y, y -> x) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    var alive = adj.keySet
    var changed = true
    var rounds = 0
    while (changed && rounds < 10) {
      val next = alive.filter(nd => (adj(nd) & alive).size >= 2)
      changed = next != alive
      alive = next
      rounds += 1
    }
    val expected = alive.toSeq.sorted
    val got = TierTwentyNine.q143.run(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(got == expected)
    assert(got.nonEmpty, "fixture must have a 2-core")
    // every core member keeps ≥ 2 neighbors INSIDE the core (the defining
    // property), and the peel is non-vacuous on this corpus
    val core = got.toSet
    got.foreach(nd => assert((adj(nd) & core).size >= 2, s"$nd under-connected in core"))
    assert(got.size < adj.keySet.size,
      "fixture must peel something — otherwise the loop is untested")
    // the engine reaches the fixpoint well inside the shared round cap
    // (the oracle's fixed unroll is only bit-identical because of the cap;
    // this proves the cap is slack, not load-bearing, on real data)
    val ed = spark.createDataFrame(pairs.flatMap { case (x, y) => Seq((x, y), (y, x)) })
      .toDF("src", "dst")
    val c = Graph.kcore(ed, k = 2, maxRounds = 10)
    assert(c.rounds < 10, s"peel must converge inside the cap, ran ${c.rounds}")
    assert(c.out.collect().map(_.getLong(0)).toSeq.sorted == expected)
    c.release()
  }

  test("q143 pair source: celled ⊆ anchor with floored recall; celled core ⊆ anchor core") {
    // q143 now DECLARES the celled pair source (r10 VERDICT re-sourcing);
    // celled edges ⊆ anchor edges by the same-verifier construction, and
    // the k-core is the unique MAXIMAL min-degree-≥k set — so the celled
    // core can only shrink vs the anchor's. Recall is measured and
    // floored the TierNineteenSpec way.
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val anchor = TierNineteen.embedPairsOf(docs, 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val celled = TierNineteen.celledEmbedPairsOf(docs, 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(celled.subsetOf(anchor), "celled pairs are cosine-verified: ⊆ anchor")
    val recall = (celled & anchor).size.toDouble / anchor.size
    info(s"celled pair recall at thr 0.9: $recall")
    assert(recall >= 0.50, s"celled pair recall $recall below measured floor")
    // anchor 2-core (in-memory peel) must contain the declared celled core
    val adj = anchor.toSeq.flatMap { case (x, y) => Seq(x -> y, y -> x) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    var alive = adj.keySet
    var changed = true
    while (changed) {
      val next = alive.filter(nd => (adj(nd) & alive).size >= 2)
      changed = next != alive
      alive = next
    }
    val celledCore = TierTwentyNine.q143.run(spark, sf).collect().map(_.getLong(0)).toSet
    assert(celledCore.subsetOf(alive),
      s"celled 2-core must be contained in the anchor's; extras: ${celledCore -- alive}")
    assert(celledCore.nonEmpty, "celled core must not collapse on the fixture")
  }

  test("tier-29 plan gates: no CartesianProduct") {
    for (q <- TierTwentyNine.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
    // built-but-never-executed engine frames leave armed auto-release
    // listeners + pinned checkpoint leaves — drain them (round-9 ADVICE)
    Release.sweep(spark)
  }
}
