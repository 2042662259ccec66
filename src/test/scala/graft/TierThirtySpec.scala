package graft

import graft.operators.{Graph, Release, TierNineteen, TierThirty}
import org.apache.spark.sql.functions._

/** Tier-30 differentials: q144 against in-memory Dijkstra over the
  * ppm-cost near-dup edges (plus the q136 reachability cross-law), q145
  * against a brute-force mutual-NN scan (plus pairing laws); plan gates.
  */
class TierThirtySpec extends SparkSpec {

  private def docsAndPairs = {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val pairs = TierNineteen.celledEmbedPairsOf(
        Tables.load(spark, sf, "documents").select("doc_id", "text"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    (docs, pairs)
  }

  test("q144 drift distance ≡ in-memory Dijkstra; seeds at 0; celled reach ⊆ anchor reach") {
    val (docs, pairs) = docsAndPairs
    val cost = pairs.flatMap { case (a, b, c) =>
      val w = 1000000L - math.floor(c * 1000000.0).toLong
      Seq((a, b, w), (b, a, w))
    }
    val adj = cost.groupBy(_._1).map { case (n, es) => n -> es.map(e => (e._2, e._3)) }
    val seeds = docs.filter(_._3 == "src0").map(_._1).toSet
    // plain Dijkstra — nonneg costs, so it computes the same fixpoint the
    // engine's Bellman-Ford relaxation converges to
    val dist = scala.collection.mutable.Map(seeds.toSeq.map(_ -> 0L): _*)
    val pq = scala.collection.mutable.PriorityQueue(
      seeds.toSeq.map(s => (-0L, s)): _*)(Ordering.by(_._1))
    while (pq.nonEmpty) {
      val (nd, n) = pq.dequeue()
      if (-nd == dist(n))
        adj.getOrElse(n, Seq.empty).foreach { case (m, w) =>
          if (dist.get(m).forall(_ > dist(n) + w)) {
            dist(m) = dist(n) + w
            pq.enqueue((-dist(m), m))
          }
        }
    }
    val expected = docs.map(_._1).sorted.map(id => (id, dist.getOrElse(id, -1L)))
    val got = TierThirty.q144.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    seeds.foreach(s => assert(got.find(_._1 == s).exists(_._2 == 0L), s"seed $s at 0"))
    assert(got.exists(_._2 > 0) && got.exists(_._2 == -1L),
      "fixture must reach beyond the seeds and leave a periphery")
    // q144 now walks the CELLED graph (r10 VERDICT re-sourcing); celled
    // edges ⊆ anchor edges, so its reached set must be contained in the
    // anchor graph's unbounded reach, and pair recall stays floored
    val anchor = TierNineteen.embedPairsOf(
        Tables.load(spark, sf, "documents").select("doc_id", "text"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.map(p => (p._1, p._2)).toSet.subsetOf(anchor.toSet),
      "celled pairs are cosine-verified: ⊆ anchor")
    val recall = pairs.size.toDouble / anchor.size
    info(s"celled pair recall at thr 0.9: $recall")
    assert(recall >= 0.50, s"celled pair recall $recall below measured floor")
    val anchorAdj = anchor.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    val anchorReach = scala.collection.mutable.Set(seeds.toSeq: _*)
    var frontier = seeds
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(n => anchorAdj.getOrElse(n, Seq.empty))
        .filterNot(anchorReach)
      next.foreach(anchorReach += _)
      frontier = next
    }
    val reached144 = got.filter(_._2 >= 0).map(_._1).toSet
    assert(reached144.subsetOf(anchorReach),
      s"celled reach must be anchor-reached; extras: ${reached144 -- anchorReach}")
    // the engine reaches the fixpoint inside the shared round cap
    val ed = spark.createDataFrame(cost).toDF("src", "dst", "w")
    val sp = Graph.sssp(ed,
      spark.createDataFrame(seeds.toSeq.map(Tuple1(_))).toDF("nid"), maxRounds = 10)
    assert(sp.rounds < 10, s"relaxation must converge inside the cap, ran ${sp.rounds}")
    sp.release()
  }

  test("q145 mutual NN ≡ celled-NN self-pairing; each doc in ≤ 1 pair; recall vs brute floored") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    // q145 declares the celled kNN source (r10 VERDICT re-sourcing); the
    // mutual fold is pinned against the collected celled-NN frame
    val nn = TierNineteen.celledNnOf(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val expected = nn.toSeq
      .filter { case (d, (m, _)) => nn.get(m).exists(_._1 == d) && d < m }
      .map { case (d, (m, c)) => (d, m, c) }
      .sortBy(_._1)
    val got = TierThirty.q145.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty, "fixture must contain mutual pairs")
    val members = got.flatMap(p => Seq(p._1, p._2))
    assert(members.distinct.size == members.size, "a doc belongs to at most one mutual pair")
    // recall vs the all-pairs brute-force mutual set (the pre-r11 anchor
    // differential, kept as the measured reference): a celled mutual pair
    // whose endpoints both keep their TRUE top-1 inside the probed cells
    // is a brute pair too, so recall is the probe-coverage number
    val all = TierNineteen.embedPairsOf(docs, -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val sym = all.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
    val bruteNn = sym.groupBy(_._1).map { case (d, es) =>
      // rank on the 6-dp ROUNDED cosine, ties to the smaller id — the
      // engine's pinned order
      d -> es.maxBy(e => (BigDecimal(e._3).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble, -e._2))._2
    }
    val brute = bruteNn.toSeq
      .filter { case (d, m) => bruteNn.get(m).contains(d) && d < m }
      .map { case (d, m) => (d, m) }.toSet
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    val recall = (gotPairs & brute).size.toDouble / brute.size
    info(s"celled mutual-NN recall vs brute force: $recall")
    assert(recall >= 0.50, s"celled mutual-NN recall $recall below measured floor")
  }

  test("tier-30 plan gates: no CartesianProduct; q145 arg-max is agg, not Window") {
    for (q <- TierThirty.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
      if (q.name.contains("mutual"))
        assert(!plan.contains("Window"), s"${q.name} must arg-max via struct agg: ${plan.take(800)}")
    }
    Release.sweep(spark)
  }
}
