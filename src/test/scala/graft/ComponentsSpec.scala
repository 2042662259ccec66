package graft

import graft.operators.{Components, Pins}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

/** Connected components (hash-min label propagation) against a pure-Scala
  * union-find oracle — random graphs plus the adversarial shapes: long
  * chains (force multi-round propagation well past round 1), isolated
  * nodes, and duplicate/self edges. The delta fold's ΔE = ∅ short-circuit
  * is pinned by the jobs it does NOT start, and the pre-contraction cap
  * on both sides of a partition's node count.
  */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map((0L until n).map(i => i -> i): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = min id of the component
    (0L until n).map(i => i -> find(i)).toMap
  }

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `body`'s result plus the number of Spark jobs it started from inside
    * `Components.connectedWithStats`: jobs whose own call site passes
    * through it, and jobs of the SQL executions it started (adaptive
    * query stages run on pool threads, so only their execution id ties
    * them to the caller). Listener events arrive in order, so once a
    * marker job submitted after `body` is seen, every job `body` started
    * has been counted. */
  private def withConnectedJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val site = "connectedWithStats"
    val marker = s"components-spec-marker-${System.nanoTime()}"
    val executions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val hits = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.details.contains(site) =>
          executions.add(s.executionId.toString)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (e.stageInfos.exists(_.details.contains(site)) ||
          props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .exists(executions.contains))
          hits.incrementAndGet()
        if (props.exists(_.getProperty("spark.job.description") == marker))
          seen.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job never reached the listener")
      (out, hits.get)
    } finally sc.removeSparkListener(listener)
  }

  private def pinned: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def run(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connected(
        spark.range(n).select(col("id")),
        edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("long chain: min label propagates the full length (many rounds)") {
    // path 0-1-2-…-39 plus a second chain 50-…-59 and isolated 70..74
    val chain = (0L until 39L).map(i => (i, i + 1))
    val chain2 = (50L until 59L).map(i => (i, i + 1))
    val got = run(75, chain ++ chain2)
    assert((0L to 39L).forall(got(_) == 0L))
    assert((50L to 59L).forall(got(_) == 50L))
    assert((70L to 74L).forall(i => got(i) == i), "isolated nodes keep their own label")
    assert((40L until 50L).forall(i => got(i) == i))
  }

  test("random graphs match pure-Scala union-find") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val edgeGen = Gen.zip(Gen.chooseNum(0L, 59L), Gen.chooseNum(0L, 59L))
    for (seed <- 0 until 3) {
      val edges = (0 until 80).flatMap(i =>
        edgeGen.apply(Gen.Parameters.default, Seed(seed * 1000L + i)))
      val expected = unionFind(60, edges)
      assert(run(60, edges) == expected, s"seed $seed diverged")
    }
  }

  test("duplicate and self edges are harmless") {
    val got = run(5, Seq((0L, 1L), (1L, 0L), (0L, 1L), (2L, 2L), (3L, 4L)))
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L, 4L -> 3L))
  }

  test("10k-node path: star fallback converges in O(log n) rounds, not O(n)") {
    // the pathological-diameter shape that defeats pure contraction (one
    // diameter hop per round → 10k rounds); the stall detector must hand
    // it to the large/small-star phase, which finishes in ≈log n rounds.
    // localEdgeThreshold=0 forces the fully-distributed path — with the
    // default endgame threshold this graph would be solved locally.
    // preContract=false keeps the star law testable (r15): the map-side
    // pre-contraction collapses each partition's path segment outright,
    // leaving a #partitions-node chain that never needs the star phase.
    val n = 10000L
    val res = Components.connectedWithStats(
      spark.range(n).select(col("id")),
      spark.range(n - 1).select(col("id").as("src"), (col("id") + 1L).as("dst")),
      localEdgeThreshold = 0L, preContract = false)
    assert(res.starRounds > 0, "a path must route through the star phase")
    assert(res.contractionRounds <= 4,
      s"stall detection should fire within two slow rounds on a path, ran ${res.contractionRounds} contraction rounds")
    assert(res.contractionRounds + res.starRounds <= 30,
      s"expected ≈2·log2(10k)≈27 rounds worst case, got ${res.contractionRounds}+${res.starRounds}")
    val a = res.labels.agg(count(lit(1)), min(col("lbl")), max(col("lbl"))).head
    assert(a.getLong(0) == n && a.getLong(1) == 0L && a.getLong(2) == 0L,
      "every node of the path must carry label 0")
    org.apache.spark.sql.GraftSqlBridge.releaseLeaf(res.labels)
  }

  test("clique-ish dedup graph never diverts into the star phase") {
    // the q26/q58 shape: many small dense clusters — contraction collapses
    // them almost entirely in round one, and the tiny end-tail must go to
    // the local endgame, NOT the star phase (round 6's 2.26× q58
    // regression was exactly that diversion)
    val edges = (0L until 200L).flatMap { c =>
      val base = c * 5
      for (i <- 0L until 5L; j <- i + 1 until 5L) yield (base + i, base + j)
    }
    val expected = unionFind(1000, edges)
    val res = Components.connectedWithStats(
      spark.range(1000L).select(col("id")), edges.toDF("src", "dst"))
    val got = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(res.starRounds == 0,
      s"dedup-shaped graphs must never enter the star phase, ran ${res.starRounds} star rounds")
    assert(res.localSolved, "the sub-threshold tail must be solved locally")
    org.apache.spark.sql.GraftSqlBridge.releaseLeaf(res.labels)
  }

  test("distributed path (threshold 0) matches union-find on random graphs") {
    // the default threshold sends every spec-sized graph to the local
    // endgame; threshold 0 keeps the distributed rounds + star phase
    // covered by a randomized differential
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val edgeGen = Gen.zip(Gen.chooseNum(0L, 59L), Gen.chooseNum(0L, 59L))
    for (seed <- 10 until 12) {
      val edges = (0 until 80).flatMap(i =>
        edgeGen.apply(Gen.Parameters.default, Seed(seed * 1000L + i)))
      val expected = unionFind(60, edges)
      val res = Components.connectedWithStats(
        spark.range(60L).select(col("id")), edges.toDF("src", "dst"),
        localEdgeThreshold = 0L)
      val got = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed $seed diverged")
      assert(!res.localSolved, "threshold 0 must keep the solve distributed")
      org.apache.spark.sql.GraftSqlBridge.releaseLeaf(res.labels)
    }
  }

  test("map-side pre-contraction: on ≡ off (labels), path and random graphs") {
    // r15: the per-partition spanning-forest pass must never change the
    // labeling — only the first distributed round's input volume. Path
    // (the shape pre-contraction helps most) + random multi-component
    // graphs, both compared label-for-label against preContract=false.
    val n = 5000L
    val nodes = spark.range(n).select(col("id"))
    val pathEdges = spark.range(n - 1)
      .select(col("id").as("src"), (col("id") + 1L).as("dst"))
    def labelsOf(pre: Boolean): Map[Long, Long] = {
      val res = Components.connectedWithStats(nodes, pathEdges, preContract = pre)
      val got = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      org.apache.spark.sql.GraftSqlBridge.releaseLeaf(res.labels)
      got
    }
    assert(labelsOf(true) == labelsOf(false), "pre-contraction changed the path labeling")
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val edgeGen = Gen.zip(Gen.chooseNum(0L, 59L), Gen.chooseNum(0L, 59L))
    for (seed <- 30 until 33) {
      val edges = (0 until 80).flatMap(i =>
        edgeGen.apply(Gen.Parameters.default, Seed(seed * 1000L + i)))
      val expected = unionFind(60, edges)
      assert(run(60, edges) == expected, s"seed $seed diverged (preContract on)")
    }
  }

  test("delta fold: incremental ≡ full recompute on the unioned pair set") {
    // the cluster layer's append ≡ rebuild law (the SigIndex/LexIndex/
    // IvfStore convention): directed cases first, then a randomized
    // three-batch fold differential
    val nodes = spark.range(1L, 11L).select(col("id"))
    val base = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    val lbl0 = Components.connected(nodes, base)
    // one delta batch exercising every case at once: a merge of two
    // existing clusters through interior nodes (3–5), a new cluster among
    // existing isolated nodes (7–8), brand-new nodes (11–12), a self-loop,
    // a duplicate of an existing edge, and an intra-cluster no-op (1–3)
    val d1 = Seq((3L, 5L), (7L, 8L), (11L, 12L), (9L, 9L), (1L, 2L), (1L, 3L))
      .toDF("src", "dst")
    val pins = new Pins // records every delta leaf of the directed cases
    val inc1 = Components.delta(lbl0, d1, pins)
    val full1 = Components.connected(
      spark.range(1L, 13L).select(col("id")), base.unionAll(d1))
    val gotInc1 = inc1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotFull1 = full1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotInc1 == gotFull1, "delta fold must equal the full recompute")
    assert(gotInc1(6L) == 1L && gotInc1(8L) == 7L && gotInc1(12L) == 11L,
      "fixture must exercise merge, fresh-cluster and new-node cases")
    // second fold CHAINS through the first (6 joined cluster 1 via the
    // first delta; now 12 joins through 6) — folds compose
    val d2 = Seq((6L, 12L)).toDF("src", "dst")
    val inc2 = Components.delta(inc1, d2, pins)
    val full2 = Components.connected(
      spark.range(1L, 13L).select(col("id")), base.unionAll(d1).unionAll(d2))
    assert(inc2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == full2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "chained delta folds must keep matching the full recompute")
    pins.release()
    Seq(lbl0, full1, full2).foreach(GraftSqlBridge.releaseLeaf)
    // randomized: 60 nodes, 90 edges in three batches, fold twice
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val edgeGen = Gen.zip(Gen.chooseNum(1L, 60L), Gen.chooseNum(1L, 60L))
    for (seed <- 20 until 22) {
      val edges = (0 until 90).flatMap(i =>
        edgeGen.apply(Gen.Parameters.default, Seed(seed * 1000L + i)))
      val (b0, rest) = edges.splitAt(30)
      val (b1, b2) = rest.splitAt(30)
      val n = spark.range(1L, 61L).select(col("id"))
      val pins = new Pins
      val folded = Components.delta(
        Components.delta(pins.track(Components.connected(n, b0.toDF("src", "dst"))),
          b1.toDF("src", "dst"), pins),
        b2.toDF("src", "dst"), pins)
      val full = Components.connected(n, edges.toDF("src", "dst"))
      assert(folded.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        == full.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        s"seed $seed: two chained folds diverged from the full recompute")
      pins.release()
      GraftSqlBridge.releaseLeaf(full)
    }
  }

  test("delta: ΔE = ∅ starts no connected job; ΔE inside existing clusters ≡ full recompute") {
    val nodes = spark.range(1L, 11L).select(col("id"))
    val base = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    val lbl0 = Components.connected(nodes, base)
    val before = labelMap(lbl0)
    def check(name: String, d: Seq[(Long, Long)], expected: Map[Long, Long],
        shortCircuit: Boolean): Unit = {
      // the edges arrive as a caller-owned checkpoint leaf over 4
      // partitions (an empty local relation would plan to zero tasks and
      // start no job on any path): delta must spare it and the labels'
      // leaves on every path
      val edges = spark.sparkContext.parallelize(d, 4).toDF("src", "dst")
        .localCheckpoint(true)
      val callerLeaves = GraftSqlBridge.leafIds(lbl0) ++ GraftSqlBridge.leafIds(edges)
      val pins = new Pins
      val (got, jobs) = withConnectedJobs {
        val out = Components.delta(lbl0, edges, pins)
        (out, labelMap(out))
      }
      if (shortCircuit)
        assert(jobs == 0, s"$name: the fold must not run connected, started $jobs jobs")
      assert(got._2 == expected, s"$name: must equal labels ∪ fresh singletons")
      val allIds = (expected.keySet ++ d.flatMap(e => Seq(e._1, e._2))).toSeq.sorted
      val full = Components.connected(allIds.toDF("id"),
        base.unionAll(d.toDF("src", "dst")))
      assert(got._2 == labelMap(full), s"$name: must equal the full recompute")
      assert(callerLeaves.subsetOf(pinned), s"$name: delta dropped a caller-owned leaf")
      pins.release()
      assert(callerLeaves.subsetOf(pinned), s"$name: pins.release() dropped a caller-owned leaf")
      GraftSqlBridge.releaseLeaf(full)
      GraftSqlBridge.releaseLeaf(edges)
    }
    check("ΔE = ∅", Seq.empty, before, shortCircuit = true)
    // every edge lands in one existing cluster (or is a self-loop), so the
    // rewritten super-edge set is empty; 11 is a fresh singleton
    check("ΔE ⊆ clusters", Seq((1L, 3L), (2L, 1L), (6L, 5L), (4L, 4L), (11L, 11L)),
      before + (11L -> 11L), shortCircuit = false)
    // control: a merging edge does reach connected (the detector is live)
    val pins = new Pins
    val ((_, mergedMap), jobs) = withConnectedJobs {
      val out = Components.delta(lbl0, Seq((3L, 5L)).toDF("src", "dst"), pins)
      (out, labelMap(out))
    }
    assert(jobs > 0, "a merging delta must run the super-solve")
    assert(mergedMap(6L) == 1L && mergedMap(4L) == 4L)
    pins.release()
    GraftSqlBridge.releaseLeaf(lbl0)
  }

  test("pre-contraction node cap: labels identical below and above a partition's node count") {
    // a cap of 4 fills the per-task union-find after a couple of edges,
    // so nearly every edge passes through raw; the default cap holds
    // every node of a partition (hundreds here). Both must label alike,
    // through the local endgame and through the distributed rounds.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val n = 300L
    val edgeGen = Gen.zip(Gen.chooseNum(0L, n - 1), Gen.chooseNum(0L, n - 1))
    val edges = (0 until 400).flatMap(i =>
      edgeGen.apply(Gen.Parameters.default, Seed(40000L + i)))
    val nodes = spark.range(n).select(col("id"))
    val path = spark.range(1999L).select(col("id").as("src"), (col("id") + 1L).as("dst"))
    def labelsOf(nodes: org.apache.spark.sql.DataFrame, e: org.apache.spark.sql.DataFrame,
        cap: Int, threshold: Long): Map[Long, Long] = {
      val res = Components.connectedWithStats(nodes, e,
        localEdgeThreshold = threshold, preContractNodeCap = cap)
      val got = labelMap(res.labels)
      GraftSqlBridge.releaseLeaf(res.labels)
      got
    }
    val expected = unionFind(n, edges)
    for (threshold <- Seq(Components.DefaultLocalEdgeThreshold, 0L)) {
      val e = edges.toDF("src", "dst").repartition(4)
      val below = labelsOf(nodes, e, 4, threshold)
      val above = labelsOf(nodes, e, Components.PreContractNodeCap, threshold)
      assert(below == above, s"threshold $threshold: the cap changed the labels")
      assert(above == expected, s"threshold $threshold: diverged from union-find")
    }
    val pathNodes = spark.range(2000L).select(col("id"))
    val pathBelow = labelsOf(pathNodes, path, 4, Components.DefaultLocalEdgeThreshold)
    assert(pathBelow == labelsOf(pathNodes, path, Components.PreContractNodeCap,
      Components.DefaultLocalEdgeThreshold), "the cap changed the path labeling")
    assert(pathBelow.values.toSet == Set(0L))
  }
}
