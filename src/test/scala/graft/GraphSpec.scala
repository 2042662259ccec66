package graft

import graft.operators.{Graph, Release}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

/** The unified [[Graph]] engine's own contract (round-9 VERDICT #2 — the
  * capabilities its q125/q128/q136/q137 callers don't reach):
  *
  *  - frontier BFS with `maxHops = None` runs until the frontier empties
  *    (exact distances on a diameter-7 chain a 4-hop unroll provably
  *    misses);
  *  - `epsilon = Some(0)` stops exactly when a round is a no-op — early
  *    on a stationary cycle, never on the q125 fixture — and is always
  *    bit-identical to the plain fixed-iteration run;
  *  - weighted propagation ≡ an in-memory integer iteration;
  *  - release discipline: the handles drop every pinned cache AND
  *    localCheckpoint block (id-diff gates, the DedupSpec pattern), a
  *    released frame cannot be re-executed (the documented single-shot
  *    finality), a FAILED first action does NOT consume the auto-release
  *    shot (round-9 ADVICE), [[Release.sweep]] drains
  *    built-but-never-executed frames, and no handle drops a checkpoint
  *    leaf the caller passed in.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val S = 1000000000000L

  private def pinnedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def awaitReleased(ids: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 30_000_000_000L
    while ((pinnedIds & ids).nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    pinnedIds & ids
  }

  /** 1→2→…→8: diameter 7 from node 1. */
  private def chain = (1L to 7L).map(i => (i, i + 1)).toDF("src", "dst")

  test("bfs maxHops=None runs until the frontier empties — reaches what a 4-hop unroll misses") {
    val bf = Graph.bfs(chain, Seq(1L).toDF("nid"))
    val dist = bf.out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == (1L to 8L).map(i => i -> (i - 1)).toMap, s"exact chain distances, got $dist")
    // the last round discovers the empty frontier: 7 growing + 1 empty
    assert(bf.rounds == 8, s"rounds=${bf.rounds}")
    bf.release()

    val capped = Graph.bfs(chain, Seq(1L).toDF("nid"), maxHops = Some(4))
    val d4 = capped.out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped.rounds == 4)
    assert(d4 == (1L to 5L).map(i => i -> (i - 1)).toMap,
      s"the 4-hop unroll must miss nodes 6..8 (d=5..7), got $d4")
    assert(!d4.contains(6L) && dist(6L) == 5L,
      "node 6 is exactly what open-ended BFS adds over the fixed unroll")
    capped.release()
  }

  test("bfs distances are layered-exact on a branchy graph (≡ in-memory BFS)") {
    // two sources, a diamond, and an unreachable island {20,21}
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L), (4L, 6L), (5L, 6L),
      (6L, 1L), (20L, 21L)).toDF("src", "dst")
    val adj = Seq((1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L), (4L, 6L), (5L, 6L),
      (6L, 1L), (20L, 21L)).groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    var dist = Map(1L -> 0L, 2L -> 0L)
    var frontier = Set(1L, 2L)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)).filterNot(dist.contains)
      dist = dist ++ next.map(_ -> (dist(frontier.head) + 1))
      frontier = next
    }
    val bf = Graph.bfs(edges, Seq(1L, 2L).toDF("nid"))
    val got = bf.out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    bf.release()
    assert(got == dist, s"got $got expected $dist")
    assert(!got.contains(20L) && !got.contains(21L), "island must stay unreached")
  }

  test("epsilon=0 fires the early stop on a stationary cycle, bit-identical to the long fixed run") {
    // a directed 3-cycle is stationary from the uniform init: round 1 is a
    // no-op, so Σ|Δr| = 0 and the engine must stop after it
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val eps = Graph.pageRank(cycle, iters = 5, epsilon = Some(0L))
    val epsRows = eps.out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(eps.rounds == 1, s"early stop must fire after the first no-op round, ran ${eps.rounds}")
    eps.release()
    val fixed = Graph.pageRank(cycle, iters = 5)
    val fixedRows = fixed.out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fixed.rounds == 5)
    fixed.release()
    assert(epsRows == fixedRows, "a monotone-contraction no-op round ⇒ every later iterate is bit-identical")
    assert(epsRows.forall(_._2 == S / 3), "cycle fixed point is the uniform share")
  }

  test("epsilon=Some(0) ≡ plain fixed-iter on the q125 fixture (no early stop fires)") {
    val e = Tables.load(spark, sf, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.load(spark, sf, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    val eps = Graph.pageRank(e, iters = 3, epsilon = Some(0L))
    val epsRows = eps.out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    eps.release()
    val fixed = Graph.pageRank(e, iters = 3)
    val fixedRows = fixed.out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    fixed.release()
    assert(eps.rounds == 3, s"the bipartite purchase graph must not converge in 3 rounds, stopped at ${eps.rounds}")
    assert(epsRows == fixedRows)
  }

  test("weightedPageRank ≡ in-memory integer iteration; proportional split matters") {
    // node 1 splits 3:1 between 2 and 3 — under the uniform split both get
    // the same share, so any divergence proves the weights are live
    val wedges = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 2L), (3L, 1L, 1L))
    val ww = wedges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val nodes = Seq(1L, 2L, 3L)
    var r = nodes.map(_ -> S / 3).toMap
    for (_ <- 1 to 3) {
      val contrib = wedges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _, w) => r(src) * w / ww(src) }.sum
      }
      r = nodes.map(n => n ->
        (15L * S / (100L * 3) + 85L * (contrib.getOrElse(n, 0L) + 0L) / 100L)).toMap
    }
    val expected = nodes.map(n => (n, r(n)))
    val rk = Graph.weightedPageRank(wedges.toDF("src", "dst", "w"), iters = 3)
    val got = rk.out.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(rk.rounds == 3)
    rk.release()
    assert(got == expected, s"got $got expected $expected")
    assert(r(2L) != r(3L), "fixture must make the proportional split visible")
  }

  test("hits ≡ in-memory alternating iteration on a tiny bipartite graph; normalization guard; release gate") {
    val SHl = 1000000000L
    val edges = Seq((1L, 11L), (2L, 11L), (2L, 12L))
    val nodes = Seq(1L, 2L, 11L, 12L)
    var h = nodes.map(_ -> SHl / 4).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 2) {
      val ar = edges.groupBy(_._2).map { case (d, es) => d -> es.map(e => h(e._1)).sum }
      a = ar.map { case (k, v) => k -> v * SHl / math.max(ar.values.sum, 1L) }
      val hr = edges.groupBy(_._1).map { case (s, es) => s -> es.map(e => a(e._2)).sum }
      h = hr.map { case (k, v) => k -> v * SHl / math.max(hr.values.sum, 1L) }
    }
    val expected = nodes.map(nid => (nid, h.getOrElse(nid, 0L), a.getOrElse(nid, 0L)))
    val before = pinnedIds
    val rk = Graph.hits(edges.toDF("src", "dst"), iters = 2)
    val got = rk.out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val mine = pinnedIds -- before
    assert(mine.nonEmpty, "hits pins the edge/node frames and the final checkpoint leaves")
    rk.release()
    assert(got == expected, s"got $got expected $expected")
    // node 2 feeds both authorities — it must out-hub node 1
    val byId = got.map(x => x._1 -> x).toMap
    assert(byId(2L)._2 > byId(1L)._2, "the two-authority feeder must out-hub the single")
    val left = awaitReleased(mine)
    assert(left.isEmpty, s"hits release must drop caches and checkpoint blocks; still pinned: $left")
    // the normalization guard: no edges means no mass to normalize — the
    // run fails loudly instead of returning an empty score table
    val pins = new graft.operators.Pins
    val empty = intercept[IllegalArgumentException] {
      Graph.hits(Seq.empty[(Long, Long)].toDF("src", "dst"), pins = pins)
    }
    pins.release()
    assert(empty.getMessage.contains("Graph.hits: edge frame is empty"), empty.getMessage)
  }

  /** Directed graph over 60 nodes, 300 draws (duplicates and both
    * directions included): deterministic, not bipartite. */
  private def randomEdges(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(300)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
  }

  /** SQL executions planned adaptively while `body` runs — how many of a
    * run's actions the AQE-off gate left AQE-on. */
  private def adaptiveDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val adaptive = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        // the root, not any node: a cached input's plan stays adaptive
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("== Physical Plan ==\nAdaptiveSparkPlan") =>
          adaptive.incrementAndGet()
        case _ => ()
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (out, adaptive.get)
    } finally sc.removeSparkListener(listener)
  }

  test("AQE-off gate forced each way: hits and kcore give identical output (hits ≡ the uniform-init iteration)") {
    val SHl = 1000000000L
    val edges = randomEdges(11).distinct
    // the definition, node count and all: hubs start at SH div n
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var h = nodes.map(_ -> SHl / nodes.size).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 3) {
      val ar = edges.groupBy(_._2).map { case (d, es) => d -> es.map(e => h(e._1)).sum }
      a = ar.map { case (k, v) => k -> v * SHl / math.max(ar.values.sum, 1L) }
      val hr = edges.groupBy(_._1).map { case (s, es) => s -> es.map(e => a(e._2)).sum }
      h = hr.map { case (k, v) => k -> v * SHl / math.max(hr.values.sum, 1L) }
    }
    val expected = nodes.map(nid => (nid, h.getOrElse(nid, 0L), a.getOrElse(nid, 0L)))
    val df = randomEdges(11).toDF("src", "dst")
    // threshold 0 keeps the rounds AQE-on; Long.MaxValue scopes them off
    def hitsAt(threshold: Long) = adaptiveDuring {
      val run = Graph.hitsGated(df, 3, new graft.operators.Pins, threshold)
      val rows = run.out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      run.release()
      rows
    }
    withAqe(on = true) {
      val (on, onAdaptive) = hitsAt(0L)
      val (off, offAdaptive) = hitsAt(Long.MaxValue)
      assert(on == expected, "AQE-on hits must match the uniform-init iteration")
      assert(off == on, "hits must not depend on the AQE-off gate")
      assert(onAdaptive > offAdaptive,
        s"the gate must scope the rounds AQE-off: $onAdaptive vs $offAdaptive adaptive actions")
      val sym = randomEdges(12).flatMap { case (x, y) => Seq((x, y), (y, x)) }.toDF("src", "dst")
      def kcoreAt(threshold: Long) = adaptiveDuring {
        val run = Graph.kcoreGated(sym, 4, 10, new graft.operators.Pins, threshold)
        val ids = run.out.collect().map(_.getLong(0)).toSeq.sorted
        run.release()
        (ids, run.rounds)
      }
      val ((kOn, rOn), kOnAdaptive) = kcoreAt(0L)
      val ((kOff, rOff), kOffAdaptive) = kcoreAt(Long.MaxValue)
      assert(rOn > 1, s"the fixture must peel for more than one round, ran $rOn")
      assert(kOn.nonEmpty && kOff == kOn && rOff == rOn,
        "kcore must not depend on the AQE-off gate")
      assert(kOnAdaptive > kOffAdaptive,
        s"the gate must scope the rounds AQE-off: $kOnAdaptive vs $kOffAdaptive adaptive actions")
    }
  }

  test("a kcore/lpa round and a HITS half-round start no job beyond their checkpoint") {
    // one more round than `r` must cost exactly its checkpoint action's
    // jobs — with AQE off on these tiny frames, the result job plus one
    // broadcast build per small join side. A driver-side count after the
    // checkpoint, or a broadcast normalization scalar, adds jobs
    def sym(es: Seq[(Long, Long)]) =
      es.flatMap { case (x, y) => Seq((x, y), (y, x)) }.toDF("src", "dst")
    val chain = sym((1L to 40L).map(i => (i, i + 1)))
    val dag = randomEdges(13).toDF("src", "dst")
    def roundJobs(run: Int => Graph.Run, r: Int): Int = {
      def jobs(rounds: Int): Int = {
        val (ran, n) = jobsDuring {
          val x = run(rounds)
          x.release()
          x.rounds
        }
        assert(ran == rounds, s"the fixture must not converge within $rounds rounds")
        n
      }
      jobs(r + 1) - jobs(r)
    }
    withAqe(on = false) {
      // kcore: the alive set joins both endpoints
      val kcoreJobs = roundJobs(Graph.kcore(chain, k = 2, _), 2)
      assert(kcoreJobs == 3, s"a kcore round ran $kcoreJobs jobs")
      // lpa: the label join and the mode join
      val lpaJobs = roundJobs(Graph.lpa(chain, _), 2)
      assert(lpaJobs == 3, s"an lpa round ran $lpaJobs jobs")
      // hits: two half-rounds, each joining the other side's scores
      val hitsJobs = roundJobs(Graph.hits(dag, _), 2)
      assert(hitsJobs == 2 * 2, s"a hits round ran $hitsJobs jobs")
    }
  }

  test("kcore peels a chain to empty and a pendant off a triangle; rounds counted; release gate") {
    def sym(es: Seq[(Long, Long)]) =
      es.flatMap { case (x, y) => Seq((x, y), (y, x)) }.toDF("src", "dst")
    // triangle {1,2,3} with pendant 4—1: one peel drops 4, the next
    // observes the fixpoint
    val tri = Graph.kcore(sym(Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))), k = 2)
    assert(tri.out.collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 2L, 3L))
    assert(tri.rounds == 2, s"drop-pendant + confirm = 2 rounds, ran ${tri.rounds}")
    tri.release()
    // a 5-chain has NO 2-core: endpoints peel first, then inward —
    // multi-round shrink ending empty (the shape a single filter misses)
    val before = pinnedIds
    val chain = Graph.kcore(sym((1L to 4L).map(i => (i, i + 1))), k = 2)
    assert(chain.out.count() == 0L, "a chain must peel to nothing")
    assert(chain.rounds == 4, s"5-chain peels in 3 shrinking rounds + 1 confirm, ran ${chain.rounds}")
    chain.release()
    val left = awaitReleased(pinnedIds -- before)
    assert(left.isEmpty, s"kcore release must drop caches and checkpoint blocks; still pinned: $left")
  }

  test("sssp prefers the longer-but-cheaper path BFS cannot express; fixpoint-stops; release gate") {
    // 1→2 costs 10; 1→3→4→2 costs 3 — the VALUE-improving case: node 2
    // is reached in one hop but its cost keeps improving afterwards
    val before = pinnedIds
    val ed = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 4L, 1L), (4L, 2L, 1L))
      .toDF("src", "dst", "w")
    val sp = Graph.sssp(ed, Seq(1L).toDF("nid"), maxRounds = 10)
    val dist = sp.out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dist == Map(1L -> 0L, 2L -> 3L, 3L -> 1L, 4L -> 2L),
      s"three cheap hops must beat one expensive one, got $dist")
    assert(sp.rounds < 10, s"must stop at the fixpoint, ran ${sp.rounds}")
    // hop-distance BFS on the same graph reports 2 at distance 1 — the
    // semantics split that justifies the separate skeleton
    val bf = Graph.bfs(ed.select("src", "dst"), Seq(1L).toDF("nid"))
    assert(bf.out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap.apply(2L) == 1L)
    bf.release()
    sp.release()
    val left = awaitReleased(pinnedIds -- before)
    assert(left.isEmpty, s"sssp release must drop caches and checkpoint blocks; still pinned: $left")
  }

  test("lpa splits bridged triangles where min-label flooding cannot; converges; release gate") {
    def sym(es: Seq[(Long, Long)]) =
      es.flatMap { case (x, y) => Seq((x, y), (y, x)) }.toDF("src", "dst")
    // two triangles joined by one bridge edge 3—4: ONE connected
    // component, but local agreement keeps the triangles apart
    val before = pinnedIds
    val l = Graph.lpa(
      sym(Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))),
      maxRounds = 10)
    val labels = l.out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val communities = labels.groupBy(_._2).values.map(_.keySet).toSet
    assert(communities == Set(Set(1L, 2L, 3L), Set(4L, 5L, 6L)),
      s"bridged triangles must split into the two triangles, got $communities")
    assert(labels.values.toSet.subsetOf(labels.keySet), "labels are node ids")
    assert(l.rounds < 10, s"must stop on the no-op round, ran ${l.rounds}")
    l.release()
    val left = awaitReleased(pinnedIds -- before)
    assert(left.isEmpty, s"lpa release must drop caches and checkpoint blocks; still pinned: $left")
  }

  test("release handles drop every pinned cache AND checkpoint block; released frames are final") {
    val before = pinnedIds
    val rk = Graph.pageRank(chain, iters = 2)
    rk.out.count()
    val mine = pinnedIds -- before
    assert(mine.nonEmpty, "the engine pins at least the edge frame and the final checkpoint leaf")
    rk.release()
    val left = awaitReleased(mine)
    assert(left.isEmpty, s"release must drop caches and checkpoint blocks; still pinned: $left")
    // FINALITY (round-9 VERDICT #3): the lineage bottoms out in a dropped
    // localCheckpoint leaf — a second materialization must fail, not
    // silently recompute
    intercept[Exception] { rk.out.count() }

    val bfore = pinnedIds
    val bf = Graph.bfs(chain, Seq(1L).toDF("nid"), maxHops = Some(2))
    bf.out.count()
    val bmine = pinnedIds -- bfore
    assert(bmine.nonEmpty)
    bf.release()
    val bleft = awaitReleased(bmine)
    assert(bleft.isEmpty, s"bfs release must drop caches and checkpoint blocks; still pinned: $bleft")
  }

  test("every engine's release handle drops its own state and spares the caller's checkpointed input") {
    def leaf(df: DataFrame): DataFrame = GraftSqlBridge.freshLeaf(df.localCheckpoint(true))
    // triangle {1,2,3} + pendant 4—1, symmetrized; every input is a
    // localCheckpoint leaf the TEST owns
    val sym = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))
      .flatMap { case (x, y) => Seq((x, y), (y, x)) }
    val edges = leaf(sym.toDF("src", "dst"))
    val wedges = leaf(sym.map { case (x, y) => (x, y, x + y) }.toDF("src", "dst", "w"))
    val nodes = leaf((1L to 4L).map(n => (n, n == 1L)).toDF("nid", "tele"))
    val sources = leaf(Seq(1L).toDF("nid"))
    val inputs = Seq(edges -> 8L, wedges -> 8L, nodes -> 4L, sources -> 1L)
    val inputIds = inputs.flatMap(i => GraftSqlBridge.leafIds(i._1)).toSet
    val engines: Seq[(String, () => Graph.Run)] = Seq(
      "pageRank" -> (() => Graph.pageRank(edges)),
      "weightedPageRank" -> (() => Graph.weightedPageRank(wedges)),
      "trust" -> (() => Graph.trust(nodes, edges)),
      "hits" -> (() => Graph.hits(edges)),
      "kcore" -> (() => Graph.kcore(edges, k = 2)),
      "sssp" -> (() => Graph.sssp(wedges, sources)),
      "bfs" -> (() => Graph.bfs(edges, sources)),
      "lpa" -> (() => Graph.lpa(edges)))
    engines.foreach { case (name, engine) =>
      val before = pinnedIds
      val run = engine()
      run.out.collect()
      val mine = pinnedIds -- before
      assert(mine.nonEmpty, s"$name pins its own frames and checkpoint leaves")
      run.release()
      val left = awaitReleased(mine)
      assert(left.isEmpty, s"$name release must drop its own pins; still pinned: $left")
      assert(inputIds.subsetOf(pinnedIds),
        s"$name dropped a caller-owned input leaf: ${inputIds -- pinnedIds}")
      inputs.foreach { case (in, n) =>
        assert(in.count() == n, s"$name: the caller's input must still count")
      }
    }
  }

  test("auto-release fires on first SUCCESS only — a failed action keeps the frame retryable") {
    val before = pinnedIds
    val out = Graph.pageRank(chain, iters = 2).once
    // a derived action that fails at runtime: onFailure must NOT consume
    // the shot (round-9 ADVICE — transient failures stay retryable)
    intercept[Exception] {
      out.select(assert_true(col("rank_fp") < 0).as("x")).collect()
    }
    val n = out.count() // the retry works and NOW fires the release
    assert(n == 8L)
    val left = awaitReleased(pinnedIds -- before)
    assert(left.isEmpty, s"first SUCCESS must release the engine's pins; still pinned: $left")
  }

  test("auto-release ignores completion events of the engine's own actions delivered late") {
    // hold every SQL-execution end event back until the frame is returned:
    // sssp's last fixpoint probe reads its final leaf, and a listener
    // matching that leaf saw the probe's late event as the caller's first
    // execution — the release fired before any read
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
    val gate = new java.util.concurrent.CountDownLatch(1)
    val delivered = new java.util.concurrent.atomic.AtomicLong()
    val hold = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionEnd =>
          gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
          delivered.incrementAndGet()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(hold)
    val before = pinnedIds
    val out = try {
      val ed = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 4L, 1L), (4L, 2L, 1L))
        .toDF("src", "dst", "w")
      Graph.sssp(ed, Seq(1L).toDF("nid"), maxRounds = 10).once
    } finally gate.countDown()
    // drain the held-back events before the first read
    var seen = -1L
    while (seen != delivered.get()) { seen = delivered.get(); Thread.sleep(500) }
    spark.sparkContext.removeSparkListener(hold)
    val dist = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dist == Map(1L -> 0L, 2L -> 3L, 3L -> 1L, 4L -> 2L))
    val left = awaitReleased(pinnedIds -- before)
    assert(left.isEmpty, s"the first read must fire the release; still pinned: $left")
  }

  test("Release.sweep drains built-but-never-executed auto-release frames (round-9 ADVICE)") {
    Release.sweep(spark) // drain leftovers from earlier tests for a clean gauge
    val before = pinnedIds
    val outstandingBefore = Release.outstanding(spark)
    Graph.pageRank(chain, iters = 2).once // built, never executed — a plan-audit shape
    assert(Release.outstanding(spark) == outstandingBefore + 1)
    val mine = pinnedIds -- before
    assert(mine.nonEmpty, "the abandoned build left pinned state behind")
    Release.sweep(spark)
    assert(Release.outstanding(spark) == outstandingBefore)
    val left = awaitReleased(mine)
    assert(left.isEmpty, s"sweep must drop the abandoned build's pins; still pinned: $left")
  }

  test("Release.sweep never touches another session's registrations (r10 ADVICE)") {
    Release.sweep(spark)
    val other = spark.newSession()
    var fired = false
    // a registration owned by the OTHER session, never executed
    Release.onFirstExecution(
      other.range(3).toDF("nid"), () => { fired = true })
    assert(Release.outstanding(other) == 1)
    // sweeping THIS session must leave the other session's entry in
    // place and unfired (the old remove/re-put window could swallow it)
    Release.sweep(spark)
    assert(Release.outstanding(other) == 1 && !fired,
      "sweep(spark) must not drain or fire another session's release")
    Release.sweep(other)
    assert(Release.outstanding(other) == 0 && fired,
      "the owning session's sweep drains it")
  }

  test("kcore and lpa dedupe parallel edges on entry — multigraph input ≡ simple graph (r10 ADVICE)") {
    import spark.implicits._
    // triangle + pendant, every edge duplicated 3× (symmetrized)
    val base = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val multi = Seq.fill(3)(base).flatten.toDF("src", "dst")
    val simple = base.toDF("src", "dst")
    val cm = Graph.kcore(multi, k = 2)
    val csim = Graph.kcore(simple, k = 2)
    val gotM = cm.out.collect().map(_.getLong(0)).toSet
    val gotS = csim.out.collect().map(_.getLong(0)).toSet
    cm.release(); csim.release()
    // with duplicate counting the pendant 3—4 edge would fake degree 3 ≥ 2
    // and node 4 would survive the peel
    assert(gotM == Set(1L, 2L, 3L) && gotM == gotS,
      s"multigraph input must peel like the simple graph: $gotM vs $gotS")
    val lm = Graph.lpa(multi, maxRounds = 5)
    val ls = Graph.lpa(simple, maxRounds = 5)
    val labM = lm.out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val labS = ls.out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    lm.release(); ls.release()
    assert(labM == labS, "duplicate edges must not change label votes")
  }
}
