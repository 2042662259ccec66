package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.functions._

/** Distributed connected components — the clustering step that turns
  * pairwise near-dup DETECTIONS (q23/q26/q28 output) into dedup GROUPS.
  * Pairwise dropping (q53) under-deduplicates when similarity chains:
  * A≈B, B≈C but A̸≈C still means {A,B,C} is one duplicate cluster and one
  * survivor should remain. That requires components, not pairs.
  *
  * Two phases, both from the MapReduce-CC family of Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14:
  *
  * 1. Hash-min pointer rounds WITH GRAPH CONTRACTION. Each round every
  *    active super-node points to the min of itself and its neighbors; the
  *    edge list is then REWRITTEN through those pointers — intra-cluster
  *    edges become self-loops and vanish. On near-dup graphs (dense,
  *    clique-ish clusters) the edge list collapses almost entirely in
  *    round one, so later rounds cost nothing — unlike plain label
  *    propagation, which re-scans the FULL edge list every round for as
  *    many rounds as the graph diameter.
  * 2. Alternating LARGE-STAR / SMALL-STAR contraction, entered only for a
  *    remnant that is BOTH too large to finish on the driver (see the
  *    endgame below) AND stalled for two consecutive rounds (shrink < 25 %
  *    twice — a long-chain / high-diameter remnant, where hash-min
  *    degrades to one diameter hop per round). Large-star hangs every
  *    node's larger neighbors off its neighborhood minimum; small-star
  *    does the same for the smaller neighbors. The alternation is the
  *    SoCC'14 Two-Phase algorithm: it converges to disjoint min-centered
  *    stars in O(log² n) rounds (observed ≈ log n, ~10 rounds for a
  *    10k-node path — ComponentsSpec pins this), the edge set never grows
  *    beyond its input size, and every round is the same canonical-edges
  *    groupBy/join shape as phase one. Real dedup graphs never reach
  *    phase 2; a legal-but-pathological edge list (one giant path) now
  *    converges instead of timing out.
  *
  * ENDGAME: every distributed round — contraction or star — costs a fixed
  * handful of Spark jobs regardless of data volume, so once the contracted
  * remnant is metadata-scale the per-round scheduling overhead dominates
  * by orders of magnitude (round 6 measured q58 paying ~12 s of control-
  * loop rounds over a sub-MB remnant). When the active canonical edge set
  * drops to at most [[Components.DefaultLocalEdgeThreshold]] edges, the
  * remnant is collected ONCE and finished with an in-memory union-find
  * pass — the standard endgame of the MapReduce-CC family (contract
  * distributed until the graph fits, then solve locally). The collect is
  * bounded by construction: 2^18 canonical edges × 16 bytes = 4 MiB on the
  * driver, independent of the input corpus size — at 100 TB the
  * contraction rounds still do all the heavy lifting distributed, and only
  * the fixed-size tail moves to the driver.
  *
  * Every round's outputs are materialized through `localCheckpoint` —
  * NOT plain persist: iterative DataFrames that reference the previous
  * round twice double their logical plan per round, and the driver dies
  * assembling a 2^rounds-node tree long before any data moves. Lineage
  * truncation keeps the plan O(1) per round. localCheckpoint blocks are
  * executor-local (not fault-tolerant to executor loss); a multi-hour
  * production run would use reliable `checkpoint()` instead — same
  * truncation, durable blocks. The per-round active-edge count that drives
  * the control loop is computed by the round's own edge checkpoint job
  * ([[Pins.checkpoint]]'s `aggs`) — one long per round, no extra action.
  *
  * The result is exact and deterministic: the fixpoint (component-min
  * labeling) does not depend on round count, phase switch point, or
  * partitioning.
  */
object Components {

  /** Remnant size (canonical edges) at or below which the endgame switches
    * to one driver-side union-find pass. 2^18 edges ≈ 4 MiB of driver
    * memory — a fixed bound independent of corpus size. Specs pass 0 to
    * force the fully-distributed path. */
  private[graft] val DefaultLocalEdgeThreshold: Long = 1L << 18

  /** Labels plus the per-phase round counts — `connected` is the public
    * surface; the counts let specs pin the O(log n) convergence claim and
    * that dedup-shaped graphs never divert into the star phase. */
  private[graft] final case class Result(
      labels: DataFrame, contractionRounds: Int, starRounds: Int,
      localSolved: Boolean)

  /** Label every node with the smallest node id in its connected
    * component. `nodes`: one `id BIGINT` row per node (must cover every
    * endpoint in `edges`; isolated nodes keep their own label). `edges`:
    * `(src, dst)` BIGINT pairs, either orientation, duplicates and
    * self-loops harmless. Returns `(id, lbl)`.
    */
  def connected(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 100): DataFrame =
    connectedWithStats(nodes, edges, maxRounds).labels

  /** INCREMENTAL cluster maintenance (VERDICT r12 #4) — fold a NEW pair
    * batch into an existing labeling without recomputing from scratch:
    * `(labels, newEdges)` → updated `(id, lbl)`, law-pinned
    * `delta(connected(N, E), ΔE) ≡ connected(N ∪ nodes(ΔE), E ∪ ΔE)`
    * (ComponentsSpec). The persisted indexes (SigIndex/LexIndex/
    * IvfStore) all carry append ≡ rebuild laws; this is the cluster
    * layer's.
    *
    * Why it is exact: a component-min labeling is a lossless CONTRACTION
    * of the old edge set — every old path is witnessed by a shared
    * label. So the fold rewrites each delta endpoint to its current
    * label (new nodes label themselves), drops the self-loops that
    * rewriting creates (delta edges WITHIN an existing cluster cost
    * nothing), and solves components over ONLY the touched super-nodes;
    * since each old label is the MIN id of its old component and new
    * nodes are their own min, the super-solve's min-label output IS the
    * min over all original ids in each merged component. Untouched
    * clusters pass through the final left join unchanged.
    *
    * Scale: everything is proportional to the DELTA (plus one
    * broadcast-or-hash join against `labels` to rewrite endpoints and
    * one to compose back) — the super-graph the inner [[connected]]
    * sees has at most one node per touched cluster and one edge per
    * delta pair, so a steady-state ingest folds millions of new pairs
    * without ever re-reading the historical edge set. `newEdges` is
    * materialized once (its plan is typically a store probe); when it
    * is empty no [[connected]] job runs at all — the common steady-state
    * batch that finds no near-duplicate costs one edge checkpoint.
    *
    * Leaf ownership: the result's plan embeds the caller's `labels`
    * (on the ΔE = ∅ short-circuit the result IS `labels`, re-projected)
    * next to delta's own checkpoint leaves — the edge leaf and
    * [[connected]]'s labels — which delta records in `pins`. Materialize
    * the result once, then `pins.release()`: that drops delta's leaves
    * and nothing of `labels` or `newEdges`, which stay the caller's
    * ([[Dedup.maintain]] and [[SemanticDedup.maintain]] follow this).
    */
  def delta(labels: DataFrame, newEdges: DataFrame, pins: Pins,
      maxRounds: Int = 100): DataFrame = {
    val edges = pins.leaf(newEdges.select("src", "dst"))
    if (edges.isEmpty) return labels.select("id", "lbl")
    val ends = edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id"))).distinct()
    val fresh = ends.join(labels.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("lbl"))
    val all = labels.select("id", "lbl").unionAll(fresh)
    val superEdges = edges
      .join(all.select(col("id").as("src"), col("lbl").as("lsrc")), "src")
      .join(all.select(col("id").as("dst"), col("lbl").as("ldst")), "dst")
      .select(col("lsrc").as("src"), col("ldst").as("dst"))
      .filter(col("src") =!= col("dst"))
    val touched = superEdges.select(col("src").as("id"))
      .unionAll(superEdges.select(col("dst").as("id"))).distinct()
    val sup = pins.track(connected(touched, superEdges, maxRounds))
      .select(col("id").as("lbl"), col("lbl").as("nlbl"))
    all.join(sup, Seq("lbl"), "left")
      .select(col("id"), coalesce(col("nlbl"), col("lbl")).as("lbl"))
  }

  /** Per-task union-find node cap for [[preContractPass]]: bounds the
    * map at ~64 MiB per task (2^22 entries × ~16 B); edges arriving
    * after the cap pass through raw — correctness never depends on the
    * cap, only the reduction ratio does. The default of
    * [[connectedWithStats]]' `preContractNodeCap`; specs pass a small cap
    * to force the pass-through side. */
  private[graft] val PreContractNodeCap = 1 << 22

  /** MAP-SIDE PRE-CONTRACTION (r15, guide §2.3 "aggregate before you
    * shuffle" applied to connectivity): one pass of per-partition
    * union-find over the canonical edges, emitting each partition's
    * spanning forest — ≤ (distinct nodes in the partition) − 1 edges
    * instead of every edge. The union of per-partition spanning forests
    * has exactly the original's connected components (a forest preserves
    * the connectivity of the edges it absorbed; pass-through edges are
    * kept verbatim), so every downstream fixpoint — whose result, the
    * component-min labeling, is already partitioning-invariant — is
    * unchanged while the first distributed round's input drops from |E|
    * to ~|V| per partition (measured at sf0.1: the q58-family pair graph
    * is 6.76 M edges over ≤10 k nodes — the checkpoint + hash-min round
    * over it was the single largest block of every dedup recomposition).
    * Emitted edges are canonical by construction: unions root at the
    * MIN, so find(x) < x for every non-root.
    *
    * Memory: the per-task map is bounded by [[PreContractNodeCap]]
    * entries; past the cap remaining edges stream through untouched
    * (an adversarially diffuse partition degrades to a partial
    * reduction, never to an error). ComponentsSpec pins
    * preContract-on ≡ off on paths and random graphs, and the labels
    * identical with the cap forced below and above a partition's node
    * count. */
  private def preContractPass(canon: DataFrame, nodeCap: Int): DataFrame = {
    val s = canon.sparkSession
    import s.implicits._
    canon.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        val passThrough = it.flatMap { case (a, b) =>
          if (parent.size < nodeCap) {
            parent.getOrElseUpdate(a, a)
            parent.getOrElseUpdate(b, b)
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
            Iterator.empty
          } else Iterator.single((a, b))
        }
        // forest emission AFTER the input is exhausted (++'s right operand
        // is by-name); keys materialized first — find() path-compresses,
        // and mutating a LongMap under its own keysIterator is undefined
        passThrough ++ {
          val keys = parent.keys.toArray
          keys.iterator.flatMap { x =>
            val r = find(x)
            if (r != x) Iterator.single((r, x)) else Iterator.empty
          }
        }
      }
      .toDF("u", "v")
  }

  private[graft] def connectedWithStats(
      nodes: DataFrame, edges: DataFrame, maxRounds: Int = 100,
      localEdgeThreshold: Long = DefaultLocalEdgeThreshold,
      preContract: Boolean = true,
      preContractNodeCap: Int = PreContractNodeCap): Result = {
    // active contracted edge set, canonical (u < v); materializing this
    // runs the upstream detector exactly once — through the map-side
    // pre-contraction pass by default (preContract = false is the
    // spec-only switch that keeps the pathological-path star-phase law
    // testable, the localEdgeThreshold = 0 convention)
    val canon = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
    // the active edge count, computed by each edge checkpoint's own job
    var active = 0L
    val edgeCount = Seq(count(lit(1)))
    def countActive(r: Row): Unit = active = r.getLong(0)
    var cur = Pins.checkpoint(
      if (preContract) preContractPass(canon, preContractNodeCap) else canon,
      edgeCount, countActive)
    // node -> super-node pointer, composed across rounds
    var mapping = Pins.checkpoint(nodes.select(col("id"), col("id").as("lbl")))
    var rounds = 0
    var slowRounds = 0
    // the contraction control loop runs its fixed-shape rounds with AQE
    // scoped off (the [[Graph.withoutAqeIf]] rationale — per-stage
    // materialization barriers dominate rounds over checkpointed
    // remnants); the detector materialization above ran with AQE on
    while (active > localEdgeThreshold && slowRounds < 2 && rounds < maxRounds)
    Graph.withoutAqeIf(nodes.sparkSession, active <= Graph.IterAqeOffThreshold) {
      val prevCur = cur
      val prevMapping = mapping
      val prevActive = active
      // hash-min: each super-node points to min(self, neighbors). Only the
      // SMALLER-neighbor side can lower a label, so one half-aggregation
      // over the canonical (u < v) edges suffices — l(x) = min(x, min{w :
      // (w,x)}) — instead of a groupBy over both orientations (halves the
      // agg input and skips materializing the 2× union). Nodes with no
      // smaller neighbor have no row here; the left joins below keep them.
      val l = Pins.checkpoint(cur.groupBy(col("v").as("node")).agg(min(col("u")).as("nm"))
        .select(col("node"), least(col("node"), col("nm")).as("newl")))
      // contract: rewrite edges through the pointers; self-loops vanish,
      // distinct collapses the duplicates contraction creates
      val lu = l.select(col("node").as("u"), col("newl").as("lu"))
      val lv = l.select(col("node").as("v"), col("newl").as("lv"))
      cur = Pins.checkpoint(cur
        .join(lu, Seq("u"), "left").join(lv, Seq("v"), "left")
        .select(coalesce(col("lu"), col("u")).as("a"),
          coalesce(col("lv"), col("v")).as("b"))
        .select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v")).distinct(), edgeCount, countActive)
      // compose pointers into the node mapping (nodes whose super-node is
      // already final — or isolated — keep their label)
      mapping = Pins.checkpoint(prevMapping
        .join(l.select(col("node").as("lbl"), col("newl")), Seq("lbl"), "left")
        .select(col("id"), coalesce(col("newl"), col("lbl")).as("lbl")))
      // every checkpoint above is EAGER, so the previous round's blocks —
      // and this round's pointer table — are dead now; drop them or a
      // long-lived session pins 3 RDDs per round per connected() call
      GraftSqlBridge.releaseLeaf(prevCur)
      GraftSqlBridge.releaseLeaf(prevMapping)
      GraftSqlBridge.releaseLeaf(l)
      rounds += 1
      // contraction earns its keep by collapsing clusters; <25 % shrink
      // means a high-diameter remnant. One slow round is NOT a phase
      // switch — the end-tail of a normal dedup graph shrinks slowly in
      // absolute terms (10 → 8 edges is "stalled" by ratio) and round 6
      // paid 2.26× on q58 for diverting it into the star machinery. Only
      // two CONSECUTIVE stalled rounds on a remnant still too large for
      // the local endgame reads as genuine high diameter.
      if (active * 4L > prevActive * 3L) slowRounds += 1 else slowRounds = 0
    }
    var starRounds = 0
    // edges still unresolved; null once consumed/released
    var remnant: DataFrame = cur
    if (active > localEdgeThreshold) {
      // genuinely large high-diameter remnant: star phase on the
      // contracted super-node graph. Each super-node label is the min of
      // its contracted set, so the component min among super-nodes IS the
      // component min among original nodes — composing star labels through
      // the mapping stays exact.
      val outcome = stars(remnant, active, maxRounds, localEdgeThreshold)
      starRounds = outcome.rounds
      GraftSqlBridge.releaseLeaf(remnant)
      outcome.labels match {
        case Some(starLbl) =>
          val prevMapping = mapping
          mapping = Pins.checkpoint(prevMapping
            .join(starLbl.select(col("node").as("lbl"), col("slbl")), Seq("lbl"), "left")
            .select(col("id"), coalesce(col("slbl"), col("lbl")).as("lbl")))
          GraftSqlBridge.releaseLeaf(prevMapping)
          GraftSqlBridge.releaseLeaf(starLbl)
          remnant = null
          active = 0
        case None =>
          // star rounds contracted the remnant under the threshold before
          // reaching their fixpoint — finish it locally like any other tail
          remnant = outcome.remnant
          active = outcome.remnantCount
      }
    }
    val localSolved = active > 0
    if (localSolved) {
      // endgame: ≤ localEdgeThreshold canonical edges — one driver-side
      // union-find pass (bounded: threshold × 16 bytes) replaces O(log n)
      // further rounds of fixed per-round job overhead
      val pairs = remnant.collect().map(r => (r.getLong(0), r.getLong(1)))
      GraftSqlBridge.releaseLeaf(remnant)
      remnant = null
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // min-rooted union ⇒ find() IS the component min among super-nodes
      val relabel = pairs.iterator.flatMap(p => Iterator(p._1, p._2))
        .toArray.distinct.flatMap { n =>
          val r = find(n); if (r != n) Some((n, r)) else None
        }
      val sess = mapping.sparkSession
      import sess.implicits._
      val localLbl = relabel.toSeq.toDF("lbl", "newl")
      val prevMapping = mapping
      mapping = Pins.checkpoint(prevMapping
        .join(broadcast(localLbl), Seq("lbl"), "left")
        .select(col("id"), coalesce(col("newl"), col("lbl")).as("lbl")))
      GraftSqlBridge.releaseLeaf(prevMapping)
    } else if (remnant != null) {
      GraftSqlBridge.releaseLeaf(remnant) // the final (empty) edge table
    }
    Result(mapping, rounds, starRounds, localSolved)
  }

  /** One large-star round: every node's strictly-larger neighbors are
    * re-hung off the minimum of its neighborhood (including itself).
    * Connectivity-preserving; never grows the canonical edge set. */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.select(col("u").as("x"), col("v").as("y"))
      .unionAll(e.select(col("v").as("x"), col("u").as("y")))
    val m = nbrs.groupBy("x").agg(min(col("y")).as("my"))
      .select(col("x"), least(col("x"), col("my")).as("m"))
    nbrs.join(m, Seq("x"))
      .filter(col("y") > col("x"))
      .select(least(col("y"), col("m")).as("u"),
        greatest(col("y"), col("m")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
  }

  /** One small-star round: every node and its strictly-smaller neighbors
    * are hung off the minimum of those smaller neighbors. Keyed by the
    * LARGER endpoint of each canonical edge, so no orientation union. */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy("v").agg(min(col("u")).as("m"))
    val toCenter = e.join(m, Seq("v"))
      .select(col("u").as("a"), col("m").as("b"))
    val selfEdge = m.select(col("v").as("a"), col("m").as("b"))
    toCenter.unionAll(selfEdge)
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
  }

  /** [[stars]] result: exactly one of `labels` (fixpoint reached — star
    * labels `(node, slbl)`) or `remnant` (edge set dropped to
    * ≤ threshold before the fixpoint — caller finishes it locally). */
  private final case class StarOutcome(
      labels: Option[DataFrame], remnant: DataFrame, remnantCount: Long,
      rounds: Int)

  /** Alternate large-star/small-star until the edge-set fixpoint (disjoint
    * min-centered stars) or until the set fits the local endgame
    * (≤ threshold edges), whichever first. At the fixpoint, labels are
    * read off the stars: every node's label = min(itself, neighbors).
    * `e0` (`e0Count` edges) is caller-owned (not released here);
    * intermediates are swept per round. */
  private def stars(e0: DataFrame, e0Count: Long, maxRounds: Int,
      threshold: Long): StarOutcome = {
    var e = e0
    var eCount = e0Count
    var r = 0
    var fixed = false
    while (!fixed && eCount > threshold && r < maxRounds)
    Graph.withoutAqeIf(e0.sparkSession, eCount <= Graph.IterAqeOffThreshold) {
      val prev = e
      var nextCount = 0L
      val next = Pins.checkpoint(smallStar(largeStar(prev)),
        Seq(count(lit(1))), row => nextCount = row.getLong(0))
      // both sides are distinct canonical sets: equal iff same cardinality
      // and the (next \ prev) difference is empty
      fixed = nextCount == eCount && next.exceptAll(prev).isEmpty
      if (!(prev eq e0)) GraftSqlBridge.releaseLeaf(prev)
      e = next
      eCount = nextCount
      r += 1
    }
    if (!fixed) {
      if (eCount <= threshold) return StarOutcome(None, e, eCount, r)
      if (!(e eq e0)) GraftSqlBridge.releaseLeaf(e)
      // unreachable for physical inputs: Two-Phase converges in O(log² n)
      // rounds, so 100 rounds covers any corpus that fits in a cluster —
      // this backstop guards an implementation bug, not a legal input
      throw new IllegalStateException(
        s"star contraction did not reach its fixpoint in $maxRounds rounds")
    }
    val lbl = Pins.checkpoint(
      e.select(col("u").as("node"), col("v").as("nbr"))
        .unionAll(e.select(col("v").as("node"), col("u").as("nbr")))
        .groupBy("node").agg(min(col("nbr")).as("mn"))
        .select(col("node"), least(col("node"), col("mn")).as("slbl")))
    if (!(e eq e0)) GraftSqlBridge.releaseLeaf(e)
    StarOutcome(Some(lbl), e0, eCount, r)
  }
}
