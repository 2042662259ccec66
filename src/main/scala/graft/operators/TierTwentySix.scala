package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tier 26 (round 8, nineteenth wave): the two graph primitives the
  * family still lacked — shortest-path (multi-source BFS) and WEIGHTED
  * propagation.
  *
  *  - q136: SEED DISTANCE — hop distance (≤ 4) from the vetted source
  *    seed set through the semantic near-dup graph: the crisp
  *    reachability measure behind q128's decayed trust (how far is this
  *    doc from anything we vetted?), and the BFS/Pregel frontier shape.
  *  - q137: WEIGHTED PageRank over the purchase graph — edge weight =
  *    purchase frequency (pure integer multiplicity, no float path), so
  *    a customer's rank mass splits proportionally to how often they
  *    buy from each supplier: the weighted-graph capability q125's
  *    uniform split cannot express.
  *
  * Round 10: both queries delegate their iteration skeletons to the
  * unified [[Graph]] engine (q136 → [[Graph.bfs]], q137 →
  * [[Graph.weightedPageRank]]) — closing the round-8/9 verdicts'
  * unreleased-persist debt: every frame either rides a [[Pins]]-threaded
  * release handle or the engine's per-round checkpoint-block release.
  *
  * Reference mapping: none (SURVEY.md §2.1) — north-star graph ops.
  */
object TierTwentySix {

  private val S = 1000000000000L
  private val MaxHops = 4
  private val Thr = 0.9

  /** One oracle-SQL BFS relaxation `d$i` → `d${i + 1}`: a node's new
    * distance is the min of its current one and every in-neighbor's + 1
    * (min-label BFS — monotone, so a fixed unroll of K rounds yields
    * exact distances ≤ K). */
  private def bfsIterSql(i: Int): String =
    s"""d${i + 1} AS (
       |  SELECT nid, CAST(min(d) AS BIGINT) AS d FROM (
       |    SELECT nid, d FROM d$i
       |    UNION ALL
       |    SELECT e.dst AS nid, p.d + 1 AS d
       |    FROM ed e JOIN d$i p ON p.nid = e.src)
       |  GROUP BY nid)""".stripMargin

  /** Multi-source BFS: hop distance from ANY `source = 'src0'` doc
    * through the symmetrized near-dup graph, exact up to
    * [[MaxHops]]; unreached docs report −1 (the "nothing vetted is
    * anywhere near this" flag a curator reviews first). Since round 12
    * the DECLARED edge source is the celled production pair path
    * ([[TierNineteen.celledEmbedPairsOf]]/[[TierNineteen.celledPairSql]]);
    * celled edges ⊆ anchor edges, so every celled hop count is ≥ the
    * anchor's for the same doc — the monotonicity law the spec pins.
    *
    * Round 10: the loop lives in the unified [[Graph.bfs]]
    * engine (frontier-driven — per round ONE dst-keyed shuffle over the
    * FRONTIER, strictly less work than the min-relaxation unroll this
    * replaced, which re-relaxed the whole reached set every round); this
    * wrapper symmetrizes the pair frame and maps the −1 periphery
    * projection. The pair detector is pinned HERE (the symmetrizing
    * union reads it twice) and rides the engine's `pins`, so the
    * returned [[Graph.Run]]'s handle drops it; single-shot auto-release
    * on the result (the [[Dedup.deduplicate]] contract). The oracle keeps the min-relaxation SQL — layered BFS
    * discovers every node via a shortest path first, so the two forms
    * are bit-identical at equal bound.
    */
  val q136 = Q("q136_seed_distance",
    s"""WITH ${TierNineteen.embSql},
       |${TierNineteen.celledPairSql(Thr)},
       |ed AS (SELECT doc_a AS src, doc_b AS dst FROM hits
       |       UNION ALL SELECT doc_b, doc_a FROM hits),
       |sd AS (SELECT doc_id, (source = 'src0') AS seed FROM documents),
       |d0 AS (SELECT doc_id AS nid, CAST(0 AS BIGINT) AS d FROM sd WHERE seed),
       |${(0 until MaxHops).map(bfsIterSql).mkString(",\n")}
       |SELECT sd.doc_id, CAST(coalesce(dd.d, -1) AS BIGINT) AS hops
       |FROM sd LEFT JOIN d$MaxHops dd ON dd.nid = sd.doc_id
       |ORDER BY sd.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    seedDistanceOver(docs,
      p => TierNineteen.celledEmbedPairsOf(docs.select("doc_id", "text"), Thr, pins = p))
  }

  /** q136's seeded BFS over an ARBITRARY pair source — the extracted
    * face the shared-build bench sweep drives with
    * [[TierNineteen.CelledArtifacts.pairs]](Thr); `pairSrc` receives the
    * face's own [[Pins]] (BenchFacesSpec pins face ≡ declared query). */
  private[graft] def seedDistanceOver(docs: DataFrame,
      pairSrc: Option[Pins] => DataFrame): DataFrame = {
    val pins = new Pins
    val hits = pins(pairSrc(Some(pins))
      .select("doc_a", "doc_b"))
    val ed = hits.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(hits.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val seeds = docs.filter(col("source") === "src0").select(col("doc_id").as("nid"))
    val bf = Graph.bfs(ed, seeds, maxHops = Some(MaxHops), pins = pins)
    Release.onFirstExecution(
      docs.select(col("doc_id"))
        .join(bf.out.select(col("nid").as("doc_id"), col("d")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("d"), lit(-1L)).as("hops"))
        .orderBy("doc_id"),
      bf.release)
  }

  private[graft] def q136Face(s: org.apache.spark.sql.SparkSession, dir: String,
      art: TierNineteen.CelledArtifacts): DataFrame =
    seedDistanceOver(Tables.load(s, dir, "documents"), _ => art.pairs(Thr))

  /** One oracle-SQL WEIGHTED PageRank iteration (q125's `iterSql` with
    * the uniform `r // deg` split replaced by the per-edge proportional
    * `(r * w) // W`). */
  private def wIterSql(i: Int): String = {
    val (prev, c, g, next) = (s"r$i", s"c${i + 1}", s"g${i + 1}", s"r${i + 1}")
    s"""$c AS (
       |  SELECT e.dst AS nid, CAST(sum(($prev.r * e.w) // wt.ww) AS BIGINT) AS c
       |  FROM e JOIN $prev ON $prev.nid = e.src
       |  JOIN wt ON wt.src = e.src GROUP BY 1),
       |$g AS (
       |  SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
       |  FROM $prev WHERE nid NOT IN (SELECT src FROM e)),
       |$next AS (
       |  SELECT n.nid,
       |         CAST((15 * $S // (100 * cnt))
       |              + (85 * (coalesce($c.c, 0) + ($g.dang // cnt))) // 100
       |            AS BIGINT) AS r
       |  FROM n CROSS JOIN nn CROSS JOIN $g
       |  LEFT JOIN $c ON $c.nid = n.nid)""".stripMargin
  }

  /** Frequency-weighted PageRank: the q125 graph WITHOUT the distinct —
    * each (customer, supplier) edge carries its purchase COUNT, and a
    * customer's rank splits `(r·w) // W` across suppliers (all-integer:
    * `r·w ≤ 10¹²·|lineitem|` needs the per-edge share computed as
    * product-then-floor — Int64-safe to ~9·10⁶ purchases on one edge at
    * full rank; past that swap in DECIMAL, ranking unchanged).
    *
    * Round 10: the loop lives in the unified [[Graph.weightedPageRank]]
    * engine (identical plan shape to q125 — the engine pins the
    * aggregated edge frame once, one dst shuffle + a broadcast dangling
    * scalar per round, per-round checkpoint truncation AND block
    * release; the weight table rides the edge frame — no extra join);
    * this wrapper only builds the purchase-count edges and takes the
    * engine's single-shot [[Graph.Run.once]] form.
    */
  val q137 = Q("q137_weighted_pagerank",
    s"""WITH e AS (
       |  SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst,
       |         CAST(count(*) AS BIGINT) AS w
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |  GROUP BY 1, 2),
       |wt AS (SELECT src, CAST(sum(w) AS BIGINT) AS ww FROM e GROUP BY 1),
       |n AS (SELECT src AS nid FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM n),
       |r0 AS (SELECT nid, CAST($S // cnt AS BIGINT) AS r FROM n CROSS JOIN nn),
       |${(0 until 3).map(wIterSql).mkString(",\n")}
       |SELECT nid, r AS rank_fp FROM r3 ORDER BY nid""".stripMargin) { (s, dir) =>
    val e = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(count(lit(1)).as("w"))
    Graph.weightedPageRank(e, iters = 3).once
  }

  val all: Seq[Q] = Seq(q136, q137)
}
