package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tier 29 (round 10): two structural graph diagnostics on the unified
  * [[Graph]] engine's two NEW fixed-point shapes.
  *
  *  - q142: HITS hubs & authorities (Kleinberg, JACM'99) over the
  *    purchase graph — the ALTERNATING fixed point PageRank's damped
  *    skeleton can't express: hub mass flows forward, authority mass
  *    flows backward, each side L1-normalized per round. On the
  *    bipartite customer→supplier graph the sides separate exactly
  *    (customers: pure hubs; suppliers: pure authorities) — the
  *    direction-sensitivity check for link-graph curation.
  *  - q143: 2-CORE of the semantic near-dup graph (Seidman 1983, by
  *    iterative peeling) — the cyclically-connected heart of each dup
  *    cluster once chains and pendant pairs peel away: the "dense
  *    duplicate core" a curator triages before the stragglers.
  *
  * Reference mapping: none (SURVEY.md §2.1) — north-star graph ops.
  */
object TierTwentyNine {

  private val HitsIters = 2
  private val Thr = 0.9
  private val CoreK = 2
  private val PeelRounds = 10

  /** One oracle-SQL HITS round `h$i`/`a$i` → `h${i+1}`/`a${i+1}`:
    * authorities sum in-neighbor hubs, hubs sum out-neighbor authorities,
    * each L1-normalized to [[Graph.SH]] by integer floor division (the same
    * `greatest(Σ, 1)` guard the engine plants). */
  private def hitsIterSql(i: Int): String = {
    val (hp, ar, at, a, hr, ht, h) =
      (s"h$i", s"ar${i + 1}", s"at${i + 1}", s"a${i + 1}",
        s"hr${i + 1}", s"ht${i + 1}", s"h${i + 1}")
    s"""$ar AS (
       |  SELECT e.dst AS nid, CAST(sum($hp.v) AS BIGINT) AS v
       |  FROM e JOIN $hp ON $hp.nid = e.src GROUP BY 1),
       |$at AS (SELECT CAST(coalesce(sum(v), 0) AS BIGINT) AS tot FROM $ar),
       |$a AS (
       |  SELECT nid, CAST((v * ${Graph.SH}) // greatest(tot, 1) AS BIGINT) AS v
       |  FROM $ar CROSS JOIN $at),
       |$hr AS (
       |  SELECT e.src AS nid, CAST(sum($a.v) AS BIGINT) AS v
       |  FROM e JOIN $a ON $a.nid = e.dst GROUP BY 1),
       |$ht AS (SELECT CAST(coalesce(sum(v), 0) AS BIGINT) AS tot FROM $hr),
       |$h AS (
       |  SELECT nid, CAST((v * ${Graph.SH}) // greatest(tot, 1) AS BIGINT) AS v
       |  FROM $hr CROSS JOIN $ht)""".stripMargin
  }

  /** HITS over the distinct customer→supplier purchase graph (q125's
    * edge set): `(nid, hub_fp, auth_fp)` at scale [[Graph.SH]], zero for the
    * side a node doesn't play. The engine loop is [[Graph.hits]] —
    * see its scaladoc for the per-round plan shape.
    */
  val q142 = Q("q142_hits",
    s"""WITH e AS (
       |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |n AS (SELECT src AS nid FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM n),
       |h0 AS (SELECT nid, CAST(${Graph.SH} // cnt AS BIGINT) AS v FROM n CROSS JOIN nn),
       |${(0 until HitsIters).map(hitsIterSql).mkString(",\n")}
       |SELECT n.nid, CAST(coalesce(hh.v, 0) AS BIGINT) AS hub_fp,
       |       CAST(coalesce(aa.v, 0) AS BIGINT) AS auth_fp
       |FROM n LEFT JOIN h$HitsIters hh ON hh.nid = n.nid
       |       LEFT JOIN a$HitsIters aa ON aa.nid = n.nid
       |ORDER BY n.nid""".stripMargin) { (s, dir) =>
    val e = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    Graph.hits(e, iters = HitsIters).once
  }

  /** One oracle-SQL peel round: keep the alive nodes whose degree within
    * the alive subgraph is ≥ [[CoreK]]. MATERIALIZED is load-bearing:
    * each round reads `a$i` twice, so DuckDB's default CTE inlining would
    * expand the unroll 2^[[PeelRounds]]-fold (and re-open the documents
    * parquet once per expansion — "too many open files" long before it's
    * slow). */
  private def peelSql(i: Int): String =
    s"""a${i + 1} AS MATERIALIZED (
       |  SELECT e.src AS nid FROM ed e
       |  JOIN a$i p ON p.nid = e.src
       |  JOIN a$i q ON q.nid = e.dst
       |  GROUP BY 1 HAVING count(*) >= $CoreK)""".stripMargin

  /** 2-core membership of the symmetrized q121 near-dup graph: docs that
    * survive [[PeelRounds]] degree-< 2 peels (the engine stops at the
    * fixpoint — the shared round cap makes the fixed SQL unroll
    * bit-identical even if a corpus hasn't converged by then;
    * TierTwentyNineSpec proves the fixture converges well inside it).
    * The engine loop is [[Graph.kcore]].
    */
  val q143 = Q("q143_dup_core",
    s"""WITH ${TierNineteen.embSql},
       |${TierNineteen.celledPairSql(Thr)},
       |ed AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM hits
       |       UNION ALL SELECT doc_b, doc_a FROM hits),
       |a0 AS MATERIALIZED (SELECT src AS nid FROM ed UNION SELECT dst FROM ed),
       |${(0 until PeelRounds).map(peelSql).mkString(",\n")}
       |SELECT nid AS doc_id FROM a$PeelRounds ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    dupCoreOver(p => TierNineteen.celledEmbedPairsOf(docs.select("doc_id", "text"),
      Thr, pins = p))
  }

  /** q143's k-core peel over an ARBITRARY pair source — the extracted
    * face the shared-build bench sweep drives with
    * [[TierNineteen.CelledArtifacts.pairs]](Thr); `pairSrc` receives the
    * face's own [[Pins]] (BenchFacesSpec pins face ≡ declared query). */
  private[graft] def dupCoreOver(
      pairSrc: Option[Pins] => DataFrame): DataFrame = {
    val pins = new Pins
    val hits = pins(pairSrc(Some(pins))
      .select("doc_a", "doc_b"))
    val ed = hits.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(hits.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val core = Graph.kcore(ed, k = CoreK, maxRounds = PeelRounds, pins = pins)
    Release.onFirstExecution(
      core.out.select(col("nid").as("doc_id")).orderBy("doc_id"),
      core.release)
  }

  private[graft] def q143Face(s: org.apache.spark.sql.SparkSession, dir: String,
      art: TierNineteen.CelledArtifacts): DataFrame =
    dupCoreOver(_ => art.pairs(Thr))

  val all: Seq[Q] = Seq(q142, q143)
}
