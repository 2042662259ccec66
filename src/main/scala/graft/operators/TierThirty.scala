package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tier 30 (round 10, second wave): semantic-distance closers on the
  * near-dup graph — cost-weighted reachability and the highest-precision
  * mutual pairing.
  *
  *  - q144: SEMANTIC DRIFT DISTANCE — minimum ACCUMULATED DISSIMILARITY
  *    from the vetted seed set through the near-dup graph (edge cost =
  *    `10⁶ − ⌊cos·10⁶⌋` ppm): q136 counts hops, this prices them — two
  *    hops through near-identical docs cost less than one hop through a
  *    borderline pair, the trust-decay metric a curator actually wants.
  *    The [[Graph.sssp]] Bellman-Ford shape: reached nodes can still
  *    improve, so BFS's grow-only frontier doesn't apply.
  *  - q145: RECIPROCAL NEAREST NEIGHBORS — doc pairs that are each
  *    other's top-1 cosine neighbor: the classic highest-precision
  *    near-dup/entity-match candidate set (mutual-kNN), stricter than
  *    any threshold cut because BOTH sides must agree.
  *
  * Reference mapping: none (SURVEY.md §2.1) — north-star graph ops.
  */
object TierThirty {

  private val Thr = 0.9
  private val SpRounds = 10

  /** Edge cost in ppm: `10⁶ − ⌊c·10⁶⌋` — exact on both engines because
    * the hash-embed dot products are integer-valued doubles, so c and the
    * product `c·10⁶` are bit-identical IEEE results (the q121 argument),
    * and floor is exact. */
  private val costSql = "CAST(1000000 - floor(c * 1000000) AS BIGINT)"

  /** One oracle-SQL Bellman-Ford relaxation (MATERIALIZED — each round
    * reads its predecessor twice; see q143 on DuckDB's exponential CTE
    * inlining). */
  private def relaxSql(i: Int): String =
    s"""d${i + 1} AS MATERIALIZED (
       |  SELECT nid, CAST(min(d) AS BIGINT) AS d FROM (
       |    SELECT nid, d FROM d$i
       |    UNION ALL
       |    SELECT e.dst AS nid, p.d + e.w AS d
       |    FROM ed e JOIN d$i p ON p.nid = e.src)
       |  GROUP BY nid)""".stripMargin

  /** Minimum accumulated dissimilarity (ppm) from any `source = 'src0'`
    * doc through the symmetrized q121 near-dup graph; −1 beyond reach.
    * Engine loop = [[Graph.sssp]] (fixpoint-stopped, round cap
    * [[SpRounds]] shared with the oracle unroll — TierThirtySpec proves
    * the fixture converges inside it).
    */
  val q144 = Q("q144_drift_distance",
    s"""WITH ${TierNineteen.embSql},
       |${TierNineteen.celledPairSql(Thr)},
       |ed AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst, $costSql AS w FROM hits
       |  UNION ALL
       |  SELECT doc_b, doc_a, $costSql FROM hits),
       |sd AS (SELECT doc_id, (source = 'src0') AS seed FROM documents),
       |d0 AS MATERIALIZED (
       |  SELECT doc_id AS nid, CAST(0 AS BIGINT) AS d FROM sd WHERE seed),
       |${(0 until SpRounds).map(relaxSql).mkString(",\n")}
       |SELECT sd.doc_id, CAST(coalesce(dd.d, -1) AS BIGINT) AS drift_ppm
       |FROM sd LEFT JOIN d$SpRounds dd ON dd.nid = sd.doc_id
       |ORDER BY sd.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    driftDistanceOver(docs,
      p => TierNineteen.celledEmbedPairsOf(docs.select("doc_id", "text"), Thr, pins = p))
  }

  /** q144's weighted SSSP over an ARBITRARY pair source `(doc_a, doc_b,
    * c)` — the extracted face the shared-build bench sweep drives with
    * [[TierNineteen.CelledArtifacts.pairs]](Thr); `pairSrc` receives the
    * face's own [[Pins]] (BenchFacesSpec pins face ≡ declared query). */
  private[graft] def driftDistanceOver(docs: DataFrame,
      pairSrc: Option[Pins] => DataFrame): DataFrame = {
    val pins = new Pins
    val hits = pins(pairSrc(Some(pins))
      .withColumn("w", expr(costSql)).select("doc_a", "doc_b", "w"))
    val ed = hits.select(col("doc_a").as("src"), col("doc_b").as("dst"), col("w"))
      .union(hits.select(col("doc_b").as("src"), col("doc_a").as("dst"), col("w")))
    val seeds = docs.filter(col("source") === "src0").select(col("doc_id").as("nid"))
    val sp = Graph.sssp(ed, seeds, maxRounds = SpRounds, pins = pins)
    Release.onFirstExecution(
      docs.select(col("doc_id"))
        .join(sp.out.select(col("nid").as("doc_id"), col("d")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("d"), lit(-1L)).as("drift_ppm"))
        .orderBy("doc_id"),
      sp.release)
  }

  private[graft] def q144Face(s: org.apache.spark.sql.SparkSession, dir: String,
      art: TierNineteen.CelledArtifacts): DataFrame =
    driftDistanceOver(Tables.load(s, dir, "documents"), _ => art.pairs(Thr))

  /** Reciprocal nearest neighbors over the hash embeds: each doc's top-1
    * cosine neighbor WITHIN its probed Lloyd cells
    * ([[TierNineteen.celledNnOf]] — the celled kNN join its round-10
    * docstring named as the scale path, now the declared plan per the r10
    * VERDICT re-sourcing), ranked by 6-dp-rounded cosine with nb ASC
    * tie-break, kept only when MUTUAL; `(doc_a, doc_b, cos)` with
    * doc_a < doc_b. Mutuality is one self-join on the |V|-row (doc, nn)
    * frame. Recall vs the all-pairs brute-force mutual set is measured
    * and floored in TierThirtySpec (the celledEmbedPairs convention).
    */
  val q145 = Q("q145_mutual_nn",
    s"""WITH ${TierNineteen.embSql},
       |${TierNineteen.celledNnSql}
       |SELECT x.doc_id AS doc_a, x.nb AS doc_b, x.c AS cos
       |FROM nn x JOIN nn y ON y.doc_id = x.nb AND y.nb = x.doc_id
       |WHERE x.doc_id < x.nb
       |ORDER BY doc_a""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    mutualNnOver(p => TierNineteen.celledNnOf(docs.select("doc_id", "text"), pins = p))
  }

  /** q145's mutuality self-join over an ARBITRARY `(vec_id, nn_id, cos)`
    * top-1 frame — the extracted face the shared-build bench sweep
    * drives with [[TierNineteen.CelledArtifacts.nn]] (BenchFacesSpec
    * pins face ≡ declared query). */
  private[graft] def mutualNnOver(
      nnSrc: Option[Pins] => DataFrame): DataFrame = {
    val pins = new Pins
    val nn = pins(nnSrc(Some(pins)))
    val out = nn.as("x").join(nn.as("y"),
        col("y.vec_id") === col("x.nn_id") && col("y.nn_id") === col("x.vec_id"))
      .filter(col("x.vec_id") < col("x.nn_id"))
      .select(col("x.vec_id").as("doc_a"), col("x.nn_id").as("doc_b"),
        col("x.cos").as("cos"))
      .orderBy("doc_a")
    Release.onFirstExecution(out, () => pins.release())
  }

  private[graft] def q145Face(s: org.apache.spark.sql.SparkSession, dir: String,
      art: TierNineteen.CelledArtifacts): DataFrame =
    mutualNnOver(_ => art.nn())

  val all: Seq[Q] = Seq(q144, q145)
}
