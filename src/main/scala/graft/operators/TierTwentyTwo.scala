package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tier 22 (round 8, eleventh wave): trust propagation and memorization
  * risk — the two curation diagnostics that read the GRAPH structure of
  * the corpus rather than per-doc features.
  *
  *  - q128: TrustRank-style seeded trust propagation (Gyöngyi et al.,
  *    VLDB 2004) over the semantic near-dup graph — trust flows from a
  *    vetted source list through similarity edges, the host/page-trust
  *    half of web-corpus curation (q125's personalized-teleport sibling).
  *  - q129: per-doc MEMORIZATION-RISK ratio — the share of a document's
  *    5-gram instances that also occur in some OTHER doc (Lee et al. 2022's
  *    dedup diagnostics as a per-doc scalar): the post-dedup report that
  *    says how much verbatim-repeated text each survivor still carries.
  *
  * Reference mapping: none (SURVEY.md §2.1) — north-star LLM-pipeline ops.
  */
object TierTwentyTwo {

  /** Fixed-point scale shared with q125. */
  private val S = 1000000000000L
  private val TrustIters = 2
  private val Thr = 0.9

  /** One oracle-SQL trust iteration `t$i` → `t${i + 1}`: inflow via
    * `t // deg` summed into edge destinations, dangling mass (trust held
    * by nodes with no out-edge) redistributed over the SEED set — the
    * personalized-teleport difference from q125's uniform redistribution. */
  private def trustIterSql(i: Int): String = {
    val (prev, c, g, next) = (s"t$i", s"tc${i + 1}", s"tg${i + 1}", s"t${i + 1}")
    s"""$c AS (
       |  SELECT ed.dst AS nid, CAST(sum($prev.t // deg.d) AS BIGINT) AS c
       |  FROM ed JOIN $prev ON $prev.nid = ed.src
       |  JOIN deg ON deg.src = ed.src GROUP BY 1),
       |$g AS (
       |  SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS dang
       |  FROM $prev WHERE nid NOT IN (SELECT src FROM ed)),
       |$next AS (
       |  SELECT p.nid,
       |         CAST(CASE WHEN p.seed
       |                   THEN 15 * $S // (100 * nseed) + (85 * ($g.dang // nseed)) // 100
       |                   ELSE 0 END
       |              + (85 * coalesce($c.c, 0)) // 100 AS BIGINT) AS t,
       |         p.seed
       |  FROM t0 p CROSS JOIN ns CROSS JOIN $g
       |  LEFT JOIN $c ON $c.nid = p.nid)""".stripMargin
  }

  /** Seeded trust propagation over the SYMMETRIZED semantic near-dup
    * graph (q121's hash-embed pairs at cos ≥ 0.9): seeds are the vetted
    * source list (`source = 'src0'` — TrustRank's premise is a manually
    * audited seed set), teleport and dangling mass go ONLY to seeds, and
    * two damped iterations spread trust outward through similarity edges.
    * A doc two hops from every seed scores 0 — the untrusted-periphery
    * signal a mix planner down-weights. Same integer fixed-point
    * discipline as q125 (floor division both engines, bit-identical).
    *
    * Scale: since round 12 the DECLARED edge source is the celled
    * production path ([[TierNineteen.celledEmbedPairs]] — [[trustOver]]
    * was parameterized for exactly this swap); everything
    * downstream is edge-keyed aggregates. Per iteration: ONE shuffle (the
    * inflow groupBy on dst) + a 1-row broadcast dangling scalar; the
    * static seed flag and node set build once; per-round lineage
    * truncation via the [[Components]] checkpoint discipline.
    */
  val q128 = Q("q128_trust_rank",
    s"""WITH ${TierNineteen.embSql},
       |${TierNineteen.celledPairSql(Thr)},
       |ed AS (SELECT doc_a AS src, doc_b AS dst FROM hits
       |       UNION ALL SELECT doc_b, doc_a FROM hits),
       |sd AS (SELECT doc_id, (source = 'src0') AS seed FROM documents),
       |ns AS (SELECT CAST(count(*) AS BIGINT) AS nseed FROM sd WHERE seed),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM ed GROUP BY 1),
       |t0 AS (SELECT sd.doc_id AS nid,
       |              CAST(CASE WHEN sd.seed THEN $S // nseed ELSE 0 END AS BIGINT) AS t,
       |              sd.seed
       |       FROM sd CROSS JOIN ns),
       |${(0 until TrustIters).map(trustIterSql).mkString(",\n")}
       |SELECT nid AS doc_id, t AS trust_fp FROM t$TrustIters ORDER BY doc_id""".stripMargin) {
    (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    trustOver(docs, TierNineteen.celledEmbedPairsOf(docs.select("doc_id", "text"), Thr))
  }

  /** q128 through a PREBUILT celled quantizer — the shared-build bench
    * face ([[trustOver]] was parameterized for exactly this swap;
    * BenchFacesSpec pins face ≡ declared query bit for bit). */
  private[graft] def q128Face(s: org.apache.spark.sql.SparkSession, dir: String,
      art: TierNineteen.CelledArtifacts): org.apache.spark.sql.DataFrame =
    trustOver(Tables.load(s, dir, "documents"), art.pairs(Thr))

  /** q128's propagation engine over an ARBITRARY undirected pair frame
    * `(doc_a, doc_b)` — parameterized by the edge source so the celled
    * scale path ([[TierNineteen.celledEmbedPairs]]) drops in unchanged.
    * Since celled edges ⊆ anchor edges (same-verifier construction), the
    * celled run's trust-reached set is a SUBSET of the anchor's — the
    * monotonicity law TierTwentyTwoSpec pins. `docs` carries
    * (doc_id, source). */
  private[graft] def trustOver(docs: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // round 9: the iteration skeleton lives in the unified [[Graph]] engine
    // (seeded teleport, [[TrustIters]] rounds); this wrapper symmetrizes
    // the pair frame and maps the doc schema. The pair detector is pinned
    // HERE (the symmetrizing union reads it twice) and rides the engine's
    // `pins`, so the returned [[Graph.Run]]'s handle drops it; single-shot
    // auto-release on the result (the [[Dedup.deduplicate]] contract).
    val pins = new Pins
    val hits = pins(pairs.select("doc_a", "doc_b"))
    val ed = hits.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(hits.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val nodes = docs.select(col("doc_id").as("nid"),
      (col("source") === "src0").as("tele"))
    val rk = Graph.trust(nodes, ed, iters = TrustIters, pins = pins)
    Release.onFirstExecution(
      rk.out.select(col("nid").as("doc_id"), col("rank_fp").as("trust_fp")),
      rk.release)
  }

  /** Per-doc memorization-risk ratio: of the document's overlapping
    * 5-gram INSTANCES, the integer-ppm share whose 5-gram also occurs in
    * at least one OTHER document. The per-survivor diagnostic behind
    * exact-substring dedup (Lee et al. 2022): q89/q101 find and strip the
    * repeated spans; this scores what a dedup pass left behind, per doc.
    * Docs under 5 tokens carry no 5-gram and are absent (q63's guard).
    *
    * Scale: shingle doc-frequency is distinct + count (both partial+final
    * on the shingle key); the instances⋈frequency join shuffles on the
    * shingle — at corpus scale the frequency side is vocabulary-sized, so
    * the join stays a shuffled hash join under AQE (never a broadcast of
    * a 10⁹-row table, never a driver read). The per-doc fold is one
    * doc_id shuffle. Hot shingles (boilerplate) skew the join key — the
    * AQE skew-join split handles the fan-in because the frequency side is
    * one row per shingle.
    */
  val q129 = Q("q129_memorization_risk",
    """WITH tl AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_transform(range(len(l) - 4),
      |    k -> l[k+1] || ' ' || l[k+2] || ' ' || l[k+3] || ' ' || l[k+4] || ' ' || l[k+5])) AS t
      |  FROM tl WHERE len(l) >= 5),
      |df AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS nd
      |  FROM (SELECT DISTINCT doc_id, t FROM sh) GROUP BY 1)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_shingles,
      |       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
      |         AS risk_ppm
      |FROM sh JOIN df USING (t)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val sh = Tables.load(s, dir, "documents")
      .select(col("doc_id"), filter(split(col("text"), " "), x => x =!= "").as("l"))
      .filter(size(col("l")) >= 5)
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(0, size(l) - 5), k -> concat_ws(' ', slice(l, k + 1, 5)))"))
          .as("t"))
      .persist() // instance stream feeds both the frequency agg and the join
    val freq = sh.select("doc_id", "t").distinct()
      .groupBy("t").agg(count(lit(1)).as("nd"))
    sh.join(freq, "t")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        expr("n_dup * 1000000 div n_shingles").as("risk_ppm"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(q128, q129)
}
