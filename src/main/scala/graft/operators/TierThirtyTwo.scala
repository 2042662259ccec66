package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tier 32 (round 10, fourth wave): community structure and volume
  * anomalies — the monitoring closers.
  *
  *  - q148: SEMANTIC COMMUNITIES — synchronous label propagation
  *    ([[Graph.lpa]]) over the symmetrized q121 near-dup graph: the
  *    local-agreement community detector that, unlike [[Components]]'
  *    min-label flooding, respects edge DENSITY (a chain of borderline
  *    pairs doesn't absorb two dense clusters into one community).
  *  - q149: VOLUME ANOMALY — per-event-type days whose event count
  *    deviates ≥ 2 population σ from that type's daily mean, tested
  *    ENTIRELY in integers: (n·x − S)² > k²·(n·SS − S²) ⇔ z² > k²
  *    (S = Σx, SS = Σx², n = #days) — the ingest-monitoring tripwire
  *    ("did a source silently double or die?") with zero float drift.
  *
  * Reference mapping: none (SURVEY.md §2.1) — north-star monitoring ops.
  */
object TierThirtyTwo {

  private val Thr = 0.9
  private val LpaRounds = 5
  private val K = 2 // flag beyond k population standard deviations

  /** One oracle-SQL LPA round (MATERIALIZED — each round reads its
    * predecessor twice; the q143 DuckDB-inlining rule). Mode arg-max =
    * `row_number() OVER (ORDER BY c DESC, label ASC)` ≡ the engine's
    * `max(struct(c, −label))`. */
  private def lpaSql(i: Int): String =
    s"""l${i + 1} AS MATERIALIZED (
       |  SELECT p.nid, coalesce(m.ml, p.label) AS label
       |  FROM l$i p LEFT JOIN (
       |    SELECT nid, label AS ml FROM (
       |      SELECT e.dst AS nid, l.label, count(*) AS c,
       |             row_number() OVER (PARTITION BY e.dst
       |                                ORDER BY count(*) DESC, l.label ASC) AS rk
       |      FROM ed e JOIN l$i l ON l.nid = e.src
       |      GROUP BY e.dst, l.label) WHERE rk = 1) m
       |  ON m.nid = p.nid)""".stripMargin

  /** Community label per near-dup-graph doc after [[LpaRounds]] synchronous
    * rounds (engine stops early only on a no-op round — bit-identical to
    * the oracle's fixed unroll). */
  val q148 = Q("q148_lpa_communities",
    s"""WITH ${TierNineteen.embSql},
       |${TierNineteen.celledPairSql(Thr)},
       |ed AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM hits
       |  UNION ALL SELECT doc_b, doc_a FROM hits),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS nid, src AS label FROM ed),
       |${(0 until LpaRounds).map(lpaSql).mkString(",\n")}
       |SELECT nid AS doc_id, CAST(label AS BIGINT) AS community
       |FROM l$LpaRounds ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    lpaCommunitiesOver(p => TierNineteen.celledEmbedPairsOf(
      docs.select("doc_id", "text"), Thr, pins = p))
  }

  /** q148's LPA loop over an ARBITRARY pair source — the extracted face
    * the shared-build bench sweep drives with
    * [[TierNineteen.CelledArtifacts.pairs]](Thr); `pairSrc` receives the
    * face's own [[Pins]] (BenchFacesSpec pins face ≡ declared query). */
  private[graft] def lpaCommunitiesOver(
      pairSrc: Option[Pins] => DataFrame): DataFrame = {
    val pins = new Pins
    val hits = pins(pairSrc(Some(pins))
      .select("doc_a", "doc_b"))
    val ed = hits.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(hits.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val l = Graph.lpa(ed, maxRounds = LpaRounds, pins = pins)
    Release.onFirstExecution(
      l.out.select(col("nid").as("doc_id"), col("label").as("community"))
        .orderBy("doc_id"),
      l.release)
  }

  private[graft] def q148Face(s: org.apache.spark.sql.SparkSession, dir: String,
      art: TierNineteen.CelledArtifacts): DataFrame =
    lpaCommunitiesOver(_ => art.pairs(Thr))

  /** Flagged (event_type, day) volume outliers. Int64 envelope: the test
    * multiplies day counts three deep (n·SS ≈ n·days·cnt²) — safe to
    * ~10⁸ events per type-day at a 30-day window; past that swap the
    * three products to DECIMAL(38,0) (the q137/BM25 dispatch precedent),
    * flags unchanged. All partial+final: one (type, day) count, one
    * per-type 3-scalar fold, one broadcast-size join back.
    */
  val q149 = Q("q149_volume_anomaly",
    s"""WITH dc AS (
       |  SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |st AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |         sum(cnt) AS s, sum(cnt * cnt) AS ss
       |  FROM dc GROUP BY 1)
       |SELECT dc.event_type, dc.day_idx, dc.cnt
       |FROM dc JOIN st ON st.event_type = dc.event_type
       |WHERE (n * cnt - s) * (n * cnt - s) > $K * $K * (n * ss - s * s)
       |ORDER BY dc.event_type, dc.day_idx""".stripMargin) { (s, dir) =>
    val dc = dailyCounts(Tables.load(s, dir, "events"))
    flagged(dc, statsOf(dc)).orderBy("event_type", "day_idx")
  }

  /** `(event_type, day_idx, cnt)` — the per-type-day volume grid. The
    * same groupBy maintains the grid FROM A STREAM in complete mode
    * (s37: streamed grid + frozen stats through [[flagged]] ≡ this
    * batch query). */
  private[graft] def dailyCounts(events: org.apache.spark.sql.DataFrame) =
    events.groupBy(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("day_idx"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-type `(n, S, SS)` scalars — the FROZEN reference statistics a
    * live tripwire screens against. */
  private[graft] def statsOf(dc: org.apache.spark.sql.DataFrame) =
    dc.groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("n"), sum("cnt").as("s"),
        sum(col("cnt") * col("cnt")).as("ss"))

  /** THE anomaly predicate — one definition for batch q149 and the s37
    * stream (they must never drift). */
  private[graft] def flagged(dc: org.apache.spark.sql.DataFrame,
      st: org.apache.spark.sql.DataFrame) =
    dc.join(st, col("event_type") === col("et"))
      .filter((col("n") * col("cnt") - col("s")) * (col("n") * col("cnt") - col("s"))
        > lit(K.toLong * K) * (col("n") * col("ss") - col("s") * col("s")))
      .select(col("event_type"), col("day_idx"), col("cnt"))

  val all: Seq[Q] = Seq(q148, q149)
}
