package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tier 39 (round 10, eleventh wave): EMBEDDING-SPACE MONITORING — the
  * distribution-level view of the hash-embed space (q112's 8-dim
  * integer-valued embeds): where each source LIVES, and which docs
  * don't live where they claim to.
  *
  *  - q162: SOURCE DRIFT MATRIX — pairwise squared-L2 distance between
  *    per-source embedding centroids: the "how far apart are my
  *    sources" table that drives mixing and domain-balance decisions,
  *    and (diffed across snapshots) the distribution-drift monitor.
  *  - q163: EMBEDDING OUTLIERS — the 20 docs farthest from their OWN
  *    source's centroid: mis-sourced/anomalous-content candidates (the
  *    embedding-space twin of q149's volume tripwire).
  *
  * Determinism: embed components are integer-valued doubles, so the
  * per-source sums are EXACT regardless of partial-agg order; the
  * centroid is one IEEE division and the distance one fixed expression
  * tree — bit-identical across engines (the q121 argument); round(,6)
  * only at the output boundary. Centroids are |sources|×8 scalars —
  * broadcast-side at any corpus size; both queries are one embed scan +
  * one partial+final fold + a broadcast join back.
  *
  * Reference mapping: none (SURVEY.md §2.1) — north-star monitoring ops.
  */
object TierThirtyNine {

  private val TopOut = 20

  private def centSql: String =
    s"""d AS (
       |  SELECT e.*, doc.source FROM e JOIN documents doc ON doc.doc_id = e.doc_id),
       |cent AS (
       |  SELECT source, ${(0 until 8).map(k => s"avg(e$k) AS c$k").mkString(", ")}
       |  FROM d GROUP BY 1)""".stripMargin

  private def embWithSource(s: org.apache.spark.sql.SparkSession,
      dir: String, pins: Pins): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val vocab = Cumulative.rowNumber(s,
      docs.select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "").select("token").distinct(),
      Seq(col("token")), "tid")
    pins(TierSixteen.hashEmbed(docs.select("doc_id", "text"), vocab)
      .select(col("doc_id") +: (0 until 8).map(k => col(s"e$k").cast("double")): _*)
      .join(docs.select("doc_id", "source"), "doc_id"))
  }

  private def centroids(d: DataFrame): DataFrame =
    d.groupBy(col("source"))
      .agg(avg(col("e0")).as("c0"),
        (1 until 8).map(k => avg(col(s"e$k")).as(s"c$k")): _*)

  val q162 = Q("q162_source_drift",
    s"""WITH ${TierNineteen.embSql},
       |$centSql
       |SELECT a.source AS source_a, b.source AS source_b,
       |       round(${(0 until 8).map(k => s"(a.c$k - b.c$k) * (a.c$k - b.c$k)").mkString(" + ")}, 6)
       |         AS dist
       |FROM cent a JOIN cent b ON a.source < b.source
       |ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
    val pins = new Pins
    val cent = centroids(embWithSource(s, dir, pins))
    val a = cent.select(col("source").as("source_a") +:
      (0 until 8).map(k => col(s"c$k").as(s"a$k")): _*)
    val b = cent.select(col("source").as("source_b") +:
      (0 until 8).map(k => col(s"c$k").as(s"b$k")): _*)
    val out = a.join(broadcast(b), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        round((0 until 8).map(k => (col(s"a$k") - col(s"b$k")) * (col(s"a$k") - col(s"b$k")))
          .reduce(_ + _), 6).as("dist"))
      .orderBy("source_a", "source_b")
    Release.onFirstExecution(out, () => pins.release())
  }

  val q163 = Q("q163_embed_outliers",
    s"""WITH ${TierNineteen.embSql},
       |$centSql
       |SELECT d.doc_id, d.source,
       |       round(${(0 until 8).map(k => s"(d.e$k - c.c$k) * (d.e$k - c.c$k)").mkString(" + ")}, 6)
       |         AS dist
       |FROM d JOIN cent c ON c.source = d.source
       |ORDER BY dist DESC, doc_id LIMIT $TopOut""".stripMargin) { (s, dir) =>
    val pins = new Pins
    val d = embWithSource(s, dir, pins)
    val cent = centroids(d)
      .select(col("source").as("cs") +: (0 until 8).map(k => col(s"c$k")): _*)
    val out = d.join(broadcast(cent), col("cs") === col("source"))
      .select(col("doc_id"), col("source"),
        round((0 until 8).map(k => (col(s"e$k") - col(s"c$k")) * (col(s"e$k") - col(s"c$k")))
          .reduce(_ + _), 6).as("dist"))
      .orderBy(col("dist").desc, col("doc_id"))
      .limit(TopOut)
    Release.onFirstExecution(out, () => pins.release())
  }

  val all: Seq[Q] = Seq(q162, q163)
}
