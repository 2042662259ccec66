package graft.streaming

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.io.{BufferedWriter, File, FileWriter}

/** The reference job end-to-end (`/root/reference` Main.java:40-177): all
  * four pipelines running CONCURRENTLY off one parsed tweet stream, each
  * writing its own InfluxDB measurement — re-expressed as four Structured
  * Streaming queries over shared transforms. Measurement names are the
  * reference's (Main.java:227,241,256,271).
  *
  * | pipeline | reference | here |
  * |---|---|---|
  * | A two-stage trending | Main.java:85-102 | chained stateful window aggs (append) → per-batch arg-max → `TrendingHashTagFlink2` |
  * | B single-stage trending | Main.java:104-146 | windowed counts (complete, mirroring the repeated full-window firing of T1) → arg-max → `TrendingHashTagFlink1` |
  * | C running total | Main.java:148-157 | global agg (update), event-time stamp — FIXES the acknowledged wall-clock bug (Main.java:260) → `TotalTweetCountFlink` |
  * | D per-second counts | Main.java:159-175 | 1 s tumbling append → `TweetPerSecondCountFlink` |
  *
  * Sinks are file-backed line protocol (one file per measurement ×
  * non-empty partition × epoch — idempotent under epoch retry, since a
  * re-executed epoch rewrites the same files); swapping the file
  * writer for an HTTP batch poster is the only production delta
  * (InfluxDBSink.java:64-82).
  */
object TwitterJob {

  final case class Config(
      influxDir: String,
      watermarkDelay: String = "300 seconds", // Main.java:66
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"), // Main.java:88 (T1)
      namePrefix: String = "twitter",
      // The reference SHIPPED with checkpointing commented out
      // (Main.java:50-55) — a deliberate capability upgrade, not a port:
      // when set, each pipeline checkpoints offsets + state under
      // `<dir>/<queryName>` and a restarted job resumes from its last
      // committed epoch instead of reprocessing (CheckpointSpec pins this).
      checkpointDir: Option[String] = None)

  /** Write a (measurement, time_ms, fields) frame as line-protocol files,
    * one `part-<partition>-<epoch>.lp` per non-empty partition — the one
    * file sink all four pipelines write through under `foreachBatch`.
    */
  def writeLines(points: DataFrame, dir: String, epochId: Long): Unit =
    points.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        new File(dir).mkdirs()
        val out = new BufferedWriter(new FileWriter(
          new File(dir, s"part-${TaskContext.getPartitionId()}-$epochId.lp")))
        try rows.foreach { row => out.write(InfluxLine.ofRow(row)); out.newLine() }
        finally out.close()
      }
    }

  /** Start all four pipelines; returns the running queries (caller awaits /
    * stops). `raw` must have a `value STRING` column (Kafka value or
    * MemoryStream). */
  def start(spark: SparkSession, raw: DataFrame, cfg: Config): Seq[StreamingQuery] = {
    import TweetPipelines._
    val tweets = withLateness(parse(raw), cfg.watermarkDelay)
    val tags = hashtags(tweets)
    // per-query checkpoint root (offsets + state store + commit log):
    // queries must not share a checkpoint dir, and the subdir carries the
    // FULL query name (incl. namePrefix) so two jobs with different
    // prefixes can share one checkpointDir without colliding. (Naming was
    // fixed pre-release — no deployed checkpoints exist under the old
    // unprefixed subdirs; a renamed prefix intentionally starts fresh.)
    def cp[T](w: org.apache.spark.sql.streaming.DataStreamWriter[T],
        name: String): org.apache.spark.sql.streaming.DataStreamWriter[T] =
      cfg.checkpointDir.fold(w)(d =>
        w.option("checkpointLocation", s"$d/${cfg.namePrefix}-$name"))

    // one sink path: each pipeline projects its micro-batch to
    // (measurement, time_ms, fields) rows and writes them as line files
    def sink(measurement: String)(points: DataFrame => DataFrame) =
      (batch: DataFrame, epochId: Long) =>
        writeLines(points(batch), s"${cfg.influxDir}/$measurement", epochId)
    // A and B: the arg-max hashtag per window end
    def trending(measurement: String) = sink(measurement) { batch =>
      toInfluxPoint(trendingPerWindow(batch), measurement,
        unix_millis(col("window_end")),
        Map("hashtag" -> col("hashtag"), "count" -> col("cnt")))
    }

    // A — two-stage: finalized 30 s windows arrive append-mode; arg-max per
    // window inside the batch is complete by construction.
    val a = cp(twoStageCounts(tags, "5 seconds", "30 seconds")
      .select(col("window"), col("hashtag"), col("cnt"))
      .writeStream.queryName(s"${cfg.namePrefix}-a-trending2")
      .outputMode("append").trigger(cfg.trigger)
      .foreachBatch(trending("TrendingHashTagFlink2")), "a-trending2").start()

    // B — single-stage: complete-mode counts = Flink's repeated
    // non-purging window firing; arg-max over the full state each batch.
    val b = cp(keyedWindowCounts(hashtags(parse(raw)), "30 seconds", "5 seconds")
      .writeStream.queryName(s"${cfg.namePrefix}-b-trending1")
      .outputMode("complete").trigger(cfg.trigger)
      .foreachBatch(trending("TrendingHashTagFlink1")), "b-trending1").start()

    // C — running total, stamped with max event time seen (not wall clock).
    val c = cp(runningTotal(parse(raw))
      .writeStream.queryName(s"${cfg.namePrefix}-c-total")
      .outputMode("complete").trigger(cfg.trigger)
      .foreachBatch(sink("TotalTweetCountFlink") { batch =>
        toInfluxPoint(batch.filter(col("as_of").isNotNull), "TotalTweetCountFlink",
          unix_millis(col("as_of")), Map("count" -> col("total_tweets")))
      }), "c-total").start()

    // D — per-second counts, append once the watermark closes each second.
    val d = cp(perSecondCounts(tweets)
      .writeStream.queryName(s"${cfg.namePrefix}-d-persecond")
      .outputMode("append").trigger(cfg.trigger)
      .foreachBatch(sink("TweetPerSecondCountFlink") { batch =>
        toInfluxPoint(batch, "TweetPerSecondCountFlink",
          unix_millis(col("window_end")), Map("count" -> col("cnt")))
      }), "d-persecond").start()

    Seq(a, b, c, d)
  }
}
