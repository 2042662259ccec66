package perfbench

import graft.Engine
import java.io.{File, PrintWriter}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Settings of one run, passed by `run.py`. `data` holds the batch tables,
  * `input` the seeded inputs generated for this run, `work` is scratch
  * space owned by the run. */
final case class Ctx(workload: String, seconds: Double, traced: Boolean,
    data: String, input: String, work: String) {
  def path(p: String): String = new File(work, p).getPath
}

/** What a workload hands back besides the recorder's figures: its set-up
  * time, correctness failures, and the work done. */
final class Out {
  val fields = mutable.LinkedHashMap.empty[String, Any]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def fail(msg: String): Unit = { failed += 1; errors += msg }
}

/** Harness entry point: `perfbench.Main --workload <w> --seconds <s>
  * --trace <0|1> --data <dir> --input <dir> --work <dir>`.
  * Writes `<work>/result.json` (and `<work>/spans.jsonl` when traced). */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(kv("workload"), kv("seconds").toDouble, kv.getOrElse("trace", "0") == "1",
      kv("data"), kv("input"), kv("work"))
    val rec = new Recorder(ctx.traced)
    val out = new Out
    val t0 = System.nanoTime()
    ctx.workload match {
      case "batch_iterative" | "batch_scan" => Batch.run(ctx, rec, out)
      case "tweet_stream" => TweetStream.run(ctx, rec, out)
      case "ingest_drain" => Ingest.run(ctx, rec, out)
      case "oracle_sql" =>
        val sql = graft.SparkEntry.oracleSql
        write(ctx.path("oracle_sql.json"),
          Json(Batch.readLines(s"${ctx.input}/queries.txt").map(n => n -> sql(n)).toMap))
        return
      case w => sys.error(s"unknown workload $w")
    }
    out.fields("elapsed_s") = (System.nanoTime() - t0) / 1e9
    out.fields("peak_rss_mb") = Layers.peakRssMb
    out.fields("attempted") = out.attempted
    out.fields("failed") = out.failed
    out.fields("errors") = out.errors.toSeq
    out.fields("layers") = rec.counterMap
    out.fields("samples") = rec.sampleMap
    write(ctx.path("result.json"), Json(out.fields))
    if (ctx.traced) write(ctx.path("spans.jsonl"),
      rec.spans.toArray(Array.empty[Span]).map(Json(_)).mkString("", "\n", "\n"))
  }

  def write(path: String, s: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.write(s) finally w.close()
  }

  /** A fresh engine session, its creation time recorded as
    * `engine.session_s`; the layer listeners ride on it when traced. */
  def session(rec: Recorder): (SparkSession, Option[Layers]) = {
    val t0 = System.nanoTime()
    val spark = Engine.localSession("perfbench")
    rec.sample("engine.session_s", (System.nanoTime() - t0) / 1e9)
    (spark, if (rec.traced) Some(Layers.install(spark, rec)) else None)
  }

  /** Seconds from JVM start to now: a workload calls it once its set-up
    * is done, before its own warm-up and first timed operation. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Switches the listener figures on or off once every event queued so
    * far has been delivered, so each Spark event counts on the side of the
    * switch on which it happened. Call it outside timed sections. */
  def listen(spark: SparkSession, rec: Recorder, on: Boolean): Unit = {
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    rec.active = on
  }
}
