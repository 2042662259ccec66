package perfbench

import graft.streaming.{TweetPipelines, TwitterJob}
import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `tweet_stream`: the paper's job, `TwitterJob.start` with its shipped
  * trigger, watermark and line-protocol sinks, fed by a file-source
  * directory that the emitter fills by atomic rename (every pipeline
  * instantiates its own source over it).
  *
  * Phases, all from the seeded `tweets.jsonl`/`chunks.tsv`/`sched.txt`:
  *  0. cold first chunk, in place before the job starts, waited for until
  *     all four pipelines commit it;
  *  1. open loop, unmeasured: chunks released on their schedule;
  *  2. the same open loop, measured: per tweet latency is its scheduled
  *     send time to the commit of its batch by the slowest pipeline;
  *  3. closed-loop drain: a fixed backlog released at once after the open
  *     loop is committed; throughput is the backlog over the slowest
  *     pipeline's trigger time spent on it.
  * The sinks are then compared with `TweetPipelines`' batch functions over
  * every tweet released. */
object TweetStream {
  val Pipelines = Seq("a", "b", "c", "d")

  final case class Chunk(phase: Int, releaseMs: Long, first: Int, n: Int) {
    def file: String = f"t-$phase-$first%08d.json"
  }

  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[(String, StreamingQueryProgress)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add((letter(e.progress.name), e.progress))
    def all: Seq[(String, StreamingQueryProgress)] = events.asScala.toSeq
    def rows(p: String): Long = all.filter(_._1 == p).map(_._2.numInputRows).sum
  }

  def letter(queryName: String): String = queryName.split("-")(1)

  final case class Job(spark: SparkSession, layers: Option[Layers], progress: Progress,
      queries: Seq[StreamingQuery], in: String, ckpt: String, influx: String)

  def run(ctx: Ctx, rec: Recorder, out: Out): Unit = {
    val lines = readRaw(s"${ctx.input}/tweets.jsonl")
    val sched = readRaw(s"${ctx.input}/sched.txt").map(_.toLong)
    val chunks = readRaw(s"${ctx.input}/chunks.tsv").map(_.split("\t")).map(a =>
      Chunk(a(0).toInt, a(1).toLong, a(2).toInt, a(3).toInt))

    val root = ctx.path("stream")
    val in = s"$root/in"
    new File(in).mkdirs()
    def release(c: Chunk): Unit = {
      val tmp = new File(in, s".${c.file}.tmp")
      Files.write(tmp.toPath, lines.slice(c.first, c.first + c.n).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
      Files.move(tmp.toPath, new File(in, c.file).toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    // phase 0: the cold first chunk is in place before the job starts, so
    // its first micro-batch reads it
    val cold = chunks.filter(_.phase == 0)
    cold.foreach(release)
    var released = cold.map(_.n.toLong).sum

    val job = {
      val (spark, layers) = Main.session(rec)
      val progress = new Progress
      spark.streams.addListener(progress)
      val raw = spark.readStream.format("text").load(in)
      val cfg = TwitterJob.Config(s"$root/influx", checkpointDir = Some(s"$root/ckpt"))
      Job(spark, layers, progress, TwitterJob.start(spark, raw, cfg), in, s"$root/ckpt", s"$root/influx")
    }
    out.fields("setup_s") = Main.sinceJvmStart
    val spark = job.spark

    def caughtUp(): Boolean = Pipelines.forall(p => job.progress.rows(p) >= released)
    def awaitCaughtUp(what: String): Boolean = {
      val deadline = System.nanoTime() + 120e9.toLong
      while (!caughtUp() && System.nanoTime() < deadline) {
        job.queries.find(_.exception.isDefined).foreach(q => throw q.exception.get)
        Thread.sleep(20)
      }
      val ok = caughtUp()
      if (!ok) out.fail(s"$what: pipelines did not commit every released tweet")
      ok
    }

    val tw = System.currentTimeMillis()
    var ok = awaitCaughtUp("warm-up")

    // phases 1 and 2: one open loop at the scheduled rate; only phase 2 is
    // measured, phase 1 lets the JIT and the state settle first
    var gc0 = 0L
    var seen0 = 0
    val t0 = System.currentTimeMillis()
    var t1 = 0L
    val late = mutable.ArrayBuffer.empty[Double]
    val loop = chunks.filter(c => c.phase == 1 || c.phase == 2).sortBy(_.releaseMs)
    if (ok) loop.foreach { c =>
      if (c.phase == 2 && t1 == 0L) {
        Main.listen(spark, rec, on = true)
        gc0 = Layers.gcMillis
        seen0 = job.progress.all.size
        t1 = System.currentTimeMillis()
      }
      val wait = t0 + c.releaseMs - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      release(c)
      released += c.n
      if (c.phase == 2) {
        late += (System.currentTimeMillis() - t0 - c.releaseMs).toDouble
        rec.max("streaming.backlog_rows_max",
          (released - Pipelines.map(job.progress.rows).min).toDouble)
      }
    }
    val open = loop.filter(_.phase == 2)
    rec.max("streaming.generator_late_ms_max", if (late.isEmpty) 0.0 else late.max)
    ok = ok && awaitCaughtUp("open loop")
    val t1End = System.currentTimeMillis()

    // phase 3: closed-loop drain of the backlog, released at once once the
    // open loop is committed
    val backlog = chunks.filter(_.phase == 3)
    val t2 = System.currentTimeMillis()
    val seen = job.progress.all.size
    if (ok) { backlog.foreach(release); released += backlog.map(_.n).sum }
    ok = ok && awaitCaughtUp("drain")
    // the backlog over the slowest pipeline's trigger time spent on the
    // batches that read it
    val drained = Pipelines.map { p =>
      p -> job.progress.all.drop(seen).filter(e => e._1 == p && e._2.numInputRows > 0)
        .map(e => (e._2.numInputRows, e._2.durationMs.get("triggerExecution").toDouble))
    }.toMap
    out.fields("drain_batches") = drained
    val busy = drained.values.map(_.map(_._2).sum / 1e3).max
    if (ok) rec.sample("throughput_per_s", backlog.map(_.n).sum / busy)
    val t2End = System.currentTimeMillis()
    Main.listen(spark, rec, on = false)
    rec.add("engine.gc_s", (Layers.gcMillis - gc0) / 1e3)
    rec.span(Span("open_loop", "stream.open_loop", t1.toDouble, t1End.toDouble, ""))
    rec.span(Span("drain", "stream.drain", t2.toDouble, t2End.toDouble, ""))
    job.queries.foreach(_.stop())
    val events = job.progress.all

    // per tweet latency: scheduled send → commit by the slowest pipeline
    val commitOf: Map[(String, Long), Double] = events.map { case (p, e) =>
      (p, e.batchId) -> (java.time.Instant.parse(e.timestamp).toEpochMilli +
        e.durationMs.get("triggerExecution").toDouble)
    }.toMap
    val batchOf = Pipelines.map(p => p -> sourceBatches(s"${job.ckpt}/twitter-${queryTail(p)}")).toMap
    if (ok) open.foreach { c =>
      val commits = Pipelines.map(p => batchOf(p).get(c.file).flatMap(b => commitOf.get((p, b))))
      if (commits.exists(_.isEmpty)) out.fail(s"no commit recorded for ${c.file}")
      else {
        val done = commits.flatten.max
        (c.first until c.first + c.n).foreach(i => rec.sample("latency_ms", done - (t0 + sched(i))))
      }
    }

    layerFigures(rec, events.drop(seen0))
    val sinkFiles = Files.walk(new File(job.influx).toPath).iterator().asScala
      .filter(_.toString.endsWith(".lp")).toSeq
    rec.add("sink.files", sinkFiles.size.toDouble)
    rec.add("sink.lines", sinkFiles.map(f => Files.readAllLines(f).size).sum.toDouble)

    val tc = System.currentTimeMillis()
    if (ok) check(spark, job, events, out)
    out.fields("phase_s") = Map("warm_up" -> (t1 - tw) / 1e3, "open_loop" -> (t1End - t1) / 1e3,
      "drain" -> (t2End - t2) / 1e3, "check" -> (System.currentTimeMillis() - tc) / 1e3)
    spark.stop()
  }

  def queryTail(p: String): String = p match {
    case "a" => "a-trending2"
    case "b" => "b-trending1"
    case "c" => "c-total"
    case "d" => "d-persecond"
  }

  /** file name → batch id, from a query's file-source metadata log. */
  def sourceBatches(queryCkpt: String): Map[String, Long] = {
    val dir = new File(s"$queryCkpt/sources/0")
    val entry = """"path":"([^"]*)".*"batchId":(\d+)""".r
    Option(dir.listFiles()).getOrElse(Array.empty).filterNot(_.getName.startsWith("."))
      .flatMap(f => readRaw(f.getPath))
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1).split("/").last -> m.group(2).toLong).toMap
  }

  /** Per-pipeline figures from `StreamingQueryProgress`: a sample per
    * batch that read data (`run.py` reports their medians), state size
    * after the last batch, and rows dropped as late. */
  def layerFigures(rec: Recorder, events: Seq[(String, StreamingQueryProgress)]): Unit = {
    def d(e: StreamingQueryProgress, k: String): Double =
      Option(e.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    Pipelines.foreach { p =>
      val es = events.filter(_._1 == p).map(_._2)
      rec.add(s"streaming.$p.batches", es.size.toDouble)
      es.filter(_.numInputRows > 0).foreach { e =>
        rec.sample(s"streaming.$p.trigger_ms_p50", d(e, "triggerExecution"))
        rec.sample(s"streaming.$p.add_batch_ms_p50", d(e, "addBatch"))
        rec.sample(s"streaming.$p.planning_ms_p50", d(e, "queryPlanning"))
        rec.sample(s"streaming.$p.log_ms_p50", d(e, "walCommit") + d(e, "commitOffsets"))
        rec.sample(s"streaming.$p.state_commit_ms_p50", e.stateOperators.map(_.commitTimeMs).sum.toDouble)
        rec.sample("sources.latest_offset_ms_p50", d(e, "latestOffset"))
      }
      es.lastOption.foreach { e =>
        rec.add(s"streaming.$p.state_rows", e.stateOperators.map(_.numRowsTotal).sum.toDouble)
        rec.add(s"streaming.$p.state_mb", e.stateOperators.map(_.memoryUsedBytes).sum / 1e6)
      }
      rec.add(s"streaming.$p.late_rows",
        es.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble)
    }
  }

  /** A sink line `measurement field="v",... <ns>` as (measurement, fields, ms). */
  def parseLine(l: String): (String, Map[String, String], Long) = {
    val sp = l.indexOf(' ')
    val last = l.lastIndexOf(' ')
    val fields = """(\w+)="([^"]*)"""".r.findAllMatchIn(l.substring(sp + 1, last))
      .map(m => m.group(1) -> m.group(2)).toMap
    (l.substring(0, sp), fields, l.substring(last + 1).toLong / 1000000L)
  }

  /** (epoch, lines) per sink file of one measurement. */
  def sinkLines(influx: String, measurement: String): Seq[(Long, Seq[String])] =
    Option(new File(influx, measurement).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".lp")).toSeq.map { f =>
        f.getName.stripSuffix(".lp").split("-").last.toLong -> readRaw(f.getPath)
      }

  /** The sinks against the batch functions over every released tweet. */
  def check(spark: SparkSession, job: Job, events: Seq[(String, StreamingQueryProgress)],
      out: Out): Unit = {
    import TweetPipelines._
    val tweets = parse(spark.read.text(job.in)).persist()
    def watermark(p: String): Long = events.filter(_._1 == p).flatMap(e =>
      Option(e._2.eventTime.get("watermark"))).map(java.time.Instant.parse(_).toEpochMilli)
      .foldLeft(0L)(math.max)
    def argMax(counts: DataFrame): Map[Long, (String, Long)] =
      trendingPerWindow(counts).select(unix_millis(col("window_end")), col("hashtag"), col("cnt"))
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    def trendLines(ls: Seq[String]): Map[Long, (String, Long)] = ls.map(parseLine).map {
      case (_, f, t) => t -> (f("hashtag"), f("count").toLong)
    }.toMap

    def verdict(name: String, good: Boolean, detail: => String): Unit = {
      out.attempted += 1
      if (!good) out.fail(s"$name: $detail")
    }

    // C: the last epoch's running total equals the batch count
    val total = tweets.count()
    val cLast = sinkLines(job.influx, "TotalTweetCountFlink").sortBy(_._1).lastOption
      .flatMap(_._2.headOption).map(parseLine)
    verdict("pipeline C total", cLast.exists(_._2("count").toLong == total),
      s"sink ${cLast.map(_._2)} vs batch $total")

    // B: complete mode, so the last epoch holds every window's arg-max
    val bExpected = argMax(keyedWindowCounts(hashtags(tweets), "30 seconds", "5 seconds"))
    val bEpochs = sinkLines(job.influx, "TrendingHashTagFlink1").groupBy(_._1)
    val bLast = if (bEpochs.isEmpty) Map.empty[Long, (String, Long)]
      else trendLines(bEpochs(bEpochs.keys.max).flatMap(_._2))
    verdict("pipeline B arg-max", bLast == bExpected,
      s"${bLast.size} windows in the sink vs ${bExpected.size} in batch; " +
        s"${bExpected.count { case (k, v) => bLast.get(k) != Some(v) }} differ")

    // A and D: append mode, every emitted window matches the batch, and
    // every window the watermark has closed was emitted
    val aExpected = argMax(twoStageCounts(hashtags(tweets), "5 seconds", "30 seconds")
      .select(col("window"), col("hashtag"), col("cnt")))
    val aGot = trendLines(sinkLines(job.influx, "TrendingHashTagFlink2").flatMap(_._2))
    val aClosed = aExpected.keys.filter(_ <= watermark("a") - 5000L).toSet
    verdict("pipeline A arg-max", aGot.forall { case (k, v) => aExpected.get(k).contains(v) } &&
      aClosed.subsetOf(aGot.keySet) && aGot.nonEmpty,
      s"${aGot.size} emitted, ${aClosed.size} closed, " +
        s"${aGot.count { case (k, v) => !aExpected.get(k).contains(v) }} differ")

    val dExpected = perSecondCounts(tweets).select(unix_millis(col("window_end")), col("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dGot = sinkLines(job.influx, "TweetPerSecondCountFlink").flatMap(_._2).map(parseLine)
      .map { case (_, f, t) => t -> f("count").toLong }.toMap
    val dClosed = dExpected.keys.filter(_ <= watermark("d")).toSet
    verdict("pipeline D per-second", dGot.forall { case (k, v) => dExpected.get(k).contains(v) } &&
      dClosed.subsetOf(dGot.keySet) && dGot.nonEmpty,
      s"${dGot.size} emitted, ${dClosed.size} closed, " +
        s"${dGot.count { case (k, v) => !dExpected.get(k).contains(v) }} differ")
  }

  def readRaw(path: String): Vector[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).toVector finally src.close()
  }
}
