package graft

import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** End-to-end: all four reference pipelines running concurrently off one
  * input stream (Main.java:40-177 parity), line-protocol files out.
  */
class TwitterJobSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tweet(text: String, atMs: Long): String =
    s"""{"text":"$text","createdAt":$atMs,"lang":"en"}"""

  test("the whole job: four concurrent pipelines, four measurements") {
    val dir = java.nio.file.Files.createTempDirectory("twitterjob").toString
    val in = MemoryStream[String]
    val queries = TwitterJob.start(spark, in.toDF(),
      TwitterJob.Config(influxDir = dir, trigger = Trigger.ProcessingTime(0)))
    try {
      in.addData(
        tweet("first #spark tweet", 1000),
        tweet("second #spark #flink", 2000),
        tweet("third #flink", 6000))
      queries.foreach(_.processAllAvailable())
      // advance watermark so append-mode pipelines (A, D) emit
      in.addData(tweet("advance", 400000))
      queries.foreach(_.processAllAvailable())
      in.addData(tweet("flush", 800000))
      queries.foreach(_.processAllAvailable())

      def lines(measurement: String): Seq[String] = {
        val d = new java.io.File(s"$dir/$measurement")
        if (!d.exists()) Seq.empty
        else d.listFiles().toSeq.flatMap(f =>
          scala.io.Source.fromFile(f).getLines().toSeq)
      }
      // B (complete mode) fires every batch: #spark wins window ending 5s
      val b = lines("TrendingHashTagFlink1")
      assert(b.exists(l => l.contains("""hashtag="#spark"""") && l.endsWith("5000000000")), b.take(5))
      // A (append, two-stage) emits the finalized 30s window: #flink=2=#spark tie → #flink wins (ASC tie-break)
      val a = lines("TrendingHashTagFlink2")
      assert(a.exists(_.contains("""hashtag="#flink"""")), a.take(5))
      // C running total reaches 5 tweets (3 + 2 sentinels)
      val c = lines("TotalTweetCountFlink")
      assert(c.exists(_.contains("""count="5"""")), c.take(5))
      // D per-second counts: second [1s,2s) and [2s,3s) have 1 tweet each
      val d = lines("TweetPerSecondCountFlink")
      assert(d.exists(_.endsWith("2000000000")) && d.exists(_.endsWith("3000000000")), d.take(5))
    } finally queries.foreach(_.stop())
  }

  test("warm triggers of the four pipelines reuse their generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = java.nio.file.Files.createTempDirectory("twitterjob-codegen").toString
    val in = MemoryStream[String]
    val queries = TwitterJob.start(spark, in.toDF(),
      TwitterJob.Config(influxDir = dir, trigger = Trigger.ProcessingTime(0)))
    // each round moves event time past the 300 s watermark delay, so every
    // round also finalizes windows in the append-mode pipelines
    def round(r: Int): Unit = {
      val t0 = r * 400000L
      in.addData(
        tweet(s"round $r #spark", t0 + 1000),
        tweet(s"round $r #spark #flink", t0 + 2000),
        tweet(s"round $r #flink", t0 + 6000))
      queries.foreach(_.processAllAvailable())
    }
    try {
      (0 until 3).foreach(round)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (3 until 8).foreach(round)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      // 10 measured at the engine's cache size; Spark's default 100-class
      // cache is smaller than the pipelines' working set and recompiled 420
      assert(compiles <= 20, s"$compiles classes compiled over five warm rounds")
    } finally queries.foreach(_.stop())
  }
}
