package graft

import graft.streaming._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, unix_millis}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming semantics s01-s06 (SURVEY.md §2.3 / §5.2 item 3): the four
  * reference pipelines (Main.java:85-175) replayed through MemoryStream with
  * controlled event times. No oracle — assertions pin per-batch outputs,
  * watermark late-drop, and golden line-protocol files.
  *
  * Watermark mechanics used throughout: Spark computes the watermark at
  * batch BOUNDARIES (wm after batch = max event time − delay), so a "flush"
  * record two batches ahead is what makes append-mode windows emit.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tweet(text: String, atMs: Long): String =
    s"""{"text":"$text","createdAt":$atMs,"lang":"en"}"""

  private def startQuery(df: DataFrame, name: String, mode: String): (StreamingQuery, () => DataFrame) = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    (q, () => spark.table(name))
  }

  test("s01: trending hashtag — keyed sliding window counts + per-window arg-max (pipelines A/B)") {
    val in = MemoryStream[String]
    val counts = TweetPipelines.keyedWindowCounts(
      TweetPipelines.hashtags(TweetPipelines.parse(in.toDF())))
    val (q, table) = startQuery(counts, "s01_counts", "complete")
    try {
      in.addData(
        tweet("x #a", 1000), tweet("y #a #b", 2000), tweet("z #a", 3000),
        tweet("w #b", 4000),
        tweet("p #b #b #b", 41000))
      q.processAllAvailable()
      val trending = TweetPipelines.trendingPerWindow(table()).collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
      // sliding 30s/5s: window ending 5s covers t≤4s → #a=3 beats #b=2
      assert(trending.contains((5000L, "#a", 3L)), s"got $trending")
      // windows covering only t=41s → #b=3 (one tweet, three #b tokens)
      assert(trending.contains((45000L, "#b", 3L)), s"got $trending")
    } finally q.stop()
  }

  test("s02: tweets-per-second tumbling window, append after watermark (pipeline D)") {
    val in = MemoryStream[String]
    val counts = TweetPipelines.perSecondCounts(
      TweetPipelines.withLateness(TweetPipelines.parse(in.toDF())))
    val (q, table) = startQuery(counts, "s02_persec", "append")
    try {
      in.addData(tweet("a", 1100), tweet("b", 1500), tweet("c", 2200))
      q.processAllAvailable()
      in.addData(tweet("advance", 400000)) // wm after this batch: 100s
      q.processAllAvailable()
      in.addData(tweet("flush", 800000)) // batch runs with wm=100s → emit 1s/2s windows
      q.processAllAvailable()
      val rows = table().collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toMap
      assert(rows.get(2000L).contains(2L), s"got $rows") // [1s,2s): 2 tweets
      assert(rows.get(3000L).contains(1L), s"got $rows") // [2s,3s): 1 tweet
    } finally q.stop()
  }

  test("s03: running total, update mode re-emits cumulative count (pipeline C)") {
    val in = MemoryStream[String]
    val total = TweetPipelines.runningTotal(TweetPipelines.parse(in.toDF()))
    val (q, table) = startQuery(total, "s03_total", "update")
    try {
      in.addData(tweet("a", 1000), tweet("b", 2000))
      q.processAllAvailable()
      in.addData(tweet("c", 3000))
      q.processAllAvailable()
      val emissions = table().collect().map(_.getLong(0)).toSeq.sorted
      assert(emissions == Seq(2L, 3L), s"got $emissions") // per-batch cumulative
    } finally q.stop()
  }

  test("s04: watermark drops >300s-late data, keeps less-late data (S3 semantics)") {
    val in = MemoryStream[String]
    val counts = TweetPipelines.perSecondCounts(
      TweetPipelines.withLateness(TweetPipelines.parse(in.toDF())))
    val (q, table) = startQuery(counts, "s04_late", "append")
    try {
      in.addData(tweet("on-time", 1500))
      q.processAllAvailable()
      in.addData(tweet("advance", 400000)) // wm after: 100s
      q.processAllAvailable()
      in.addData(tweet("too-late", 1600)) // ts < wm(100s) → dropped
      q.processAllAvailable()
      in.addData(tweet("ok-late", 399000)) // ts > wm → kept, window [399s,400s)
      q.processAllAvailable()
      in.addData(tweet("flush-a", 900000)) // wm after: 600s
      q.processAllAvailable()
      in.addData(tweet("flush-b", 901000)) // emits all windows ended ≤ 600s
      q.processAllAvailable()
      val rows = table().collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toMap
      assert(rows.get(2000L).contains(1L), s"dropped row must not bump closed window: $rows")
      assert(rows.get(400000L).contains(1L), s"1s-late row must be kept: $rows")
    } finally q.stop()
  }

  test("s05: Influx ForeachWriter emits golden line-protocol (X1/X2 + P-projections)") {
    val dir = java.nio.file.Files.createTempDirectory("influx").toString
    val in = MemoryStream[String]
    val counts = TweetPipelines.keyedWindowCounts(
      TweetPipelines.hashtags(TweetPipelines.parse(in.toDF())))
    val points = TweetPipelines.toInfluxPoint(
      counts.select(col("window.end").as("window_end"), col("hashtag"), col("cnt")),
      "TrendingHashTagFlink1",
      unix_millis(col("window_end")),
      Map("hashtag" -> col("hashtag"), "count" -> col("cnt")))
    val q = points.writeStream.outputMode("complete")
      .foreachBatch((b: DataFrame, epochId: Long) => TwitterJob.writeLines(b, dir, epochId))
      .start()
    try {
      in.addData(tweet("only #tag here", 1000))
      q.processAllAvailable()
      val lines = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
        .map(p => java.nio.file.Files.readAllLines(p.asInstanceOf[java.nio.file.Path]))
        .flatMap(_.toArray.map(_.toString)).toSet
      // one tweet at t=1s lands in 6 sliding windows (ends 5s..30s step 5s)
      assert(lines.size == 6, s"got ${lines.size}: $lines")
      val golden = """TrendingHashTagFlink1 count="1",hashtag="#tag" 5000000000"""
      assert(lines.contains(golden), s"missing golden line in $lines")
      assert(lines.forall(_.startsWith("TrendingHashTagFlink1 ")))
    } finally q.stop()
  }

  test("s05: a field value holding a backslash and a quote formats to a well-formed line") {
    // the value ends in a backslash: left unescaped it would escape the
    // closing quote and run the field into the timestamp
    val line = InfluxLine.format(InfluxPoint("m", 1L, Map.empty, Map("v" -> "a\\\"b\\")))
    assert(line == """m v="a\\\"b\\" 1000000""", line)
  }

  test("s07: RocksDB state store provider runs the keyed window pipeline (large-state posture)") {
    // HDFSBackedStateStore holds state on-heap — fine for tests, wrong at
    // 100 TB; RocksDB spills to local disk with changelog checkpointing.
    // Same pipeline, same results, provider swapped by conf.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[String]
      val counts = TweetPipelines.keyedWindowCounts(
        TweetPipelines.hashtags(TweetPipelines.parse(in.toDF())))
      val (q, table) = startQuery(counts, "s07_rocksdb", "complete")
      try {
        in.addData(tweet("a #r1", 1000), tweet("b #r1 #r2", 2000))
        q.processAllAvailable()
        val rows = table().collect()
          .map(r => (r.getString(1), r.getLong(2))).groupBy(_._1)
          .view.mapValues(_.map(_._2).max).toMap
        assert(rows == Map("#r1" -> 2L, "#r2" -> 1L), s"got $rows")
        // and the query really ran on RocksDB
        val providers = q.lastProgress.stateOperators
        assert(providers.nonEmpty)
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("s08: streaming dedup drops repeated payloads across batches, state bounded by watermark") {
    val in = MemoryStream[String]
    val deduped = TweetPipelines.dedupedTweets(
      TweetPipelines.withLateness(TweetPipelines.parse(in.toDF())))
      .select("text", "createdAt")
    val (q, table) = startQuery(deduped, "s08_dedup", "append")
    try {
      in.addData(tweet("same payload", 1000), tweet("same payload", 2000),
        tweet("other payload", 3000))
      q.processAllAvailable()
      in.addData(tweet("same payload", 4000)) // later batch, still a dup
      q.processAllAvailable()
      val texts = table().collect().map(_.getString(0)).toSeq.sorted
      assert(texts == Seq("other payload", "same payload"), s"got $texts")
    } finally q.stop()
  }

  test("s06: chained stateful aggregation — two-stage windowed counts, append (pipeline A shape)") {
    val in = MemoryStream[String]
    val two = TweetPipelines.twoStageCounts(
      TweetPipelines.hashtags(
        TweetPipelines.withLateness(TweetPipelines.parse(in.toDF()))),
      stage1 = "5 seconds", stage2 = "30 seconds")
      .select(col("window.end").as("window_end"), col("hashtag"), col("cnt"))
    val (q, table) = startQuery(two, "s06_two", "append")
    try {
      in.addData(tweet("#x one", 1000), tweet("#x two", 6000), tweet("#x three", 7000))
      q.processAllAvailable()
      in.addData(tweet("advance", 400000))
      q.processAllAvailable()
      in.addData(tweet("flush", 800000))
      q.processAllAvailable()
      val rows = table().collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
      assert(rows.contains((30000L, "#x", 3L)), s"got $rows")
    } finally q.stop()
  }
}
