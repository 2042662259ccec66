package graft

import graft.streaming.TweetPipelines
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** s12 — stream ↔ batch parity: the SAME rows replayed through MemoryStream
  * in chunks must produce EXACTLY the aggregates the batch plan computes on
  * the full frame. This bridges the no-oracle streaming operators to the
  * oracle-checked batch semantics: the batch side of each pipeline is what
  * the DuckDB gate pins (q05/q06/q09 families), and this spec pins the
  * streaming side to the batch side — transitively, to the oracle.
  *
  * Chunked replay matters: it forces state to carry across micro-batches
  * (incremental merge), which a single addData would not exercise.
  */
class StreamBatchParitySpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // real corpus rows → tweet JSON (event_type doubles as a hashtag)
  private lazy val tweetJson: Seq[String] = Tables.load(spark, sf, "events")
    .select(concat(lit("""{"text":"evt #"""), col("event_type"),
      lit("""","createdAt":"""), unix_millis(col("ts").cast("timestamp")), // NTZ + UTC session
      lit(""","lang":"en"}""")).as("j"))
    .collect().map(_.getString(0)).toSeq

  private def replay(chunks: Int)(build: DataFrame => DataFrame): DataFrame = {
    val in = MemoryStream[String]
    val q = build(in.toDF()).writeStream
      .format("memory").queryName("s12_out").outputMode("complete").start()
    try {
      tweetJson.grouped(math.max(1, tweetJson.size / chunks)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      spark.table("s12_out")
    } finally q.stop()
  }

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toVector).toVector.sortBy(_.mkString("|"))

  test("s12: keyed sliding-window counts — streaming over 7 chunks ≡ batch") {
    val streamed = replay(7)(raw =>
      TweetPipelines.keyedWindowCounts(
        TweetPipelines.hashtags(TweetPipelines.parse(raw)), "2 hours", "1 hour"))
    val batch = TweetPipelines.keyedWindowCounts(
      TweetPipelines.hashtags(TweetPipelines.parse(
        spark.createDataset(tweetJson).toDF("value"))), "2 hours", "1 hour")
    assert(canon(streamed) == canon(batch))
    assert(canon(streamed).nonEmpty)
  }

  test("s12: tumbling per-hour counts — streaming over 5 chunks ≡ batch ≡ ORACLE-checked q05") {
    def pipe(raw: DataFrame) = TweetPipelines.parse(raw)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.end").as("window_end"), col("cnt"))
    val streamed = replay(5)(pipe)
    val batch = pipe(spark.createDataset(tweetJson).toDF("value"))
    assert(canon(streamed) == canon(batch))
    // close the loop to the DuckDB gate: q05 computes the same hourly
    // counts over the same events rows and is hash-checked against the
    // oracle every round — so the STREAMING result is transitively
    // oracle-pinned (window_end − 1 h = q05's window_start; UTC session)
    val q05 = graft.operators.TierOne.q05.run(spark, sf).collect()
      .map(r => r.getAs[java.time.LocalDateTime]("window_start")
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli -> r.getLong(1)).toMap
    val streamedMap = streamed.collect()
      .map(r => r.getTimestamp(0).getTime - 3600000L -> r.getLong(1)).toMap
    assert(streamedMap == q05, "streaming result must equal the oracle-checked q05")
  }

  test("s12: pipeline-B trending arg-max — chunked replay ≡ ORACLE-checked q07") {
    // the reference's headline output (TrendingHashTagFlink1): complete-mode
    // keyed window counts + per-batch arg-max in foreachBatch — exactly
    // TwitterJob pipeline B's wiring, minus the sink. The LAST epoch sees
    // the full state, so its arg-max must equal batch q07, which the DuckDB
    // gate hash-checks every round (window size = slide = q07's tumbling
    // hour; hashtag = "#" + event_type by tweetJson construction).
    val in = MemoryStream[String]
    @volatile var lastEpoch: Array[(Long, String, Long)] = Array.empty
    val q = TweetPipelines.keyedWindowCounts(
        TweetPipelines.hashtags(TweetPipelines.parse(in.toDF())), "1 hour", "1 hour")
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        lastEpoch = TweetPipelines.trendingPerWindow(batch).collect()
          .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
      }.start()
    try {
      tweetJson.grouped(math.max(1, tweetJson.size / 6)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = lastEpoch
      .map { case (endMs, tag, cnt) => (endMs - 3600000L, tag.stripPrefix("#"), cnt) }
      .sortBy(_._1).toSeq
    val batchQ07 = graft.operators.TierOne.q07.run(spark, sf).collect()
      .map(r => (r.getAs[java.time.LocalDateTime]("window_start")
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli,
        r.getString(1), r.getLong(2))).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batchQ07,
      "replayed pipeline-B trending must equal the oracle-checked q07")
  }

  test("s15: streaming session_window — chunked replay ≡ batch sessions (§2.2 claim)") {
    // the capability matrix's "session_window available if needed", executed
    // in STREAMING mode: watermarked session aggregation over chunked
    // replay, closed sessions collected per batch (append mode only emits a
    // session once the watermark passes its gap). Final tail sessions never
    // close without events beyond them, so compare against the batch
    // sessions whose end precedes the final watermark — the exactly-
    // emittable set.
    val in = MemoryStream[String]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = TweetPipelines.parse(in.toDF())
      .withWatermark("ts", "0 seconds")
      .groupBy(col("lang"), // keyed: streaming rejects GLOBAL session aggs
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("sw.start")).as("start_ms"), col("n"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.collect().map(r => (r.getLong(0), r.getLong(1)))
        emitted.synchronized { emitted ++= rows; () }
      }.start()
    try {
      tweetJson.grouped(math.max(1, tweetJson.size / 6)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    val batchSessions = TweetPipelines.parse(
        spark.createDataset(tweetJson).toDF("value"))
      .groupBy(col("lang"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("sw.start")).as("start_ms"),
        unix_millis(col("sw.end")).as("end_ms"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the final watermark is the max EVENT time (0 s delay) — not the max
    // session start, which lags it whenever the last event extends an
    // existing session
    val maxTs = TweetPipelines.parse(spark.createDataset(tweetJson).toDF("value"))
      .agg(max(unix_millis(col("ts")))).head().getLong(0)
    val closeable = batchSessions.filter(_._2 <= maxTs)
      .map(s => (s._1, s._3)).sortBy(_._1).toSeq
    val got = emitted.synchronized(emitted.sortBy(_._1).toSeq)
    assert(got.nonEmpty)
    assert(got == closeable,
      s"streamed sessions must equal the closeable batch sessions")
  }

  test("s16: Bloom blocklist screen composes with a stream (broadcast filter, stateless)") {
    // the production shape: a batch-built Bloom filter (broadcast set-bit
    // table) screening a live stream map-side — stateless, so it needs no
    // watermark and adds no state store. Guarantee checked: every blocked
    // id is flagged (no false negatives), pass-through ids mostly survive.
    import graft.functions.Bloom
    val blocked = spark.range(100).select((col("id") * 7 + 3).as("id"))
    val filterDf = Bloom.build(blocked, col("id"), bits = 1024, hashes = 3)
    val words = Bloom.toBits(filterDf, bits = 1024) // packed once, rides the plan as literals
    val blockedIds = blocked.collect().map(_.getLong(0)).toSet
    val in = MemoryStream[Long]
    val q = in.toDF().select(col("value").as("id"))
      .filter(!Bloom.mightContainCol(words, col("id"), bits = 1024, hashes = 3))
      .writeStream.format("memory").queryName("s16_out").outputMode("append").start()
    try {
      in.addData(0L until 400L)
      q.processAllAvailable()
      val survivors = spark.table("s16_out").collect().map(_.getLong(0)).toSet
      assert(survivors.intersect(blockedIds).isEmpty, "a blocked id slipped through")
      val passThrough = (0L until 400L).toSet -- blockedIds
      assert(survivors.size > passThrough.size / 2, "screen must not flag everything")
      assert(survivors.subsetOf(passThrough))
    } finally q.stop()
  }

  test("s17: Count-Min maintained BY A STREAM — final cells ≡ batch-built sketch") {
    // CMS cells are order-independent sums, so the sketch is exactly
    // maintainable as a streaming aggregation (complete mode): the live
    // frequency monitor a pipeline runs next to its batch sketch. The
    // final streamed cell table must be bit-identical to CountMin.build
    // over the same rows — same hash family, merge-by-addition.
    import graft.functions.CountMin
    import org.apache.spark.sql.functions.{sum => fsum}
    val rows: Seq[(Long, Long)] = (1L to 300L).map(i => (i % 37, 1L)) // keys with repeats
    val in = MemoryStream[Long]
    val streamedSketch = CountMin.build(
      in.toDF().select(pmod(col("value"), lit(37L)).as("id"), lit(1L).as("n")),
      col("id"), col("n"))
    val q = streamedSketch.writeStream
      .format("memory").queryName("s17_out").outputMode("complete").start()
    try {
      (1L to 300L).grouped(60).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("s17_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = CountMin.build(rows.toDF("id", "n"), col("id"), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch, "streamed sketch cells must equal the batch build")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("s12: running total — final streaming state ≡ batch aggregate") {
    val streamed = replay(3)(raw => TweetPipelines.runningTotal(TweetPipelines.parse(raw)))
    val batch = TweetPipelines.runningTotal(
      TweetPipelines.parse(spark.createDataset(tweetJson).toDF("value")))
    assert(canon(streamed) == canon(batch))
  }

  test("s19: fixed-width histogram maintained BY A STREAM ≡ batch cells (q72's sketch)") {
    // histogram cells are order-independent sums — exactly maintainable as
    // a streaming aggregation, like s17's Count-Min. The final streamed
    // cell table must equal the batch groupBy over the same rows.
    val rows = Tables.load(spark, sf, "events").select("event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    def cells(df: DataFrame): DataFrame = df
      .groupBy(col("event_type"), floor(col("value") / 5).cast("long").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val in = MemoryStream[(String, Double)]
    val q = cells(in.toDF().toDF("event_type", "value")).writeStream
      .format("memory").queryName("s19_out").outputMode("complete").start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { c =>
        in.addData(c); q.processAllAvailable()
      }
      val streamed = spark.table("s19_out").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = cells(rows.toDF("event_type", "value")).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("s20: HLL registers maintained BY A STREAM ≡ brute force (q65's sketch)") {
    // registers are per-bucket maxes — merge-by-max makes the sketch
    // streamable in complete mode; the live distinct-count monitor next to
    // the batch q65. Final registers must equal the brute-force build.
    val P = 2147483647L; val A0 = 2654435761L; val B0 = 40503L
    val users = Tables.load(spark, sf, "events").select("user_id")
      .collect().map(_.getLong(0)).toSeq
    val expect = Array.fill(64)(0L)
    users.foreach { u =>
      val h0 = ((u % P) * A0 + B0) % P; val h = (h0 * h0) % P
      val b = (h % 64).toInt; val w = h / 64
      val rho = 26L - (if (w == 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > expect(b)) expect(b) = rho
    }
    val in = MemoryStream[Long]
    val regs = in.toDF()
      .select((((col("value") % P) * A0 + B0) % P).as("h0"))
      .select(((col("h0") * col("h0")) % P).as("h"))
      .groupBy((col("h") % 64).as("bucket"))
      .agg(max(lit(26) - when((col("h") / lit(64L)).cast("long") === 0, 0)
        .otherwise(length(bin((col("h") / lit(64L)).cast("long"))))).as("reg"))
    val q = regs.writeStream
      .format("memory").queryName("s20_out").outputMode("complete").start()
    try {
      users.grouped(math.max(1, users.length / 3)).foreach { c =>
        in.addData(c); q.processAllAvailable()
      }
      val streamed = spark.table("s20_out").collect()
        .map(r => r.getLong(0).toInt -> r.getInt(1).toLong).toMap
      val expected = expect.zipWithIndex.collect { case (r, b) if r > 0 => b -> r }.toMap
      assert(streamed == expected && streamed.nonEmpty)
    } finally q.stop()
  }

  test("s21: SimHash near-dup screen on a STREAM ≡ batch hammingScreen ≡ brute force") {
    // the near-dup admission gate as a stream: incoming signatures checked
    // against a STATIC corpus signature store via the pigeonhole chunk join
    // (TierSeven.hammingScreen) — stateless (no watermark, no state store),
    // exact recall at d ≤ 3, so the streamed matches must equal both the
    // batch run of the same plan and a brute-force distance scan.
    import graft.operators.TierSeven
    // corpus: spread signatures + a tight near-dup family around 0x0F0F...
    val base = 0x0F0F0F0F0F0F0F0L
    val corpus: Seq[(Long, Long)] =
      (0 until 40).map(i => (100L + i, (i.toLong * 2654435761L) & Long.MaxValue)) ++
        Seq((200L, base), (201L, base ^ 1L), (202L, base ^ (1L << 40)))
    // incoming: exact re-ingest (d=0), d=2, d=3, d≥4 from EVERY corpus sig
    // (15L<<50 keeps clear of 201/202's flipped low/mid bits), and fresh
    val incoming: Seq[(Long, Long)] = Seq(
      (900L, base), (901L, base ^ 3L), (902L, base ^ 7L),
      (903L, base ^ (15L << 50)), (904L, 0x123456789ABCDEFL))
    val corpusDf = corpus.toDF("doc_id", "simhash")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b).toLong
    val brute = (for {
      (i, si) <- incoming; (c, sc) <- corpus; if ham(si, sc) <= 3
    } yield (i, c, ham(si, sc))).toSet
    val batch = TierSeven.hammingScreen(incoming.toDF("doc_id", "simhash"), corpusDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch == brute, "batch screen must equal brute force")
    assert(brute.exists(_._3 == 0L) && !brute.exists(t => t._1 == 903L),
      "fixture must cover re-ingest and the d=4 miss")
    val in = MemoryStream[(Long, Long)]
    val q = TierSeven.hammingScreen(
        in.toDF().select(col("_1").as("doc_id"), col("_2").as("simhash")), corpusDf)
      .writeStream.format("memory").queryName("s21_out").outputMode("append").start()
    try {
      incoming.grouped(2).foreach { c => in.addData(c); q.processAllAvailable() }
      val streamed = spark.table("s21_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == brute, "streamed screen must equal brute force")
    } finally q.stop()
  }

  test("s22: the FULL ingest admission pipeline on a stream ≡ batch (quality → exact Bloom → near-dup anti-join)") {
    // the capstone composition: a live document stream passes the stateless
    // quality gate (q31's column), the exact-duplicate Bloom screen (corpus
    // text digests), signs itself per-row (TextOps.simhashCol), and clears
    // the near-dup anti-join against the corpus signature store — no state
    // store anywhere, so admission is pure flow. Streamed admissions must
    // equal the identical batch composition on the same rows.
    import graft.functions.Bloom
    import graft.operators.{TextOps, TierFour, TierSeven}
    val corpus = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val sigStore = corpus
      .select(col("doc_id"), TextOps.simhashCol(col("text")).as("simhash"))
      .persist()
    val words = Bloom.toBits(
      Bloom.build(corpus, xxhash64(col("text")), bits = 1024, hashes = 3), bits = 1024)
    // fixtures: a quality reject, an exact re-ingest of a GOOD corpus doc,
    // a near-dup (single-token edit within Hamming ≤ 3 — searched
    // deterministically below), and a fresh document
    val goodDocs = corpus
      .filter(TierFour.qualityCol(col("text")) >= 2)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(goodDocs.nonEmpty, "fixture needs a quality-passing corpus doc")
    val (srcId, srcText) = goodDocs.head
    val corpusSigs = sigStore.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edits = goodDocs.take(10).flatMap { case (id, t) =>
      val toks = t.split(" ")
      toks.indices.take(40).map { p =>
        (id, t.split(" ").updated(p, "graftedit").mkString(" "))
      }
    }
    val editSigs = edits.map(_._2).toSeq.toDF("text")
      .select(col("text"), TextOps.simhashCol(col("text")).as("sig"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    def minDist(sig: Long): Int =
      corpusSigs.values.map(c => java.lang.Long.bitCount(sig ^ c)).min
    val nearDup = editSigs.collectFirst {
      case (t, sig) if minDist(sig) >= 1 && minDist(sig) <= 3 => t
    }
    assert(nearDup.isDefined, "no single-token edit landed within Hamming 1..3")
    // fresh candidates: pick the first that isn't a Bloom false positive
    // (one-sided error is the filter's contract — the pipeline hands such
    // docs to exact verification or accepts the over-drop; the spec needs
    // a clean admission) and is ≥ 4 from every corpus signature
    val freshCandidates = (0 until 8).map(k =>
      (0 until 25).map(i => s"zq${k}g${i}xv${(i * 7 + k) % 13}w").mkString(" "))
    val freshScan = freshCandidates.toDF("text")
      .select(col("text"),
        Bloom.mightContainCol(words, xxhash64(col("text")), bits = 1024, hashes = 3).as("fp"),
        TextOps.simhashCol(col("text")).as("sig"))
      .collect()
    val fresh = freshScan.collectFirst {
      case r if !r.getBoolean(1) && minDist(r.getLong(2)) >= 4 => r.getString(0)
    }.getOrElse(fail("no fresh candidate cleared the Bloom + distance screen"))
    val incoming = Seq(
      (9001L, "a a a a a"),      // quality reject (short, stopwordy, 1-char tokens)
      (9002L, srcText),          // exact duplicate of corpus doc srcId
      (9003L, nearDup.get),      // near-duplicate — dropped by the anti-join
      (9004L, fresh))            // clean admission
    def pipeline(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      TierSeven.hammingAdmit(
        df.filter(TierFour.qualityCol(col("text")) >= 2)
          .filter(!Bloom.mightContainCol(words, xxhash64(col("text")), bits = 1024, hashes = 3))
          .withColumn("simhash", TextOps.simhashCol(col("text"))),
        sigStore)
    val batchAdmitted = pipeline(incoming.toDF("doc_id", "text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchAdmitted == Set(9004L),
      s"batch pipeline must admit only the fresh doc, got $batchAdmitted " +
        s"(near-dup minDist=${minDist(editSigs.toMap.apply(nearDup.get))})")
    val in = MemoryStream[(Long, String)]
    val q = pipeline(in.toDF().select(col("_1").as("doc_id"), col("_2").as("text")))
      .select("doc_id")
      .writeStream.format("memory").queryName("s22_out").outputMode("append").start()
    try {
      incoming.grouped(2).foreach { c => in.addData(c); q.processAllAvailable() }
      val streamed = spark.table("s22_out").collect().map(_.getLong(0)).toSet
      assert(streamed == batchAdmitted, "streamed admissions must equal batch")
    } finally { q.stop(); sigStore.unpersist() }
  }

  test("s23: LIVE funnel (transformWithState) aggregates to exactly the batch q81") {
    // per-user greedy stage state on the stream: each stage completion
    // emits once; summing the emitted hits must reproduce the batch
    // funnel bit for bit (in-order replay — the processor's documented
    // delivery assumption)
    import graft.streaming.FunnelProcessor
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = Tables.load(spark, sf, "events")
        .select(col("user_id"), col("ts").cast("timestamp"), col("event_type"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
        // full-precision order — an ms-keyed sort could split same-ms
        // events for one user across chunks out of (nanos) order
        .sortBy(t => (t._2.getTime, t._2.getNanos))
      val in = MemoryStream[(Long, java.sql.Timestamp, String)]
      val q = FunnelProcessor.funnel(
          in.toDF().select(col("_1").as("user_id"), col("_2").as("ts"),
            col("_3").as("event_type")))
        .toDF()
        .writeStream.format("memory").queryName("s23_out").outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.length / 5)).foreach { c =>
          in.addData(c); q.processAllAvailable()
        }
        val streamed = spark.table("s23_out").collect()
          .map(r => (r.getString(1), r.getLong(2)))
          .groupBy(_._1).view
          .mapValues(hs => (hs.length.toLong, hs.map(_._2).sum)).toMap
        val batch = graft.operators.TierTen.q81.run(spark, sf).collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        assert(streamed == batch, s"streamed=$streamed batch=$batch")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("s38: LIVE record alerts (transformWithState, one global key) ≡ batch q164") {
    import graft.streaming.RecordMonitor
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = Tables.load(spark, sf, "events")
        .select(col("event_id"), col("event_type"), col("value").cast("double"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
        .sortBy(_._1) // arrival order — the processor's delivery contract
      val in = MemoryStream[(Long, String, Double)]
      val q = RecordMonitor.records(
          in.toDF().select(col("_1").as("event_id"), col("_2").as("event_type"),
            col("_3").as("value")))
        .toDF()
        .writeStream.format("memory").queryName("s38_out").outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.size / 6)).foreach { c =>
          in.addData(c); q.processAllAvailable()
        }
        val streamed = spark.table("s38_out").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sortBy(_._1)
        val batch = graft.operators.TierForty.q164.run(spark, sf).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
        assert(streamed == batch && streamed.nonEmpty,
          s"live alerts must equal the batch records: ${streamed.size} vs ${batch.size}")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("s40: LIVE EWMA control chart (transformWithState per type) ≡ batch q197") {
    import graft.streaming.EwmaMonitor
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the day-close grid, delivered per-type in day order (chunked so
      // types interleave across micro-batches and state carries over)
      val rows = graft.operators.TierThirtyTwo.dailyCounts(Tables.load(spark, sf, "events"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(x => (x._2, x._1)) // by day, types interleaved
      val in = MemoryStream[(String, Long, Long)]
      val q = EwmaMonitor.chart(
          in.toDF().select(col("_1").as("event_type"), col("_2").as("day_idx"),
            col("_3").as("cnt")))
        .toDF()
        .writeStream.format("memory").queryName("s40_out").outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.size / 6)).foreach { c =>
          in.addData(c); q.processAllAvailable()
        }
        val streamed = spark.table("s40_out").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4))).toSeq.sortBy(x => (x._1, x._2))
        val batch = graft.operators.TierFiftySix.q197.run(spark, sf).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4))).toSeq
        assert(streamed == batch && streamed.exists(_._5 == 1L),
          s"live chart must equal batch q197: ${streamed.size} vs ${batch.size}")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("s45: LIVE Holt chart (transformWithState per type, level+trend state) ≡ batch q237") {
    import graft.streaming.HoltMonitor
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = graft.operators.TierThirtyTwo.dailyCounts(Tables.load(spark, sf, "events"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(x => (x._2, x._1)) // by day, types interleaved (s40 shape)
      val in = MemoryStream[(String, Long, Long)]
      val q = HoltMonitor.chart(
          in.toDF().select(col("_1").as("event_type"), col("_2").as("day_idx"),
            col("_3").as("cnt")))
        .toDF()
        .writeStream.format("memory").queryName("s45_out").outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.size / 6)).foreach { c =>
          in.addData(c); q.processAllAvailable()
        }
        val streamed = spark.table("s45_out").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5))).toSeq.sortBy(x => (x._1, x._2))
        val batch = graft.operators.TierSeventyNine.q237.run(spark, sf).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5))).toSeq
        assert(streamed == batch && streamed.nonEmpty,
          s"live Holt chart must equal batch q237: ${streamed.size} vs ${batch.size}")
        // (trend dynamics are exercised on the constructed ramp in
        // TierSeventyNineSpec — this fixture's near-constant daily counts
        // keep the dyadic trend at 0, which parity above already pins)
      } finally q.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("s47: LIVE KMV distinct sketch (O(k) state per type) — drained ≡ batch q242; merge law; replay-quiet") {
    import graft.streaming.KmvMonitor
    import graft.operators.TierEightyOne
    import graft.functions.BottomK
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the SHARED hash projection shapes the feed (the cannot-drift rule)
      val rows = TierEightyOne.udayHashes(Tables.load(spark, sf, "events"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val in = MemoryStream[(String, Long)]
      val q = KmvMonitor.updates(
          in.toDF().select(col("_1").as("event_type"), col("_2").as("h")))
        .toDF()
        .writeStream.format("memory").queryName("s47_out").outputMode("append").start()
      try {
        val chunks = rows.grouped(math.max(1, rows.size / 5)).toSeq
        chunks.foreach { c => in.addData(c); q.processAllAvailable() }
        val n0 = spark.table("s47_out").count()
        // change-only emission ⇒ an at-least-once replay of already-folded
        // rows is output-SILENT (every hash collides in the window or sits
        // above the k-th value)
        in.addData(chunks.last); q.processAllAvailable()
        assert(spark.table("s47_out").count() == n0,
          "replaying folded rows must emit nothing")
        val updates = spark.table("s47_out").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getSeq[Long](4).toVector))
        // LAST update per key ≡ the batch q242 per-type row
        val last = updates.zipWithIndex.groupBy(_._1._1).view
          .mapValues(_.maxBy(_._2)._1).toMap
        val batch = TierEightyOne.q242.run(spark, sf).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
          .toMap
        assert(last.keySet == batch.keySet - "_all",
          "one live sketch per event type")
        for ((t, u) <- last)
          assert((u._2, u._3, u._4) == batch(t), s"$t: live sketch must equal batch")
        // the merge law LIVE: folding the drained per-type windows
        // together reproduces the batch '_all' row exactly
        val agg = new BottomK(TierEightyOne.KmvK)
        val merged = last.values.map(u => u._5: Seq[Long]).reduce(agg.merge)
        assert(TierEightyOne.kmvEstOf(merged) == batch("_all"),
          "merged per-type windows must equal the batch '_all' sketch")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("s41: LIVE CUSUM chart (transformWithState, frozen phase-I mu) ≡ batch q201") {
    import graft.streaming.CusumMonitor
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val grid = graft.operators.TierThirtyTwo.dailyCounts(Tables.load(spark, sf, "events"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      // frozen phase-I means: the same per-type floor-mean q201 trains on
      val mu = grid.groupBy(_._1).map { case (t, rs) =>
        t -> rs.map(_._3).sum / rs.size }
      val rows = grid.sortBy(x => (x._2, x._1)) // by day, types interleaved
      val in = MemoryStream[(String, Long, Long)]
      val q = CusumMonitor.chart(
          in.toDF().select(col("_1").as("event_type"), col("_2").as("day_idx"),
            col("_3").as("cnt")), mu)
        .toDF()
        .writeStream.format("memory").queryName("s41_out").outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.size / 6)).foreach { c =>
          in.addData(c); q.processAllAvailable()
        }
        val streamed = spark.table("s41_out").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5))).toSeq.sortBy(x => (x._1, x._2))
        val batch = graft.operators.TierFiftyNine.q201.run(spark, sf).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5))).toSeq
        assert(streamed == batch && streamed.exists(_._6 == 1L),
          s"live CUSUM must equal batch q201: ${streamed.size} vs ${batch.size}")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("s48: LIVE Page–Hinkley chart (transformWithState, 4 longs of state) ≡ batch q260") {
    import graft.streaming.PhMonitor
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val grid = graft.operators.TierThirtyTwo.dailyCounts(Tables.load(spark, sf, "events"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      // frozen per-type mu only parameterizes delta and lambda (the level
      // self-calibrates — PH's point); same floor-mean q260 derives.
      // One type is left UNPINNED on purpose: its chart rows must carry
      // pinned = 0 (the ADVICE r13 visibility marker) while the pinned
      // rest must still equal batch q260 bit for bit. The unpinned type
      // runs with δ = λ = 0; the fixture type's μ is asserted ≥ LambdaDiv
      // so its PINNED λ would be nonzero — the unpinned run is observably
      // more trigger-happy, which is what the marker exists to flag.
      val muAll = grid.groupBy(_._1).map { case (t, rs) =>
        t -> rs.map(_._3).sum / rs.size }
      val unpinnedType = muAll.toSeq.maxBy(t => (t._2, t._1))._1
      assert(muAll(unpinnedType) >= graft.operators.TierNinety.LambdaDiv,
        "fixture: the unpinned type's mu must yield a nonzero pinned lambda")
      val mu = muAll - unpinnedType
      val rows = grid.sortBy(x => (x._2, x._1)) // by day, types interleaved
      val in = MemoryStream[(String, Long, Long)]
      val q = PhMonitor.chart(
          in.toDF().select(col("_1").as("event_type"), col("_2").as("day_idx"),
            col("_3").as("cnt")), mu)
        .toDF()
        .writeStream.format("memory").queryName("s48_out").outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.size / 6)).foreach { c =>
          in.addData(c); q.processAllAvailable()
        }
        val streamedAll = spark.table("s48_out").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
          .sortBy(x => (x._1, x._2))
        assert(streamedAll.forall(p =>
            (p._7 == 0L) == (p._1 == unpinnedType)),
          "pinned marker must be 0 exactly on the unpinned type")
        val streamed = streamedAll.filter(_._1 != unpinnedType)
          .map(p => (p._1, p._2, p._3, p._4, p._5, p._6))
        val batch = graft.operators.TierNinety.q260.run(spark, sf).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5))).toSeq
        assert(streamed == batch.filter(_._1 != unpinnedType)
            && streamed.exists(_._6 == 1L) && streamed.exists(_._6 == 0L),
          s"live PH chart must equal batch q260 on the pinned types: " +
            s"${streamed.size} vs ${batch.size}")
        // the unpinned arm alarms on any positive deviation (λ = 0) — the
        // storm the marker exists to explain
        val unp = streamedAll.filter(_._1 == unpinnedType)
        assert(unp.nonEmpty && unp.forall(p => (p._6 == 1L) == (p._5 > 0L)),
          "unpinned type must alarm exactly on ph > 0")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("s39: LIVE priority sample (transformWithState top-k deltas) ≡ batch q189") {
    import graft.streaming.SampleMaintainer
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
      val in = MemoryStream[(Long, String)]
      val q = SampleMaintainer.deltas(
          in.toDF().select(col("_1").as("doc_id"), col("_2").as("text")))
        .toDF()
        .writeStream.format("memory").queryName("s39_out").outputMode("append").start()
      try {
        // duplicate deliveries ride along (r11 ADVICE): some rows arrive
        // twice in one batch AND re-arrive in the next — a doc must still
        // occupy at most ONE slot and the drained sample must equal batch
        var carry = Seq.empty[(Long, String)]
        rows.grouped(math.max(1, rows.size / 6)).foreach { c =>
          in.addData(c ++ c.take(2) ++ carry); carry = c.takeRight(2)
          q.processAllAvailable()
        }
        val deltas = spark.table("s39_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
        // replay the membership: net +1 rows are the resident sample
        val net = deltas.groupBy(d => (d._1, d._2, d._3))
          .view.mapValues(_.map(_._4).sum).toMap
        assert(net.values.forall(v => v == 0L || v == 1L),
          "every doc is admitted/evicted alternately, never doubly resident")
        val streamed = net.collect { case ((id, w, pr), 1L) => (id, w, pr) }
          .toSeq.sortBy(e => (-e._3, e._1))
        val batch = graft.operators.TierFiftyTwo.q189.run(spark, sf).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        assert(streamed == batch,
          s"drained sample must equal batch q189: ${streamed.size} vs ${batch.size}")
        // chunked arrival makes early borderline admits get evicted later —
        // the delta mechanism is exercised, not vacuous
        assert(deltas.exists(_._4 == -1L), "fixture must produce evictions")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("s36: LIVE SCD-2 history (transformWithState) ≡ batch q138 (closed stream + open state)") {
    // the q138 event-to-state fold on a stream: each event closes the
    // user's open version (emitted once, append mode) and opens its own.
    // Full-table parity: streamed closed rows ≡ q138's is_current=0 rows
    // bit for bit, and q138's is_current=1 rows ≡ the per-user open
    // versions the state is holding when the stream drains (reconstructed
    // here from the replayed input — they can't appear in append output)
    import graft.streaming.ScdProcessor
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = Tables.load(spark, sf, "events")
        .select(col("user_id"), col("ts").cast("timestamp"), col("event_id"),
          col("value").cast("double"),
          floor(col("value") * 100).cast("long")) // cents for the open-state law
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getDouble(3), r.getLong(4)))
        // full-precision (ts, event_id) order — the processor's documented
        // per-user delivery assumption (same shape as s23)
        .sortBy(t => (t._2.getTime, t._2.getNanos, t._3))
      val in = MemoryStream[(Long, java.sql.Timestamp, Long, Double, Long)]
      // the RAW value double rides into the processor — its floor(value*100)
      // is the same Spark expression the batch history() applies
      val q = ScdProcessor.history(
          in.toDF().select(col("_1").as("user_id"), col("_2").as("ts"),
            col("_3").as("event_id"), col("_4").as("value")))
        .toDF()
        .writeStream.format("memory").queryName("s36_out").outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.length / 6)).foreach { c =>
          in.addData(c); q.processAllAvailable()
        }
        def micros(t: java.sql.Timestamp): Long =
          t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
        val streamedClosed = spark.table("s36_out").collect()
          .map(r => (r.getLong(0), micros(r.getTimestamp(1)),
            micros(r.getTimestamp(2)), r.getLong(3))).toSeq.sorted
        val batch = graft.operators.TierTwentySeven.q138.run(spark, sf).collect()
          .map(r => (r.getLong(0),
            r.getAs[java.time.LocalDateTime]("valid_from"),
            r.getAs[java.time.LocalDateTime]("valid_to"),
            r.getLong(3), r.getLong(4)))
        def ntzMicros(t: java.time.LocalDateTime): Long =
          t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L + t.getNano / 1000L
        val batchClosed = batch.filter(_._5 == 0L)
          .map(b => (b._1, ntzMicros(b._2), ntzMicros(b._3), b._4)).toSeq.sorted
        assert(streamedClosed == batchClosed,
          s"closed-version stream must equal q138's closed rows (${streamedClosed.length} vs ${batchClosed.length})")
        assert(streamedClosed.nonEmpty)
        // the versions still OPEN in state = per-user last event — must be
        // exactly q138's is_current=1 rows (so stream ∪ state ≡ q138)
        val openExpected = rows.groupBy(_._1).values
          .map(_.maxBy(t => (micros(t._2), t._3)))
          .map(t => (t._1, micros(t._2), t._5)).toSeq.sorted
        val batchCurrent = batch.filter(_._5 == 1L)
          .map(b => { assert(b._3 == null, "current rows are open-ended")
            (b._1, ntzMicros(b._2), b._4) }).toSeq.sorted
        assert(openExpected == batchCurrent)
      } finally q.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("s37: volume tripwire — stream-maintained (type, day) grid + frozen stats ≡ batch q149") {
    import graft.operators.TierThirtyTwo
    // the grid is ONE streaming groupBy in complete mode (the s17/s19/s20
    // stream-maintained-sketch shape); the frozen per-type (n, S, SS)
    // reference and the shared anomaly predicate then flag exactly what
    // the oracle-checked batch q149 flags
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_type"), col("ts").cast("timestamp").as("ts"))
    val frozen = TierThirtyTwo.statsOf(TierThirtyTwo.dailyCounts(ev))
    val rows = ev.collect().map(r => (r.getString(0), r.getTimestamp(1))).toSeq
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val q = TierThirtyTwo.dailyCounts(
        in.toDF().select(col("_1").as("event_type"), col("_2").as("ts")))
      .writeStream.format("memory").queryName("s37_grid").outputMode("complete").start()
    try {
      rows.grouped(math.max(1, rows.size / 6)).foreach { c =>
        in.addData(c); q.processAllAvailable()
      }
      val grid = spark.table("s37_grid")
      // the stream-maintained grid IS the batch grid...
      assert(canon(grid) == canon(TierThirtyTwo.dailyCounts(ev)))
      // ...and through the shared predicate, the flags are q149's exactly
      val streamed = TierThirtyTwo.flagged(grid, frozen)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(x => (x._1, x._2))
      val batch = TierThirtyTwo.q149.run(spark, sf)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("s24: stateless classifier gate on a stream ≡ batch (string-hash scoreCol)") {
    // the quality-classifier admission as pure flow: scoreCol is one column
    // expression (literal weight array, xxhash64 bucketing, higher-order
    // fold) — no vocab table, no joins, no state store — so the identical
    // gate screens a live stream and must admit exactly the batch set
    import graft.operators.TierEleven
    val w = TierEleven.pseudoWeights
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val batchScores = docs
      .select(col("doc_id"), TierEleven.scoreCol(w, col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the gate must actually split the corpus to mean anything
    assert(batchScores.values.exists(_ >= 0) && batchScores.values.exists(_ < 0))
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      .withColumn("s", TierEleven.scoreCol(w, col("text")))
      .filter(col("s") >= 0)
      .select("doc_id", "s")
      .writeStream.format("memory").queryName("s24_out").outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 4)).foreach { c =>
        in.addData(c); q.processAllAvailable()
      }
      val streamed = spark.table("s24_out").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batchAdmitted = batchScores.filter(_._2 >= 0)
      assert(streamed == batchAdmitted,
        s"streamed gate must equal batch: ${streamed.size} vs ${batchAdmitted.size}")
    } finally q.stop()
  }

  test("s26: PII scrub on a stream ≡ batch (stateless redact column)") {
    import graft.operators.TierEleven
    // inject PII into a few rows (the q86 fixture classes), scrub on the
    // stream — redact is one column expression, so streamed output must be
    // byte-identical to the batch scrub of the same rows
    // doc_id < 40 (deterministic membership: %3/%4 rows guaranteed in),
    // filtered BEFORE collect so the driver never holds the full table
    val rows = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .filter(col("doc_id") < 40).collect().map { r =>
        val id = r.getLong(0)
        val t = r.getString(1) +
          (if (id % 3 == 0) " contact bob@example.com now" else "") +
          (if (id % 4 == 0) " call 555-123-4567 ok" else "")
        (id, t)
      }.toSeq
    val batch = rows.toDF("doc_id", "text")
      .select(col("doc_id"), TierEleven.redact(col("text")).as("clean"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(batch.values.exists(_.contains("[EMAIL]")), "fixture must inject PII")
    assert(!batch.values.exists(v => v.contains("@") || v.matches(".*[0-9]{3}-[0-9]{3}-[0-9]{4}.*")))
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      .select(col("doc_id"), TierEleven.redact(col("text")).as("clean"))
      .writeStream.format("memory").queryName("s26_out").outputMode("append").start()
    try {
      rows.grouped(10).foreach { c => in.addData(c); q.processAllAvailable() }
      val streamed = spark.table("s26_out").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("s28: Gopher rule gate runs LIVE per micro-batch ≡ batch q106 (foreachBatch)") {
    import graft.operators.TierFifteen
    // the rule battery is per-doc independent, so the production ingest
    // shape is foreachBatch + the SAME gopherFlags call — admission flags
    // on the drained stream must equal the batch run on the full table
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val batch = TierFifteen.gopherFlags(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1).toVector).toMap
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val acc = scala.collection.mutable.Map.empty[Long, Vector[Any]]
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      .writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        TierFifteen.gopherFlags(df).collect()
          .foreach(r => acc(r.getLong(0)) = r.toSeq.drop(1).toVector)
        ()
      }.start()
    try {
      rows.grouped(120).foreach { c => in.addData(c); q.processAllAvailable() }
      assert(acc.toMap == batch)
      assert(acc.nonEmpty)
    } finally q.stop()
  }

  test("s29: BPE encode on a stream ≡ batch q110 (frozen merges, stateless replace chain)") {
    import graft.operators.{TierFifteen, TierThirteen}
    // freeze the merge table once (the trained-artifact convention: learn in
    // batch, screen the stream), then the unrolled replace chain is a pure
    // narrow projection — append mode, no state
    val merges = TierThirteen.q99.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val batch = TierFifteen.bpeEncodeCounts(docs, merges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val in = MemoryStream[(Long, String)]
    val q = TierFifteen.bpeEncodeCounts(
        in.toDF().select(col("_1").as("doc_id"), col("_2").as("text")), merges)
      .writeStream.format("memory").queryName("s29_out").outputMode("append").start()
    try {
      rows.grouped(150).foreach { c => in.addData(c); q.processAllAvailable() }
      val streamed = spark.table("s29_out").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("s42: LIVE additive IVM changelog (transformWithState) ≡ batch q209") {
    // q209's commutative fold maintained live: chunked replay of the
    // delta stream; the max-ver row per key is the maintained view and
    // must equal the batch fold exactly (no delivery-order assumption —
    // the group commutes)
    import graft.streaming.IvmMaintainer
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = graft.operators.TierSixtyThree
        .ivmDeltaOf(Tables.load(spark, sf, "events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._2) // replay in seq order (any order folds identically)
      val in = MemoryStream[(Long, Long, Long)]
      val q = IvmMaintainer.changes(
          in.toDF().select(col("_1").as("user_id"), col("_2").as("m"),
            col("_3").as("cents")))
        .toDF()
        .writeStream.format("memory").queryName("s42_out").outputMode("update").start()
      try {
        rows.map(r => (r._1, r._3, r._4)).grouped(math.max(1, rows.length / 6))
          .foreach { c => in.addData(c); q.processAllAvailable() }
        val emitted = spark.table("s42_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        val live = emitted.groupBy(_._1).toSeq
          .map { case (u, rs) => val last = rs.maxBy(_._4); (u, last._2, last._3) }
          .filter(r => r._2 != 0 || r._3 != 0) // tombstoned keys left the view
          .sortBy(_._1)
        val batch = graft.operators.TierSixtyThree.q209.run(spark, sf).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        assert(live == batch,
          s"live IVM view must equal batch q209 (${live.size} vs ${batch.size})")
        // state genuinely carried across micro-batches: some key updated twice
        assert(emitted.exists(_._4 >= 2L), "a key must span micro-batches")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("s42: the IVM tombstone fires at identity and a reborn key restarts its changelog") {
    import graft.streaming.IvmMaintainer
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, Long, Long)]
      val q = IvmMaintainer.changes(
          in.toDF().select(col("_1").as("user_id"), col("_2").as("m"),
            col("_3").as("cents")))
        .toDF()
        .writeStream.format("memory").queryName("s42_tomb").outputMode("update").start()
      try {
        in.addData(Seq((7L, 1L, 500L))); q.processAllAvailable()  // insert
        in.addData(Seq((7L, -1L, 500L))); q.processAllAvailable() // exact retract
        in.addData(Seq((7L, 1L, 100L))); q.processAllAvailable()  // rebirth
        val got = spark.table("s42_tomb").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
        assert(got.contains((7L, 1L, 500L, 1L)), s"insert row missing: $got")
        assert(got.contains((7L, 0L, 0L, 2L)), s"identity tombstone missing: $got")
        assert(got.contains((7L, 1L, 100L, 1L)),
          s"reborn key must restart its changelog from ver 1 (state cleared): $got")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("s43: event-time TIMER silence alerts — fires on proven absence, supersede works") {
    // the one detection no input-driven operator can do: the alert is
    // triggered by the ABSENCE of the key's own data, so a registered
    // event-time timer (woken by the watermark other keys advance) must
    // fire it. Scenario: user 1 goes dark after day 0 (alert, last_seen
    // day 0); user 3 re-appears on day 1 — the day-0 timer is superseded,
    // then the day-1 silence alerts (ONE alert, the LATER last_seen);
    // user 2 stays active through the end (never ≥ 2 event-time days
    // silent before the final watermark — no alert)
    import graft.streaming.SilenceMonitor
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(day: Int): java.sql.Timestamp = java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 5, 1, 12, 0).plusDays(day))
      val silenceMs = 2L * 86400000L
      val chunks: Seq[Seq[(Long, java.sql.Timestamp)]] = Seq(
        Seq((1L, ts(0)), (2L, ts(0)), (3L, ts(0))),
        Seq((2L, ts(1)), (3L, ts(1))),
        Seq((2L, ts(2))), Seq((2L, ts(3))), Seq((2L, ts(4))), Seq((2L, ts(5))),
        Seq((99L, ts(8))), // watermark flusher: drives the tail timers
        // user 1 RETURNS after its alert closed the episode (state was
        // cleared): a fresh episode seeds, goes silent, alerts AGAIN
        Seq((1L, ts(9))),
        Seq((98L, ts(12)))) // second flusher: drives the return-episode timer
      val in = MemoryStream[(Long, java.sql.Timestamp)]
      val q = SilenceMonitor.alerts(
          in.toDF().select(col("_1").as("user_id"), col("_2").as("ts")), silenceMs)
        .toDF()
        .writeStream.format("memory").queryName("s43_out").outputMode("append").start()
      try {
        chunks.foreach { c => in.addData(c); q.processAllAvailable() }
        val alerts = spark.table("s43_out").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        val expected = Seq((1L, ts(0).getTime), (1L, ts(9).getTime),
          (2L, ts(5).getTime), (3L, ts(1).getTime), (99L, ts(8).getTime)).sorted
        // user 2's last event (day 5) is ≥ 2 days before the day-8
        // flusher watermark, so its tail alert legitimately fires too;
        // the day-8 flusher key itself silences by the day-12 flusher
        assert(alerts == expected,
          s"timer alerts must be exactly the proven silences: $alerts")
        assert(alerts.count(_._1 == 3L) == 1,
          "the superseded day-0 timer must NOT double-fire user 3")
        assert(alerts.count(_._1 == 1L) == 2,
          "a returning key must open a FRESH episode after its alert cleared the state")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("s44: LIVE run-length monitor (O(1) state) ≡ batch q234 islands") {
    // the scale path q234's docstring declares: the batch audit needs a
    // per-lang window; the live fold needs THREE scalars of state. The
    // drained closed runs + the one still-open run must reproduce the
    // batch islands exactly.
    import graft.streaming.RunMonitor
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the naive easy-first feed: (pos, lang) in training order
      val feed = Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("lang"),
          size(filter(split(col("text"), " "), x => x =!= "")).cast("long").as("d"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
        .sortBy(t => (t._3, t._1)).zipWithIndex
        .map { case ((_, lang, _), i) => (i + 1L, lang) }
      // in-memory islands over the same feed
      val islands = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      for ((pos, lang) <- feed) {
        if (islands.nonEmpty && islands.last._1 == lang)
          islands(islands.size - 1) = (lang, islands.last._2, islands.last._3 + 1)
        else islands += ((lang, pos, 1L))
      }
      val in = MemoryStream[(Long, String)]
      val q = RunMonitor.runs(
          in.toDF().select(col("_1").as("pos"), col("_2").as("lang")))
        .toDF()
        .writeStream.format("memory").queryName("s44_out").outputMode("append").start()
      try {
        feed.grouped(math.max(1, feed.size / 7)).foreach { c =>
          in.addData(c); q.processAllAvailable()
        }
        val closed = spark.table("s44_out").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        // every island except the final (still-open) run is closed, in order
        assert(closed == islands.toSeq.dropRight(1),
          s"closed runs must equal batch islands minus the open tail: ${closed.size}")
        assert(closed.exists(_._3 >= 2L), "fixture must clump (q234's premise)")
        // cross-engine aggregate parity: per-lang (n_docs, n_runs, max_run)
        // from closed + open ≡ the declared q234 report
        val all = islands.toSeq
        val agg = all.groupBy(_._1).toSeq.sortBy(_._1).map { case (l, rs) =>
          (l, rs.map(_._3).sum, rs.size.toLong, rs.map(_._3).max)
        }
        val batch = operators.TierSeventySeven.q234.run(spark, sf).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
        assert(agg == batch, "streamed islands must aggregate to the q234 report")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }
}
