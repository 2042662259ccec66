package graft

import graft.streaming.{EwmaMonitor, EwmaPoint, TweetPipelines}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.collection.mutable.ArrayBuffer

/** s09 — streaming checkpoint/recovery. The reference ships with
  * checkpointing commented out (`/root/reference` Main.java:50-55); this
  * pins the capability done properly: a stopped query restarted against the
  * same `checkpointLocation` resumes epoch numbering and does NOT re-emit
  * windows it already finalized (watermark + window state restored from the
  * state store, source offsets from the offset log).
  */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tweet(text: String, atMs: Long): String =
    s"""{"text":"$text","createdAt":$atMs,"lang":"en"}"""

  test("s09: restart from checkpoint resumes epochs, no re-emitted windows") {
    val cpDir = java.nio.file.Files.createTempDirectory("graft-cp").toString
    val in = MemoryStream[String]
    val emitted = ArrayBuffer.empty[(Long, Long, Long)] // (epochId, windowEndMs, cnt)
    def startQuery() = TweetPipelines.perSecondCounts(
        TweetPipelines.withLateness(TweetPipelines.parse(in.toDF())))
      .writeStream.outputMode("append")
      .option("checkpointLocation", cpDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epochId: Long) =>
        emitted.synchronized {
          emitted ++= batch.collect().map(r =>
            (epochId, r.getTimestamp(0).getTime, r.getLong(1)))
        }
        (): Unit
      }.start()

    // run 1: two tweets in [1s,2s), one in [2s,3s); advance the watermark
    // far past them so both windows finalize and emit
    val q1 = startQuery()
    try {
      in.addData(tweet("a", 1100), tweet("b", 1500), tweet("c", 2200))
      q1.processAllAvailable()
      in.addData(tweet("advance", 400000))
      q1.processAllAvailable()
      in.addData(tweet("flush", 800000))
      q1.processAllAvailable()
    } finally q1.stop()

    val run1 = emitted.synchronized(emitted.toVector)
    val run1Windows = run1.map(e => (e._2, e._3)).toSet
    // the trailing no-data batch after "flush" (wm=500s) also finalizes [400s,401s)
    assert(run1Windows == Set((2000L, 2L), (3000L, 1L), (401000L, 1L)),
      s"run 1 should emit exactly the three finalized windows, got $run1")
    val lastEpoch = run1.map(_._1).max

    // run 2: same checkpoint, same source. Recovery must (a) continue the
    // epoch counter, (b) restore the 500 s watermark + window state (so the
    // pending [800s,801s) window finalizes once flush2 advances the
    // watermark, and a 1.7 s straggler is dropped), and (c) never re-emit
    // the three windows run 1 finalized.
    val q2 = startQuery()
    try {
      in.addData(tweet("late-ignored", 1700)) // behind restored watermark → dropped
      q2.processAllAvailable()
      in.addData(tweet("flush2", 1200000))
      q2.processAllAvailable()
    } finally q2.stop()

    val run2 = emitted.synchronized(emitted.toVector).drop(run1.size)
    assert(run2.nonEmpty, "restarted query emitted nothing")
    assert(run2.forall(_._1 > lastEpoch),
      s"epoch counter must resume past $lastEpoch, got ${run2.map(_._1)}")
    val windows2 = run2.map(e => (e._2, e._3))
    assert(windows2.toSet.intersect(run1Windows).isEmpty,
      s"run-1 windows re-emitted after restart: $windows2")
    assert(windows2.contains((801000L, 1L)),
      s"the pending [800s,801s) window should finalize in run 2, got $windows2")
  }

  test("s11: flatMapGroupsWithState burst detector — bursts close on event-time timeout") {
    val in = MemoryStream[String]
    val tags = TweetPipelines.hashtags(
      TweetPipelines.withLateness(TweetPipelines.parse(in.toDF()), "10 seconds"))
    val bursts = TweetPipelines.hashtagBursts(tags, gapMs = 60000L)
    val q = bursts.writeStream.format("memory").queryName("s11_bursts")
      .outputMode("append").start()
    try {
      // burst 1: #x three times within 2 s
      in.addData(tweet("a #x", 1000), tweet("b #x", 2000), tweet("c #x", 3000))
      q.processAllAvailable()
      // #x again WAY beyond the gap, in the very next batch — the key is
      // continuously active so no timeout fires; the data-driven close must
      // emit burst 1 and start burst 2 (a key with data in every batch
      // would otherwise merge bursts unboundedly)
      in.addData(tweet("d #x", 300000), tweet("e #x", 301000))
      q.processAllAvailable()
      val after1 = spark.table("s11_bursts").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(after1 == Set(("#x", 1000L, 3000L, 3L)), s"got $after1")

      // burst 2 closes via the event-time TIMEOUT once the watermark passes
      // 301s + 60s gap (two flush batches: wm advances, then timeout fires)
      in.addData(tweet("flush #y", 700000))
      q.processAllAvailable()
      in.addData(tweet("flush2 #y", 710000))
      q.processAllAvailable()
      val after2 = spark.table("s11_bursts").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(after2.contains(("#x", 300000L, 301000L, 2L)), s"got $after2")
      assert(after2.count(_._1 == "#x") == 2, s"exactly two #x bursts, got $after2")
    } finally q.stop()
  }

  test("s40: a keyed fold restarted from its checkpoint charts exactly the uninterrupted run") {
    // the s40 EWMA day-close replay on RocksDB: stop after half the
    // chunks, restart on the same checkpointLocation, and the restored
    // per-type state must continue the chart — no point lost, re-emitted
    // or charted from a reset EWMA
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = graft.operators.TierThirtyTwo.dailyCounts(Tables.load(spark, sf, "events"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(x => (x._2, x._1))
      val chunks = rows.grouped(math.max(1, rows.size / 6)).toSeq
      def chart(restartAt: Option[Int]): Seq[EwmaPoint] = {
        val cpDir = java.nio.file.Files.createTempDirectory("graft-cp-s40").toString
        val in = MemoryStream[(String, Long, Long)]
        val emitted = ArrayBuffer.empty[EwmaPoint]
        def startQuery() = EwmaMonitor.chart(
            in.toDF().select($"_1".as("event_type"), $"_2".as("day_idx"), $"_3".as("cnt")))
          .writeStream.outputMode("append")
          .option("checkpointLocation", cpDir)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[EwmaPoint], _: Long) =>
            emitted.synchronized { emitted ++= batch.collect() }
            (): Unit
          }.start()
        restartAt.fold(Seq(chunks))(n => Seq(chunks.take(n), chunks.drop(n))).foreach { run =>
          val q = startQuery()
          try run.foreach { c => in.addData(c); q.processAllAvailable() }
          finally q.stop()
        }
        emitted.synchronized(emitted.toVector).sortBy(p => (p.event_type, p.day_idx))
      }
      val whole = chart(None)
      val restarted = chart(Some(chunks.size / 2))
      assert(whole.size == rows.size && whole.exists(_.flag == 1L))
      assert(restarted == whole,
        s"restarted chart differs: ${restarted.diff(whole).take(5)} vs ${whole.diff(restarted).take(5)}")
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }
}
