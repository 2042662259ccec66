package graft

import graft.operators.TierNinetySeven
import graft.streaming.KsMonitor
import org.apache.spark.sql.functions._

/** s50 — the LIVE KS drift monitor against a frozen reference CDF.
  * Laws:
  *  - the drained stream's LAST readout per key ≡ the batch fold of the
  *    same rows through the ONE shared [[TierNinetySeven.ksGridStep]];
  *  - exactness: when every live value lands on a grid point, grid-KS
  *    equals q273's exact two-sample D bit for bit; off-grid live
  *    values make it a LOWER bound (both directions pinned);
  *  - identical live and reference distributions read 0; a shifted live
  *    stream alarms high;
  *  - an unpinned key emits pinned = 0 with −1 distances and still
  *    counts (the ADVICE-r13 visibility convention).
  */
class KsMonitorSpec extends SparkSpec {
  import spark.implicits._

  private def refOf(values: Seq[Long]): IndexedSeq[(Long, Long)] = {
    val sorted = values.sorted
    sorted.distinct.map(v => v -> sorted.count(_ <= v).toLong).toIndexedSeq
  }

  private def bucketFold(grid: IndexedSeq[Long], values: Seq[Long]): Map[Int, Long] =
    values.groupBy(x => grid.indexWhere(_ >= x) match {
      case -1 => grid.length
      case i  => i
    }).map { case (b, xs) => b -> xs.size.toLong }

  test("s50: drained KS monitor ≡ shared-fold batch replay; exact on-grid; zero/shift/unpinned laws") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // per-type daily counts: reference = first half of the day grid,
      // live = second half (the deployment pins a trusted window)
      val grid = graft.operators.TierThirtyTwo.dailyCounts(
          Tables.load(spark, sf, "events"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val mid = (grid.map(_._2).min + grid.map(_._2).max) / 2
      val refRows = grid.filter(_._2 <= mid)
      val liveRows = grid.filter(_._2 > mid)
      val types = grid.map(_._1).distinct.sorted
      val unpinnedType = types.last
      val ref = types.filterNot(_ == unpinnedType).map { t =>
        t -> refOf(refRows.filter(_._1 == t).map(_._3))
      }.toMap
      val live = liveRows.map(r => (r._1, r._3)).sortBy(_._2)

      val in = MemoryStream[(String, Long)]
      val q = KsMonitor.watch(
          in.toDF().select(col("_1").as("event_type"), col("_2").as("v")), ref)
        .toDF()
        .writeStream.format("memory").queryName("s50_out")
        .outputMode("append").start()
      try {
        live.grouped(math.max(1, live.size / 5)).foreach { c =>
          in.addData(c); q.processAllAvailable()
        }
        // last emission per key (the monitor's current readout)
        val all = spark.table("s50_out").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4))).toSeq
        val last = all.groupBy(_._1).map { case (t, xs) => t -> xs.maxBy(_._2) }
        for (t <- types) {
          val vals = live.filter(_._1 == t).map(_._2)
          if (t == unpinnedType) {
            val p = last(t)
            assert((p._3, p._4, p._5) == ((-1L, -1L, 0L)) &&
              p._2 == vals.size.toLong,
              s"unpinned key must count with -1 distances: $p")
          } else {
            val gridT = ref(t).map(_._1)
            val (n, num, ppm) = TierNinetySeven.ksGridStep(
              bucketFold(gridT, vals), ref(t).map(_._2))
            assert(last(t) == ((t, n, num, ppm, 1L)),
              s"drained readout must equal the shared-fold replay for $t: " +
                s"${last(t)} vs ($n, $num, $ppm)")
          }
        }
        assert(last.exists(p => p._2._5 == 1L && p._2._4 >= 0L),
          "at least one pinned key must produce a live readout")
      } finally q.stop()

      // exactness: live values all ON grid points ⇒ grid-KS ≡ q273's exact D
      val refVals = Seq(10L, 10L, 20L, 30L, 30L, 40L)
      val liveOn = Seq(10L, 20L, 20L, 40L, 40L)
      val rc = refOf(refVals)
      val (n1, num1, ppm1) = TierNinetySeven.ksGridStep(
        bucketFold(rc.map(_._1), liveOn), rc.map(_._2))
      val exact = TierNinetySeven.ksOver(
          (refVals.map(v => (0L, v)) ++ liveOn.map(v => (1L, v)))
            .toDF("arm", "cents")).collect().head
      assert(n1 == liveOn.size.toLong && num1 == exact.getLong(2)
        && ppm1 == exact.getLong(3),
        s"on-grid KS must equal the exact two-sample D: $num1 vs ${exact.getLong(2)}")
      // off-grid live values ⇒ a lower bound, never an overshoot
      val liveOff = Seq(15L, 25L, 25L, 45L, 45L)
      val (_, numOff, _) = TierNinetySeven.ksGridStep(
        bucketFold(rc.map(_._1), liveOff), rc.map(_._2))
      val exactOff = TierNinetySeven.ksOver(
          (refVals.map(v => (0L, v)) ++ liveOff.map(v => (1L, v)))
            .toDF("arm", "cents")).collect().head
      assert(numOff <= exactOff.getLong(2), "grid-KS must lower-bound the exact D")
      // identical distribution ⇒ 0; a +1000 shift ⇒ maximal drift (10⁶)
      val (_, numSame, ppmSame) = TierNinetySeven.ksGridStep(
        bucketFold(rc.map(_._1), refVals), rc.map(_._2))
      assert(numSame == 0L && ppmSame == 0L, "self-comparison must read 0")
      val (_, _, ppmShift) = TierNinetySeven.ksGridStep(
        bucketFold(rc.map(_._1), refVals.map(_ + 1000L)), rc.map(_._2))
      assert(ppmShift == 1000000L, "a fully shifted live stream maxes out")
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("s50: empty-reference sentinel, BigInt ppm beyond Int64, maxLive window reset (ADVICE r14)") {
    // empty reference CDF: the -1 sentinel, NOT NoSuchElementException
    // (the r14 guard-order fix — refCum.last ran before the isEmpty check)
    assert(TierNinetySeven.ksGridStep(Map(0 -> 5L), IndexedSeq.empty[Long])
      == ((5L, -1L, -1L)), "empty reference must read the -1 sentinel")
    assert(TierNinetySeven.ksGridStep(Map.empty[Int, Long], IndexedSeq.empty[Long])
      == ((0L, -1L, -1L)), "empty both sides must read the -1 sentinel")
    // overflow: n_live = 10^13 in the overflow bucket against n_ref = 1 —
    // the pre-fix 10^6·best wraps Int64 (10^19 > 2^63); BigInt reads the
    // exact maximal drift
    val big = 10000000000000L
    val (nB, numB, ppmB) = TierNinetySeven.ksGridStep(Map(1 -> big), IndexedSeq(1L))
    assert(nB == big && numB == big && ppmB == 1000000L,
      s"10^13 live obs must read exact maximal ppm, got ($nB, $numB, $ppmB)")

    // maxLive = 3: the readout at the boundary covers the first window,
    // then the buckets clear and the next batch is a FRESH window
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ref = Map("k" -> refOf(Seq(10L, 20L, 30L)))
      val in = MemoryStream[(String, Long)]
      val q = KsMonitor.watch(
          in.toDF().select(col("_1").as("event_type"), col("_2").as("v")),
          ref, maxLive = 3L)
        .toDF()
        .writeStream.format("memory").queryName("s50_reset")
        .outputMode("append").start()
      try {
        in.addData(("k", 10L), ("k", 10L), ("k", 10L)); q.processAllAvailable()
        in.addData(("k", 30L), ("k", 30L)); q.processAllAvailable()
        val pts = spark.table("s50_reset").collect()
          .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
        val gridK = ref("k").map(_._1)
        val w1 = TierNinetySeven.ksGridStep(
          bucketFold(gridK, Seq(10L, 10L, 10L)), ref("k").map(_._2))
        val w2 = TierNinetySeven.ksGridStep(
          bucketFold(gridK, Seq(30L, 30L)), ref("k").map(_._2))
        assert(pts == Seq((w1._1, w1._2, w1._3), (w2._1, w2._2, w2._3)),
          s"window 2 must start fresh after the maxLive boundary: $pts vs $w1 / $w2")
        assert(pts(1)._1 == 2L, "post-reset n_live must count only the new window")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }
}
