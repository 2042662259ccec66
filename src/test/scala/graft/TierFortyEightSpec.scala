package graft

import graft.operators.{TierEleven, TierFortyEight}
import org.apache.spark.sql.functions._

/** Tier-48 differentials: both grids re-derived from collected ranks;
  * margin-balance and conservation laws; plan gates.
  */
class TierFortyEightSpec extends SparkSpec {

  private def decile(rank: Int, n: Int, k: Int): Long = ((rank - 1).toLong * k) / n

  test("q180 joint grid ≡ in-memory ranks; margins balanced; docs conserved") {
    val scores = TierEleven.classifierScores(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val toks = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), x => x =!= "")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = toks.size
    val lRank = toks.toSeq.sortBy { case (id, t) => (t, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val qRank = scores.toSeq.sortBy { case (id, s) => (s, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val expected = toks.keys.toSeq
      .map(id => (decile(lRank(id), n, 10), decile(qRank(id), n, 10)))
      .groupBy(identity).toSeq.sortBy(_._1)
      .map { case ((l, q), xs) => (l, q, xs.size.toLong) }
    val got = TierFortyEight.q180.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.map(_._3).sum == n, "every document lands in one cell")
    for (axis <- Seq(got.groupBy(_._1), got.groupBy(_._2)); (_, xs) <- axis) {
      val m = xs.map(_._3).sum
      assert(math.abs(m - n / 10) <= 1, s"deciles must be balanced, got margin $m")
    }
  }

  test("q181 RFM ≡ in-memory ranks; users conserved; every axis has balanced terciles") {
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("d"),
        col("event_type"), floor(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    val wend = ev.map(_._2).max
    val u = ev.groupBy(_._1).map { case (uid, xs) =>
      (uid, wend - xs.map(_._2).max, xs.size.toLong,
        xs.filter(_._3 == "purchase").map(_._4).sum)
    }.toSeq
    val n = u.size
    def ranks(key: ((Long, Long, Long, Long)) => (Long, Long)): Map[Long, Int] =
      u.sortBy(key).zipWithIndex.map { case (x, i) => x._1 -> (i + 1) }.toMap
    val rr = ranks(x => (x._2, x._1))
    val fr = ranks(x => (-x._3, x._1))
    val mr = ranks(x => (-x._4, x._1))
    val expected = u.map(x =>
        (decile(rr(x._1), n, 3), decile(fr(x._1), n, 3), decile(mr(x._1), n, 3)))
      .groupBy(identity).toSeq.sortBy(_._1)
      .map { case ((r, f, m), xs) => (r, f, m, xs.size.toLong) }
    val got = TierFortyEight.q181.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.map(_._4).sum == n, "every user lands in one segment")
    assert(got.forall(x => Seq(x._1, x._2, x._3).forall(c => c >= 0 && c <= 2)))
    // rank-based terciles balance each axis margin within ±1 by
    // construction, whatever the joint distribution looks like
    for (axis <- Seq(got.groupBy(_._1), got.groupBy(_._2), got.groupBy(_._3))) {
      assert(axis.keySet == Set(0L, 1L, 2L), "all three codes appear on every axis")
      for ((_, xs) <- axis)
        assert(math.abs(xs.map(_._4).sum - n / 3) <= 1, "terciles balanced within ±1")
    }
  }

  test("tier-48 plan gates: no CartesianProduct; decile ranks are two-pass") {
    for (q <- TierFortyEight.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
      assert(!plan.contains("SinglePartition"),
        s"${q.name} must rank via the two-pass Cumulative: ${plan.take(800)}")
    }
  }
}
