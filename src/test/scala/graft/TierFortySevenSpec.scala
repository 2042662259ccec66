package graft

import graft.operators.TierFortySeven
import org.apache.spark.sql.functions._

/** Tier-47 differentials: both re-derived from collected per-user
  * timelines; monotonicity/conservation laws; plan gates.
  */
class TierFortySevenSpec extends SparkSpec {

  private def timelines: Map[Long, Seq[Long]] =
    Tables.load(spark, sf, "events")
      .select(col("user_id"), expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"),
        col("event_type"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).sorted }

  test("q178 survival ≡ in-memory lifetimes; non-increasing; starts at the full cohort") {
    val life = timelines.map { case (u, ts) => u -> (ts.max - ts.min) / 86400000000L }
    val offs = (life.values.toSet + 0L).toSeq.sorted
    val n = life.size.toLong
    val expected = offs.map { d =>
      val alive = life.values.count(_ >= d).toLong
      (d, alive, alive * 1000000 / n)
    }
    val got = TierFortySeven.q178.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.head == (0L, n, 1000000L), "everyone survives to day 0")
    assert(got.map(_._2) == got.map(_._2).sorted.reverse, "survival never increases")
    assert(got.last._2 >= 1, "the longest-lived users define the last offset")
  }

  test("q179 cadence ≡ in-memory gap fold; gaps conserve; a repeat cadence exists") {
    val pe = Tables.load(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val gaps = pe.groupBy(_._1).values.toSeq.flatMap { xs =>
      val o = xs.sortBy(x => (x._2, x._3)).map(_._2)
      o.zip(o.drop(1)).map { case (a, b) => (b - a) / 86400000000L }
    }
    val expected = gaps.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (g, xs) => (g, xs.size.toLong) }
    val got = TierFortySeven.q179.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    val buyers = pe.groupBy(_._1).mapValues(_.size)
    assert(got.map(_._2).sum == buyers.values.map(c => (c - 1).toLong).sum,
      "every consecutive purchase pair yields exactly one gap")
    assert(got.nonEmpty && got.map(_._1).forall(_ >= 0))
  }

  test("tier-47 plan gates: no CartesianProduct beyond the pinned offsets broadcast") {
    for (q <- TierFortySeven.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
