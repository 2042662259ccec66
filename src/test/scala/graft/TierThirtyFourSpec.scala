package graft

import graft.operators.TierThirtyFour
import org.apache.spark.sql.functions._

/** Tier-34 differentials: q152 against an in-memory rank replication
  * plus the round-robin interleave law; q153 against direct grouping of
  * q152's order; plan/shape gates.
  */
class TierThirtyFourSpec extends SparkSpec {

  private def docs: Seq[(Long, String, Long)] =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), x => x =!= "")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

  private def expectedOrder: Seq[(Long, Long, String, Long)] = {
    val ranked = docs.groupBy(_._2).toSeq.flatMap { case (src, xs) =>
      xs.sortBy(x => (x._3, x._1)).zipWithIndex
        .map { case ((id, _, diff), i) => (i + 1L, src, id, diff) }
    }
    ranked.sortBy { case (rk, src, id, _) => (rk, src, id) }
      .zipWithIndex.map { case ((_, src, id, diff), p) => (p + 1L, id, src, diff) }
  }

  test("q152 curriculum ≡ in-memory stratified rank; dense positions; round-robin law") {
    val expected = expectedOrder
    val got = TierThirtyFour.q152.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.map(_._1) == (1L to got.size).toSeq, "positions are dense 1..N")
    // round-robin: every doc of per-source rank k sits before every doc
    // of rank k+1 — no source floods a curriculum window
    val rankOf = docs.groupBy(_._2).values.flatMap { xs =>
      xs.sortBy(x => (x._3, x._1)).zipWithIndex.map { case (x, i) => x._1 -> (i + 1) }
    }.toMap
    val ranksAlongOrder = got.map(x => rankOf(x._2))
    assert(ranksAlongOrder == ranksAlongOrder.sorted,
      "per-source ranks must be non-decreasing along the curriculum")
    // within each source, difficulty is non-decreasing along the order
    for ((_, xs) <- got.groupBy(_._3))
      assert(xs.sortBy(_._1).map(_._4) == xs.sortBy(_._1).map(_._4).sorted,
        "easy-first must hold inside every source")
  }

  test("q153 batches ≡ grouped q152; full batches are source-diverse") {
    val order = expectedOrder
    val expected = order.groupBy(x => (x._1 - 1) / 32).toSeq.sortBy(_._1)
      .map { case (b, xs) =>
        (b, xs.size.toLong, xs.map(_._3).distinct.size.toLong, xs.map(_._4).sum)
      }
    val got = TierThirtyFour.q153.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    val full = got.filter(_._2 == 32L)
    assert(full.nonEmpty && full.forall(_._3 > 1),
      "every full batch must mix more than one source")
  }

  test("tier-34 plan gates: no CartesianProduct; the global rank is two-pass, not SinglePartition") {
    for (q <- TierThirtyFour.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
      assert(!plan.contains("SinglePartition"),
        s"${q.name} must rank via the two-pass Cumulative, not a global window: ${plan.take(800)}")
    }
  }
}
