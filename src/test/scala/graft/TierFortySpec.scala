package graft

import graft.operators.{TextOps, TierEleven, TierFour, TierForty}
import org.apache.spark.sql.functions._

/** Tier-40 differentials: q164 against a sequential high-water-mark
  * fold (incl. the q140 percentile interpolation), q165 against
  * union-find + collected scores; watermark-relevance and keep-rule
  * laws; plan gates.
  */
class TierFortySpec extends SparkSpec {

  test("q164 records ≡ sequential fold; strictly increasing; first event always a record") {
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      .sortBy(_._1)
    var hwm = Long.MinValue
    val expected = ev.flatMap { case (id, et, c) =>
      val rec = c > hwm
      hwm = math.max(hwm, c)
      if (rec) Some((id, et, c)) else None
    }
    val got = TierForty.q164.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.size > 1 && got.size < ev.size, "records must be a proper non-trivial subset")
    assert(got.head._1 == ev.head._1, "the first arrival is by definition a record")
    assert(got.map(_._3) == got.map(_._3).sorted && got.map(_._3).distinct == got.map(_._3),
      "record values are strictly increasing")
    assert(got.last._3 == ev.map(_._3).max, "the last record is the global max")
  }

  test("q165 representative ≡ union-find + score argmax; rep is in-cluster and maximal") {
    val pairs = TierFour.minhashPairs(TextOps.tok(spark, sf))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val scores = TierEleven.classifierScores(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parent = scala.collection.mutable.Map(scores.keys.map(k => k -> k).toSeq: _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val byCl = scores.keys.toSeq.groupBy(find).filter(_._2.size >= 2)
    val expected = byCl.toSeq.sortBy(_._1).map { case (cl, ms) =>
      val rep = ms.map(id => (scores(id), -id, id)).max._3
      (cl, ms.size.toLong, rep, scores(rep), ms.min)
    }
    val got = TierForty.q165.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
    for ((cl, _, rep, sc, minDoc) <- got) {
      val members = byCl(cl)
      assert(members.contains(rep) && members.min == minDoc)
      assert(sc == members.map(scores).max, "the representative carries the max score")
    }
  }

  test("tier-40 plan gates: no CartesianProduct; q164's HWM is two-pass, not SinglePartition") {
    for (q <- TierForty.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
      if (q.name.contains("record"))
        assert(!plan.contains("SinglePartition"),
          s"${q.name} must fold the high-water mark two-pass: ${plan.take(800)}")
    }
  }
}
