package graft

import graft.operators.{TierSeventySeven, TierThirtyFour}
import org.apache.spark.sql.functions._

/** Tier-77 differentials: q233 against an in-memory prefix-sum stride
  * walk (plus the slot-conservation and multiplicity laws), q234
  * against in-memory gaps-and-islands (plus the interleave contrast:
  * q152's order de-clumps what the naive order clumps); plan gates.
  */
class TierSeventySevenSpec extends SparkSpec {

  private def corpus: Seq[(Long, String, Long)] =
    Tables.load(spark, sf, "documents").select("doc_id", "lang", "text")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").count(_.nonEmpty).toLong)).toSeq

  test("q233 systematic resample ≡ in-memory stride walk; conservation + multiplicity laws") {
    val ds = corpus.map(d => (d._1, d._3)).sortBy(_._1)
    val total = ds.map(_._2).sum
    val step = math.max(total / TierSeventySeven.SlotCount, 1L)
    var cum = 0L
    val expected = ds.flatMap { case (id, w) =>
      val prev = cum; cum += w
      val mult = cum / step - prev / step
      if (mult > 0) Some((id, w, mult)) else None
    }
    val got = TierSeventySeven.q233.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // conservation: total slots drawn = Σw div step (every boundary
    // crossing is attributed to exactly one doc)
    assert(got.map(_._3).sum == total / step)
    // PPS at work: the fixture's long docs draw MULTIPLE slots and not
    // every doc draws (weighted, not uniform)
    assert(got.exists(_._3 >= 2L), "fixture must exercise multiplicity ≥ 2")
    assert(got.size < ds.size, "short docs between boundaries draw nothing")
    // weight monotonicity within the run: a doc with mult ≥ 2 is at
    // least one full stride long
    got.filter(_._3 >= 2).foreach { case (id, w, m) =>
      assert(w >= (m - 1) * step, s"doc $id: $m slots from weight $w at stride $step")
    }
  }

  test("resampleOver on an EMPTY frame returns empty (null-sum guard)") {
    // reachable through the public graft_resample twin: sum() over zero
    // rows is NULL — the stride read must not throw
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "w")
    assert(TierSeventySeven.resampleOver(empty, "doc_id", "w",
      TierSeventySeven.SlotCount).collect().isEmpty)
  }

  test("q234 interleave audit ≡ in-memory islands; q152's interleave de-clumps") {
    val langsInOrder = corpus.sortBy(d => (d._3, d._1)).map(_._2)
    val runs = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    for (lang <- langsInOrder) {
      if (runs.nonEmpty && runs.last._1 == lang)
        runs(runs.size - 1) = (lang, runs.last._2 + 1)
      else runs += ((lang, 1L))
    }
    val expected = runs.groupBy(_._1).toSeq.sortBy(_._1).map { case (l, rs) =>
      val nd = rs.map(_._2).sum
      (l, nd, rs.size.toLong, rs.map(_._2).max, (nd - rs.size) * 1000000L / nd)
    }
    val got = TierSeventySeven.q234.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    // the naive order clumps on the fixture (the audit is non-vacuous) …
    assert(got.exists(_._4 >= 2L), "naive easy-first order must clump some lang")
    assert(got.map(_._2).sum == corpus.size.toLong)
    // … and q152's per-source interleave de-clumps BY SOURCE — every
    // source run in the interleaved order has length 1 (clump_ppm 0),
    // the contrast that justifies the interleave
    val interleaved = TierThirtyFour.q152.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(2))).sortBy(_._1).map(_._2)
    val maxRun = interleaved.foldLeft(("", 0, 0)) { case ((prev, cur, mx), s) =>
      val c = if (s == prev) cur + 1 else 1
      (s, c, math.max(mx, c))
    }._3
    assert(maxRun == 1, s"q152's interleave must have no source runs ≥ 2, got $maxRun")
  }

  test("tier-77 plan gates: no CartesianProduct") {
    for (q <- TierSeventySeven.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
