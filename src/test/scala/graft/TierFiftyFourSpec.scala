package graft

import graft.functions.MisraGries
import graft.operators.TierFiftyFour
import org.apache.spark.sql.functions._

/** Tier-54 differentials: q192 against an exact in-memory recount with
  * the Misra–Gries superset law pinned under adversarial partitionings;
  * q193 against a full-outer-semantics in-memory TV fold; sketch
  * undercount/merge laws; plan gates.
  */
class TierFiftyFourSpec extends SparkSpec {

  private def tokens: Seq[String] = Tables.load(spark, sf, "documents")
    .select("text").collect()
    .flatMap(_.getString(0).split(" ").filter(_.nonEmpty)).toSeq

  test("q192 ≡ exact heavy hitters; sketch affects work, never the answer") {
    val ts = tokens
    val n = ts.size.toLong
    val exact = ts.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      .filter(_._2 * TierFiftyFour.K > n).toSeq
      .sortBy { case (t, c) => (-c, t) }
      .map { case (t, c) => (t, c, c * 1000000L / n) }
    val got = TierFiftyFour.q192.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(exact.nonEmpty, "fixture must have true heavy hitters")
    assert(got == exact)
  }

  test("MG candidates are a heavy-hitter superset under adversarial layouts, ≤ k/partition") {
    val ts = tokens
    val n = ts.size.toLong
    val hh = ts.groupBy(identity).collect {
      case (t, xs) if xs.size.toLong * TierFiftyFour.K > n => t
    }.toSet
    import spark.implicits._
    // worst cases for a counter sketch: all heavy tokens front-loaded,
    // back-loaded, and interleaved across skewed partition counts
    for ((order, parts) <- Seq((ts.sorted, 1), (ts.sorted.reverse, 3), (ts, 13))) {
      val cands = MisraGries.candidates(
        order.toDF("token").repartition(parts), TierFiftyFour.K)
        .collect().map(_.getString(0)).toSet
      assert(hh.subsetOf(cands), s"lost a true heavy hitter at parts=$parts")
      assert(cands.size <= TierFiftyFour.K * parts,
        s"candidate bound broken: ${cands.size} > k*$parts")
    }
  }

  test("MG summary/merge laws: undercount ≤ n/(k+1), merge keeps the additive bound") {
    val ts = tokens
    val exact = ts.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val k = 32
    val s1 = MisraGries.summary(ts.iterator, k)
    for ((t, est) <- s1) {
      val f = exact(t)
      assert(est <= f && f - est <= ts.size.toLong / (k + 1),
        s"$t: est=$est true=$f n=${ts.size}")
    }
    // split the stream adversarially (sorted halves), summarize, merge:
    // the merged estimate keeps the summed bound and the superset law
    val (xa, xb) = ts.sorted.splitAt(ts.size / 3)
    val m = MisraGries.merge(MisraGries.summary(xa.iterator, k),
      MisraGries.summary(xb.iterator, k), k)
    assert(m.size <= k)
    for ((t, est) <- m) {
      val f = exact(t)
      assert(est <= f && f - est <= ts.size.toLong * 2 / (k + 1),
        s"merged $t: est=$est true=$f")
    }
    val hhK = exact.collect { case (t, f) if f * (k + 1) > ts.size.toLong => t }.toSet
    assert(hhK.subsetOf(m.keySet), "merge lost an item above the merged threshold")
  }

  test("q192 plan: candidate recount is broadcast-joined, no vocabulary-wide shuffle before it") {
    val plan = TierFiftyFour.q192.run(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast candidate join:\n$plan")
  }

  test("q193 ≡ in-memory full-outer TV; distances spread, bounded, pair-complete") {
    val rows = Tables.load(spark, sf, "documents").select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySrc = rows.groupBy(_._1).map { case (s, xs) =>
      val cs = xs.flatMap(_._2.split(" ").filter(_.nonEmpty))
        .groupBy(identity).map { case (t, ys) => t -> ys.size.toLong }
      val nTot = cs.values.sum
      s -> cs.map { case (t, c) => t -> c * 1000000L / nTot }
    }
    val srcs = bySrc.keys.toSeq.sorted
    val expected = (for {
      a <- srcs; b <- srcs if a < b
    } yield {
      val (pa, pb) = (bySrc(a), bySrc(b))
      val keys = pa.keySet ++ pb.keySet
      val d2 = keys.toSeq.map(t => math.abs(pa.getOrElse(t, 0L) - pb.getOrElse(t, 0L))).sum
      val shared = pa.keySet.intersect(pb.keySet).size.toLong
      (a, b, d2 / 2, shared)
    }).sortBy(x => (x._1, x._2))
    val got = TierFiftyFour.q193.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.size == srcs.size * (srcs.size - 1) / 2, "pair matrix incomplete")
    assert(got.forall(x => x._3 >= 0 && x._3 <= 1000000L))
    assert(got.map(_._3).distinct.size > 1, "fixture TV matrix must not be flat")
  }
}
