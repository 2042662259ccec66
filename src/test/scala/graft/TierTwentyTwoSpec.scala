package graft

import graft.operators.{TierNineteen, TierTwentyTwo}
import org.apache.spark.sql.functions._

/** Tier-22 differentials: q128 against an in-memory trust iteration over
  * the trusted q121 pair engine's edges (plus seed/periphery laws), q129
  * against brute-force 5-gram doc-frequency; plan gates.
  */
class TierTwentyTwoSpec extends SparkSpec {

  private val S = 1000000000000L

  private def corpus: Seq[(Long, String, String)] =
    Tables.load(spark, sf, "documents").select("doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  test("q128 trust rank ≡ in-memory propagation over the celled pair edges; seed/periphery laws") {
    // q128 DECLARES the celled production edge source since round 12 —
    // the in-memory iteration runs over the same celled pair set.
    val docs = corpus
    val pairs = TierNineteen.celledEmbedPairs(spark, sf, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val seeds = docs.filter(_._3 == "src0").map(_._1).toSet
    val ns = seeds.size.toLong
    val nodes = docs.map(_._1).sorted
    var t = nodes.map(n => n -> (if (seeds(n)) S / ns else 0L)).toMap
    for (_ <- 1 to 2) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => t(src) / deg(src) }.sum
      }
      val dang = nodes.filterNot(deg.contains).map(t).sum
      t = nodes.map { n =>
        val seedTerm =
          if (seeds(n)) 15L * S / (100L * ns) + 85L * (dang / ns) / 100L else 0L
        n -> (seedTerm + 85L * contrib.getOrElse(n, 0L) / 100L)
      }.toMap
    }
    val expected = nodes.map(n => (n, t(n)))
    val got = TierTwentyTwo.q128.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    // laws: every seed keeps at least the teleport base; some non-seed
    // neighbor gains trust (propagation is not degenerate); an isolated
    // non-seed scores exactly 0
    val byId = got.toMap
    seeds.foreach(sd => assert(byId(sd) >= 15L * S / (100L * ns)))
    assert(got.exists { case (n, tr) => !seeds(n) && tr > 0 },
      "no trust propagated to any non-seed")
    val isolatedNonSeed = nodes.filterNot(deg.contains).filterNot(seeds)
    isolatedNonSeed.foreach(n => assert(byId(n) == 0L, s"isolated non-seed $n"))
    assert(got.map(_._2).sum <= S, "trust mass cannot exceed the fixed-point scale")
  }

  test("q129 memorization risk ≡ brute-force 5-gram doc-frequency ratio") {
    val docs = corpus.map { case (id, text, _) =>
      (id, text.split(" ").filter(_.nonEmpty).toSeq)
    }.filter(_._2.size >= 5)
    val inst = docs.flatMap { case (id, l) =>
      l.sliding(5).map(w => (id, w.mkString(" ")))
    }
    val nd = inst.distinct.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
    val expected = inst.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, xs) =>
      val n = xs.length.toLong
      val dup = xs.count(x => nd(x._2) >= 2).toLong
      (id, n, dup, dup * 1000000L / n)
    }
    val got = TierTwentyTwo.q129.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // non-degeneracy on the fixture: risk spans strictly between 0 and 1
    assert(got.exists(_._4 > 0) && got.exists(_._4 < 1000000L))
  }

  test("q128 (celled, declared) reaches ⊆ the all-pairs anchor's reached set, floored") {
    // inverted since round 12: q128 IS the celled run; the anchor is the
    // explicitly-rebuilt all-pairs trust propagation it is measured against
    val docs = Tables.load(spark, sf, "documents")
    val anchor = TierTwentyTwo.trustOver(docs,
        TierNineteen.embedPairsOf(docs.select("doc_id", "text"), 0.9))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val celled = TierTwentyTwo.q128.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seeds = docs.filter(col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val reachedA = anchor.filter(_._2 > 0).keySet
    val reachedC = celled.filter(_._2 > 0).keySet
    // celled edges ⊆ anchor edges (same-verifier construction) ⇒ the
    // trust-reached set can only shrink — monotonicity, not just recall
    assert(reachedC.subsetOf(reachedA))
    assert(seeds.subsetOf(reachedC), "seeds always hold trust")
    assert(reachedC.size > seeds.size, "celled path must propagate beyond the seeds")
    // reach-recall floor vs the anchor's non-seed reach (the celled
    // convention: floors beside celledEmbedPairs' 0.60/0.75 pair recall)
    val nsA = (reachedA -- seeds).size
    val nsC = (reachedC -- seeds).size
    assert(nsA == 0 || nsC * 10 >= nsA * 4, s"celled non-seed reach $nsC vs anchor $nsA under the 0.4 floor")
  }

  test("tier-22 plan gates: no CartesianProduct (the pair anchor is pinned broadcast-NLJ)") {
    for (q <- TierTwentyTwo.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
    // built-but-never-executed engine frames leave armed auto-release
    // listeners + pinned checkpoint leaves — drain them (round-9 ADVICE)
    operators.Release.sweep(spark)
  }
}
