package graft

import graft.operators.TierSeventySix
import org.apache.spark.sql.functions._

/** Tier-76 differentials: q231 against an in-memory 2×2 + BigInt kappa
  * recompute (plus the all-four-cells non-degeneracy and the bounds
  * law), q232 against an in-memory group-size audit (plus the
  * partition and suppression-mass laws); plan gates.
  */
class TierSeventySixSpec extends SparkSpec {

  private def corpus: Seq[(Long, String, String, String)] =
    Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSeq

  test("q231 kappa ≡ in-memory 2×2 + BigInt closure; all four cells live; bounds") {
    val flags = corpus.map { case (id, text, _, _) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      val a = toks.length >= 56
      val b = toks.distinct.length * 100 >= 45 * toks.length
      (id, a, b)
    }
    val pp = flags.count(f => f._2 && f._3).toLong
    val pn = flags.count(f => f._2 && !f._3).toLong
    val np = flags.count(f => !f._2 && f._3).toLong
    val nn = flags.count(f => !f._2 && !f._3).toLong
    val got = TierSeventySix.q231.run(spark, sf).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3), got.getLong(4)) == (flags.size.toLong, pp, pn, np, nn))
    assert(got.getLong(5) == TierSeventySix.kappaPpm(pp, pn, np, nn))
    // the fixture must exercise ALL FOUR agreement cells (the probe that
    // found 2×2 degeneracy under the n_chars rater — FIXTURES discipline)
    assert(pp > 0 && pn > 0 && np > 0 && nn > 0,
      s"2×2 degenerate: ($pp, $pn, $np, $nn)")
    // kappa ∈ [−10⁶, 10⁶]; these raters disagree MORE than chance on the
    // fixture (negative kappa — the two-filter conflict signal)
    assert(got.getLong(5) >= -1000000L && got.getLong(5) <= 1000000L)
    assert(got.getLong(5) < 0, "fixture raters must disagree beyond chance")
  }

  test("kappaPpm closure laws: perfect agreement → 10⁶; symmetry under rater swap") {
    assert(TierSeventySix.kappaPpm(10, 0, 0, 30) == 1000000L)
    // swapping the raters transposes b and c — kappa is symmetric
    assert(TierSeventySix.kappaPpm(7, 3, 11, 19) ==
      TierSeventySix.kappaPpm(7, 11, 3, 19))
    // constant raters (pe = 1) hit the defined branch
    assert(TierSeventySix.kappaPpm(42, 0, 0, 0) == 1000000L)
  }

  test("q232 k-anonymity ≡ in-memory audit; partition + suppression laws") {
    val groups = corpus.groupBy(d => (d._3, d._4))
      .map { case ((l, s), ds) => (l, s, ds.size.toLong) }.toSeq
    val total = corpus.size.toLong
    val expected = groups.sortBy(g => (g._1, g._2)).map { case (l, s, n) =>
      (l, s, n, if (n >= 5) 1L else 0L, if (n >= 5) 0L else n * 1000000L / total)
    }
    val got = TierSeventySix.q232.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    // partition law: group sizes sum to the corpus; both flag values live
    assert(got.map(_._3).sum == total)
    assert(got.exists(_._4 == 0L) && got.exists(_._4 == 1L),
      "fixture must have both violating and anonymous QI groups")
    // suppression mass is the violating share, strictly between 0 and all
    val supp = got.filter(_._4 == 0L).map(_._3).sum
    assert(supp > 0 && supp < total)
  }

  test("tier-76 plan gates: no CartesianProduct; q232's broadcast total") {
    for (q <- TierSeventySix.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
