package graft

import graft.operators.TierHundredOne
import org.apache.spark.sql.functions._

/** Tier-101 differentials: q281 against in-driver brute force (plus the
  * VERDICT-r14 #5 recall law — the second pass strictly improves recall
  * on head edits while candidates stay ≪ all-pairs), q282 against an
  * in-driver count-of-counts replay (plus the no-doubleton branch).
  */
class TierHundredOneSpec extends SparkSpec {
  import spark.implicits._

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j =>
      if (i == 0) j else if (j == 0) i else 0))
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("q281: multi-pass blocking strictly beats prefix-only recall on head edits; candidates ≪ all-pairs; counts exact") {
    // fixture: long shared-tail strings with a HEAD typo (invisible to
    // prefix-16 blocking — the q271 documented miss) plus tail typos
    // (invisible to suffix locality) plus unrelated strings
    val tail = "0123456789abcdefghij" // 20 shared chars — dominates sort by reverse
    val strings = (
      (0 until 4).map(i => s"HEAD${i}X$tail") ++       // head variants, same tail
        Seq(s"HEAD0Y$tail") ++                          // head typo of HEAD0X…
        Seq("CommonPrefixSixteen_AAAA", "CommonPrefixSixteen_AAAB") ++ // tail typo
        (0 until 40).map(i => s"unrelated_${i}_${"z" * (i % 7)}")).distinct
    val sdf = strings.toDF("s")

    // brute-force truth at dist ≤ 2
    val truth = (for {
      a <- strings; b <- strings if a < b
      d = lev(a, b) if d >= 1 && d <= 2
    } yield (a, b)).toSet
    assert(truth.nonEmpty, "fixture must contain true near pairs")
    val headPairs = truth.filter { case (a, b) =>
      a.takeRight(tail.length) == tail && b.takeRight(tail.length) == tail }
    assert(headPairs.nonEmpty, "fixture must contain head-edit pairs")

    // prefix-only recall misses every head pair whose first-16 differ
    val prefixCaught = truth.filter { case (a, b) => a.take(16) == b.take(16) }
    assert(prefixCaught != truth,
      "fixture must make prefix-only blocking lossy, or the law is vacuous")

    val cand = TierHundredOne.multiBlockPairs(spark, sdf, prefixLen = 16, w = 5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val multiCaught = truth.filter(cand)
    assert(prefixCaught.subsetOf(multiCaught),
      "the union face must keep every prefix-pass pair")
    assert(multiCaught.size > prefixCaught.size,
      s"second pass must strictly improve recall: ${multiCaught.size} vs ${prefixCaught.size}")
    assert(headPairs.subsetOf(multiCaught),
      "suffix locality must catch the head-edit pairs on this fixture")
    val allPairs = strings.size.toLong * (strings.size - 1) / 2
    assert(cand.size < allPairs / 2,
      s"candidates must stay well under all-pairs: ${cand.size} vs $allPairs")

    // the declared readout ≡ brute force restricted to the candidates
    val got = TierHundredOne.editMultiBlockedOver(spark, sdf, maxDist = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = cand.toSeq.map { case (a, b) => lev(a, b) }
      .filter(d => d >= 1 && d <= 2)
      .groupBy(_.toLong).map { case (d, ds) => d -> ds.size.toLong }
    assert(got == expected, s"got $got expected $expected")
  }

  test("q281 on customer ⊇ q271's single-pass distribution") {
    val single = graft.operators.TierNinetySix.q271.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val multi = TierHundredOne.q281.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(single.keySet.subsetOf(multi.keySet) &&
      single.forall { case (d, n) => multi(d) >= n },
      s"union-of-blocks must dominate the single pass: $multi vs $single")
  }

  test("q282 ≡ in-driver count-of-counts replay; no-doubleton branch") {
    val toks = Tables.load(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .collect().map(_.getString(0))
    val counts = toks.groupBy(identity).map(_._2.length)
    val d = counts.size.toLong
    val f1 = counts.count(_ == 1).toLong
    val f2 = counts.count(_ == 2).toLong
    val chao = if (f2 > 0) d + (f1 * f1) / (2 * f2) else d + (f1 * (f1 - 1)) / 2
    val got = TierHundredOne.q282.run(spark, sf).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
      == ((d, f1, f2, chao)), s"got $got expected ($d, $f1, $f2, $chao)")

    // f2 = 0 branch: all tokens unique → bias-corrected form
    val solo = TierHundredOne.chao1Over(
      Seq("a", "b", "c").toDF("token")).collect().head
    assert((solo.getLong(0), solo.getLong(1), solo.getLong(2), solo.getLong(3))
      == ((3L, 3L, 0L, 3L + 3L)), s"no-doubleton branch: $solo")
  }
}
