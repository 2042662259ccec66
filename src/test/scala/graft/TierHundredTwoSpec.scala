package graft

import graft.operators.TierHundredTwo
import org.apache.spark.sql.functions._

/** Tier-102 differentials: q283 against an in-driver set replay, q284
  * against in-driver brute force — including the QUOTE-INCLUSION case
  * Jaccard ≥ 0.8 is blind to (the query's reason to exist) and the
  * prefix-filter completeness law (candidates ⊇ every qualifying pair,
  * candidates ≪ all-pairs).
  */
class TierHundredTwoSpec extends SparkSpec {
  import spark.implicits._

  private def bigrams(text: String): Set[String] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    if (toks.length < 2) Set.empty
    else toks.sliding(2).map(_.mkString(" ")).toSet
  }

  test("q283 ≡ in-driver set replay on the corpus") {
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val train = docs.filter(_._1 % 2 == 0).flatMap(d => bigrams(d._2)).toSet
    val test0 = docs.filter(_._1 % 2 == 1).flatMap(d => bigrams(d._2)).toSet
    val novel = (test0 -- train).size.toLong
    val got = TierHundredTwo.q283.run(spark, sf).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
      == ((train.size.toLong, test0.size.toLong, novel,
        1000000L * novel / test0.size)),
      s"got $got expected (${train.size}, ${test0.size}, $novel)")
    assert(test0.nonEmpty && novel > 0 && novel < test0.size,
      "fixture must have both seen and novel bigrams or the readout is vacuous")
  }

  test("q284: containment catches quote-inclusion Jaccard misses; ≡ brute force incl. the exact-threshold pair") {
    // fixture: a short doc quoted whole inside a long one (C = 1, J ≪ 0.8),
    // a pair at exactly C = 0.9 (10 vs 10 bigrams, 9 shared — the
    // boundary must qualify), and unrelated bulk
    val short = (0 until 10).map(i => s"q$i").mkString(" ")          // 9 bigrams
    val long0 = short + " " + (0 until 60).map(i => s"f$i").mkString(" ")
    val part = (0 to 10).map(i => s"p$i").mkString(" ")              // 10 bigrams
    val partial = (1 to 10).map(i => s"p$i").mkString(" ") + " xx"   // 9 shared + 1
    val docs = (Seq(
      1L -> short, 2L -> long0, 3L -> part, 4L -> partial) ++
      (10L until 40L).map(i => i -> (0 until 20).map(j => s"u${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")

    def setsOf = docs.collect().map(r => r.getLong(0) -> bigrams(r.getString(1))).toMap
    val sets = setsOf
    val truth = (for {
      a <- sets.keys.toSeq; b <- sets.keys.toSeq if a < b
      i = (sets(a) & sets(b)).size
      m = math.min(sets(a).size, sets(b).size)
      if m > 0 && 10 * i >= 9 * m
    } yield (a, b, 1000000L * i / m)).sortBy(x => (x._1, x._2))
    assert(truth.exists { case (a, b, ppm) => ppm == 1000000L &&
      (sets(a).size * 5 < sets(b).size * 4 || sets(b).size * 5 < sets(a).size * 4) },
      "fixture must contain a full-quote pair outside Jaccard's length filter")

    val sh = TierHundredTwo.bigramsOf(docs)
    val got = TierHundredTwo.containmentOver(spark, sh, num = 9, den = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == truth, s"got $got expected $truth")
    assert(got.exists(_._3 == 900000L),
      "the exact-threshold pair must qualify (boundary is ≥, not >)")

    // Jaccard at 0.8 misses the quote pair (the asymmetry argument)
    val j12 = {
      val i = (sets(1L) & sets(2L)).size
      i.toDouble / (sets(1L).size + sets(2L).size - i)
    }
    assert(j12 < 0.8 && got.exists(p => p._1 == 1L && p._2 == 2L),
      s"containment must see the quote pair Jaccard ($j12) ignores")
    spark.catalog.clearCache()
    sh.unpersist()
  }

  test("q284 on the corpus ≡ brute force over collected shingle sets") {
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> bigrams(r.getString(1)))
      .filter(_._2.nonEmpty).toMap
    val truth = (for {
      a <- docs.keys.toSeq; b <- docs.keys.toSeq if a < b
      m = math.min(docs(a).size, docs(b).size)
      i = (docs(a) & docs(b)).size
      if 10 * i >= 9 * m
    } yield (a, b, 1000000L * i / m)).sortBy(x => (x._1, x._2))
    val got = TierHundredTwo.q284.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == truth, s"got ${got.size} pairs expected ${truth.size}")
    spark.catalog.clearCache()
  }
}
