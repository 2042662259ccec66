package graft

import graft.operators.{TierFour, TierSix}
import org.apache.spark.sql.functions._

/** Degenerate-document edge cases (the ADVICE-flagged latent crashes): 0-,
  * 1-, and 2-token documents through every shingling query. Spark's
  * `sequence(0, n)` DESCENDS when n < 0 and `element_at(l, 0)` then throws
  * — the guards must instead yield zero shingles, like DuckDB's empty
  * `range()`. The production corpus has no such docs, so this corpus is
  * built by hand.
  */
class ShortDocSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp: String = {
    val dir = java.nio.file.Files.createTempDirectory("shortdoc").toString
    Seq(
      (0L, "", "en", "s", 0L),                       // empty text
      (1L, "a", "en", "s", 1L),                      // 1 token: no bigrams/trigrams
      (2L, "a b", "en", "s", 3L),                    // 2 tokens: 1 bigram, no trigrams
      (3L, "a b c", "en", "s", 5L),                  // 3 tokens: 2 bigrams, 1 trigram
      (4L, "a b a b a b", "en", "s", 11L))           // repetitive: bigram 'a b' ×3
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q28 n-gram jaccard survives 0/1-token docs (no descending sequence crash)") {
    // docs 0,1 yield no shingles; 'a b' ⊄~ 'a b c' at J≥0.8; doc4's distinct
    // bigrams {a b, b a} vs doc2's {a b}: J=1/2 < 0.8 — so no pairs at all,
    // the point is it must not throw
    val rows = TierFour.q28.run(spark, tmp).collect()
    assert(rows.isEmpty, s"got ${rows.mkString(",")}")
  }

  test("q33 fingerprint survives short docs: only 3+-token docs fingerprint") {
    val ids = TierFour.q33.run(spark, tmp).collect().map(_.getLong(0)).toSet
    assert(ids == Set(3L, 4L), s"got $ids") // 0,1,2 have no trigrams
  }

  test("q31 quality ratios are null (not a crash, not inf) for empty docs") {
    val byId = TierFour.q31.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(byId(0L).isNullAt(2), "stop_ratio of empty doc must be NULL")
    assert(byId(0L).isNullAt(4), "space_ratio of empty doc must be NULL")
    assert(byId(0L).getLong(1) == 0L) // n_tokens
    assert(byId(3L).getLong(1) == 3L)
  }

  test("q49 repetition counts multiplicity: 'a b a b a b' has max_rep 3 of 5") {
    val byId = TierSix.q49.run(spark, tmp).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(!byId.contains(0L) && !byId.contains(1L)) // no bigrams → absent
    assert(byId(2L) == ((1L, 1L)))
    assert(byId(4L) == ((5L, 3L)), s"got ${byId(4L)}") // bigrams: ab,ba,ab,ba,ab
  }

  test("q32/q50 degrade gracefully on the degenerate corpus") {
    val tc = TierFour.q32.run(spark, tmp).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc(0L) == 0L && tc(1L) == 1L && tc(4L) == 6L)
    val hist = TierSix.q50.run(spark, tmp).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist.values.sum == 5L)
  }

  test("q63 chunking / q68 packing: a token-less doc yields zero chunks, not a crash") {
    import graft.operators.TierNine
    val chunks = TierNine.q63.run(spark, tmp).collect()
    assert(!chunks.exists(_.getLong(0) == 0L), "empty doc must produce no chunks")
    // every other doc yields exactly one (short) chunk at size 32/stride 24
    assert(chunks.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(chunks.forall(r => r.getLong(2) > 0 && r.getLong(2) <= 32))
    val bins = TierNine.q68.run(spark, tmp).collect()
    assert(bins.map(_.getLong(1)).sum == 1 + 2 + 3 + 6, "empty doc contributes no tokens")
  }

  test("tier-10 on the degenerate corpus: no shingle crashes, splits/diffs stay total") {
    import graft.operators.TierTen
    // q77: no doc reaches 8 tokens — empty output, not a crash
    assert(TierTen.q77.run(spark, tmp).collect().isEmpty)
    // q78: no trigrams on either side of the split → zero contamination,
    // but every train doc still counted
    val dec = TierTen.q78.run(spark, tmp).collect()
    assert(dec.map(_.getLong(1)).sum <= 5 && dec.forall(_.getLong(2) == 0L))
    // q75: the split stays a partition of all 5 docs
    assert(TierTen.q75.run(spark, tmp).collect().map(_.getLong(2)).sum == 5L)
    // q74: snapshot diff classifies every doc (empty text hashes fine)
    assert(TierTen.q74.run(spark, tmp).collect().map(_.getLong(2)).sum > 0)
    // q79: token-less doc contributes nothing; coverage rows stay 3
    val cov = TierTen.q79.run(spark, tmp).collect()
    assert(cov.length == 3 && cov.forall(_.getLong(1) > 0))
    // q76: empty doc's n_chars=0 keeps the div-mean defined (count>0)
    val stats = graft.operators.TierTen.q76.run(spark, tmp).collect()
    assert(stats.map(_.getLong(1)).sum == 5L)
  }

  test("round-8 document queries degrade gracefully (q126/q129/q131/q132/q133)") {
    import graft.operators.{TierTwentyFour, TierTwentyThree, TierTwentyTwo, TierTwentyOne}
    // q126 DSIR: the empty doc carries no tokens → absent; everyone else scored
    val dsir = TierTwentyOne.q126.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!dsir.contains(0L) && dsir(4L) == 6L && dsir.size == 4)
    // q129 memorization risk: only the 6-token doc carries a 5-gram
    val risk = TierTwentyTwo.q129.run(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(risk.map(_._1).toSeq == Seq(4L), s"got ${risk.mkString(",")}")
    assert(risk.head._2 == 2L && risk.head._3 == 0L) // 2 unique-instance 5-grams, no dups
    // q131 collocations: no pair reaches the 5-doc support floor → empty
    assert(TierTwentyThree.q131.run(spark, tmp).collect().isEmpty)
    // q132 diversity: empty doc absent; single-type law; 'a b a b a b' gini
    val div = TierTwentyFour.q132.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    assert(!div.contains(0L) && div(1L)._3 == 0L)
    assert(div(4L) == ((6L, 2L, 500000L)), s"got ${div(4L)}")
    // q133 communities over an EMPTY association graph: empty output, not
    // a crash (the Components empty-node-set path)
    val comm = TierTwentyFour.q133.run(spark, tmp).collect()
    assert(comm.isEmpty, s"got ${comm.mkString(",")}")
  }
}
