package graft

import graft.operators.TierEightyFour
import org.apache.spark.sql.functions._

/** Tier-84 differentials: q247/q248 against in-memory folds over the
  * collected corpus, plus the non-degeneracy gates (every card column
  * must discriminate across sources; burstiness must separate terms
  * raw df cannot).
  */
class TierEightyFourSpec extends SparkSpec {

  private def corpus: Seq[(Long, String, String, Seq[String])] =
    Tables.load(spark, sf, "documents")
      .select("doc_id", "source", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3).split(" ").filter(_.nonEmpty).toSeq)).toSeq

  test("q247 dataset card ≡ in-memory fold; every column discriminates") {
    val c = corpus
    val expected = c.groupBy(_._2).map { case (src, docs) =>
      val nDocs = docs.size.toLong
      val nTok = docs.map(_._4.size.toLong).sum
      val types = docs.flatMap(_._4).distinct.size.toLong
      (src, nDocs, nTok, nTok / nDocs, types * 1000000L / nTok,
        docs.map(_._3).distinct.size.toLong,
        docs.count(_._4.size < TierEightyFour.ShortDocTokens).toLong)
    }.toSeq.sortBy(_._1)
    val got = TierEightyFour.q247.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expected, "q247 must equal the in-memory card fold")
    // a card whose column is constant across sources reports nothing —
    // the FIXTURES.md degeneracy rule, column by column
    assert(got.map(_._3).distinct.size > 1, "token counts must vary")
    assert(got.map(_._5).distinct.size > 1, "TTR must vary")
    assert(got.map(_._6).distinct.size > 1, "language coverage must vary")
    assert(got.map(_._7).distinct.size > 1, "short-doc counts must vary")
  }

  test("q248 burstiness ≡ in-memory fold; separates what df cannot") {
    val c = corpus
    val grid = c.flatMap { case (id, _, _, toks) =>
      toks.groupBy(identity).map { case (t, xs) => (t, id, xs.size.toLong) }
    }
    val expected = grid.groupBy(_._1).map { case (t, cells) =>
      val cf = cells.map(_._3).sum
      val df = cells.size.toLong
      (t, cf, df, cf * 1000000L / df)
    }.toSeq.sortBy(r => (-r._4, r._1))
    val got = TierEightyFour.q248.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, "q248 must equal the in-memory burstiness fold")
    assert(got.forall(_._4 >= 1000000L), "burstiness floors at 1 (cf ≥ df)")
    // the signal's point: two tokens with (near-)equal df but different
    // burst — ranking by df alone could not order them
    val byDf = got.groupBy(_._3).filter(_._2.size > 1)
    assert(byDf.exists(_._2.map(_._4).distinct.size > 1),
      "equal-df tokens must separate on burstiness")
  }
}
