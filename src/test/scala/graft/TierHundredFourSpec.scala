package graft

import graft.operators.{Components, TextOps, TierFour, TierHundredFour}
import org.apache.spark.sql.functions._

/** Tier-104 differentials: q287 against an in-driver token-count
  * replay (plus the exact window-boundary law), q288 against an
  * in-driver fold over the same connected-components labels (plus the
  * band arithmetic on pinned sizes).
  */
class TierHundredFourSpec extends SparkSpec {
  import spark.implicits._

  test("q287 ≡ in-driver replay; window boundary is > W, not ≥ W") {
    val w = TierHundredFour.Window
    val docs = Tables.load(spark, sf, "documents")
      .select("source", "text").collect()
      .map(r => r.getString(0) -> r.getString(1).split(" ").count(_.nonEmpty).toLong)
    val expected = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, xs) =>
      val toks = xs.map(_._2)
      (src, toks.length.toLong, toks.count(_ > w).toLong, toks.sum,
        (toks.sum + w - 1) / w, toks.map(t => w - math.min(t, w)).sum)
    }
    val got = TierHundredFour.q287.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, s"got $got expected $expected")

    // boundary: exactly W tokens → fits (no truncation, zero pad);
    // W+1 → truncates; 1 → pads W−1
    val b = TierHundredFour.packingOver(Seq(
      ("s", w), ("s", w + 1), ("s", 1L)).toDF("src", "tok"), w).collect().head
    assert((b.getLong(1), b.getLong(2), b.getLong(5))
      == ((3L, 1L, w - 1L)), s"boundary law: $b")
  }

  test("q288 ≡ in-driver fold over the same CC labels; band arithmetic pinned") {
    // band arithmetic on pinned sizes: 2,3 → band 1; 4..7 → 2; 8 → 3; 17 → 4
    val labels = (
      Seq.fill(2)(10L) ++ Seq.fill(3)(20L) ++ Seq.fill(4)(30L) ++
        Seq.fill(8)(40L) ++ Seq.fill(17)(50L) ++ Seq(60L) // singleton drops
      ).zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("id", "lbl")
    val got0 = TierHundredFour.sizeHistogramOver(labels).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got0 == Seq((1L, 2L, 2L, 5L), (2L, 4L, 1L, 4L),
      (3L, 8L, 1L, 8L), (4L, 16L, 1L, 17L)), s"pinned bands: $got0")

    // corpus: the declared query ≡ a driver fold over the same labels
    val docs = Tables.load(spark, sf, "documents")
    val labs = Components.connected(
        docs.select(col("doc_id").as("id")),
        TierFour.minhashPairs(TextOps.tok(spark, sf))
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val sizes = labs.groupBy(_._2).map(_._2.length.toLong).filter(_ >= 2)
    val expected = sizes.groupBy(s => 63 - java.lang.Long.numberOfLeadingZeros(s))
      .toSeq.sortBy(_._1).map { case (band, xs) =>
        (band.toLong, 1L << band, xs.size.toLong, xs.sum) }
    val got = TierHundredFour.q288.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, s"got $got expected $expected")
    assert(got.nonEmpty, "fixture must contain non-singleton clusters")
    spark.catalog.clearCache()
  }
}
