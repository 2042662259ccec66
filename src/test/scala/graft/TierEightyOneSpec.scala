package graft

import graft.functions.BottomK
import graft.operators.{TierEightyOne, TierSixtySix}
import org.apache.spark.sql.functions._

/** Tier-81 differentials: q241 against an in-memory DCG recompute over
  * the collected corpus (the ranked lists come from the shared rankers;
  * the arithmetic is re-derived independently), q242 against an
  * in-memory bottom-k of the collected distinct hashes, plus the
  * [[BottomK]] merge ≡ union law that makes the sketch mergeable.
  */
class TierEightyOneSpec extends SparkSpec {

  import TierEightyOne.{DcgW, KmvK, NdcgK}

  test("q241 nDCG ≡ in-memory DCG recompute; graded signal live; weights sane") {
    // the weight table: W(1) = 10^6 exactly (log2(2) = 1), strictly
    // decreasing — a mis-derived table would break monotonicity first
    assert(DcgW.head == (1, 1000000L))
    assert(DcgW.map(_._2) == DcgW.map(_._2).sorted.reverse)
    assert(DcgW.map(_._2).distinct.size == NdcgK)
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val gains = docs.collect().map { r =>
      r.getLong(0) -> r.getString(1).split(" ").count(_ == "dup").toLong
    }.toMap
    assert(gains.values.max >= 2L,
      "fixture must carry a grade ≥ 2 — binary metrics cannot see it")
    val w = DcgW.toMap
    def dcg(gs: Seq[Long]): Long =
      gs.zipWithIndex.map { case (g, i) => g * w(i + 1) }.sum
    val idealDcg = dcg(gains.values.toSeq.sorted.reverse.take(NdcgK))
    val bmIds = TierSixtySix.bm25TopK(spark, sf, TierSixtySix.EvalTerms, NdcgK)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val got = TierEightyOne.q241.run(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("bm25")._1 == dcg(bmIds.map(gains)),
      "bm25 DCG must equal the in-memory recompute over the same ranking")
    assert(got.values.forall(_._2 == idealDcg),
      "IDCG must equal the in-memory ideal (gain DESC) recompute")
    assert(got.values.forall(v => v._1 <= v._2),
      "DCG can never exceed the ideal")
    assert(got.values.forall(v => v._3 >= 0 && v._3 <= 1000000L))
    assert(got("bm25")._3 > got("len_desc")._3,
      "the term-aware ranker must beat the length baseline on graded gain")
    assert(got.values.forall(v => v._3 == v._1 * 1000000L / v._2),
      "ndcg_ppm must be the exact floor-division of the reported dcg/idcg")
  }

  test("BottomK: merge ≡ sketch of the union; duplicates free; exact under k") {
    val agg = new BottomK(8)
    def sketch(xs: Seq[Long]): Seq[Long] = xs.foldLeft(agg.zero)(agg.reduce)
    // deterministic LCG stream with repeats
    val a = (0 until 200).map(i => (i * 2654435761L + 40503L) % 9973L)
    val b = (0 until 200).map(i => (i * 48271L + 7L) % 9973L)
    assert(agg.merge(sketch(a), sketch(b)) == sketch(a ++ b),
      "merging two sketches must equal the sketch of the pooled stream")
    assert(sketch(a ++ a) == sketch(a), "duplicates must not move the sketch")
    assert(sketch(Seq(5L, 3L, 5L, 9L)) == Seq(3L, 5L, 9L),
      "under k the sketch IS the exact distinct set (sorted)")
    assert(sketch(a).length == 8 && sketch(a) == sketch(a).sorted)
  }

  test("q242 ≡ in-memory bottom-k over collected distinct hashes; estimates discriminate") {
    import TierEightyOne.{KmvK => K}
    // the portable affine-hash constants (TierFour.P/A0/B0 — package-private
    // there; their literal values are pinned in every oracle SQL body)
    val (p, a0, b0) = (2147483647L, 2654435761L, 40503L)
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_type"),
        (col("user_id") * 1024L +
          expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")).as("uday"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def h(uday: Long): Long = { val h0 = ((uday % p) * a0 + b0) % p; h0 * h0 % p }
    val byType = ev.groupBy(_._1).view.mapValues(_.map(t => h(t._2)).distinct.sorted)
    val allH = ev.map(t => h(t._2)).distinct.sorted
    def expect(hs: Seq[Long]): (Long, Long, Long) = {
      val bk = hs.take(K)
      (bk.size.toLong, bk.last, if (bk.size < K) bk.size.toLong else (K - 1).toLong * p / bk.last)
    }
    val expected = (byType.toMap.map { case (t, hs) => t -> expect(hs) } +
      ("_all" -> expect(allH)))
    val got = TierEightyOne.q242.run(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expected, "the distributed sketch must equal the in-memory mirror")
    // non-degeneracy (the FIXTURES.md rule): the per-type sketches must
    // actually differ, and the merged row must see the larger universe
    assert(got.filter(_._1 != "_all").values.map(_._2).toSet.size > 1,
      "per-type kth hashes must discriminate")
    val trueAll = allH.size.toLong
    val estAll = got("_all")._3
    assert(estAll > trueAll / 2 && estAll < trueAll * 2,
      s"KMV estimate $estAll must land within 2x of the true $trueAll")
    assert(got("_all")._3 > got.filter(_._1 != "_all").values.map(_._3).max,
      "the merged universe must estimate larger than any single type")
  }
}
