package graft

import graft.operators.{TierFiftyTwo, TierNineteen}
import org.apache.spark.sql.functions._

/** Tier-52 differentials: q188 against an in-memory union-find +
  * weakest-link fold, q189 against a direct priority computation; the
  * weighting and tie-break laws; plan gates.
  */
class TierFiftyTwoSpec extends SparkSpec {

  private val P = 2147483647L
  private val A0 = 2654435761L
  private val B0 = 40503L

  test("q188 cohesion ≡ in-memory weakest link; threshold floor; chaining visible") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val pairs = TierNineteen.celledEmbedPairsOf(docs, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val parent = scala.collection.mutable.Map(nodes.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val lab = nodes.map(i => i -> find(i)).toMap
    val bySize = nodes.groupBy(lab).map { case (c, xs) => c -> xs.size.toLong }
    val expected = pairs.groupBy(p => lab(p._1)).toSeq
      .map { case (c, xs) =>
        (c, bySize(c), xs.size.toLong,
          BigDecimal(xs.map(_._3).min).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy(_._1)
    val got = TierFiftyTwo.q188.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected)
    assert(got.size >= 2, "fixture must produce multiple real clusters")
    got.foreach { case (c, size, np, minCos) =>
      assert(size >= 2 && np >= 1 && np <= size * (size - 1) / 2,
        s"cluster $c: pair count $np inconsistent with size $size")
      assert(minCos >= 0.95 - 1e-9, s"cluster $c weakest link $minCos below threshold")
    }
    // transitive chaining is visible: the biggest cluster holds MORE docs
    // than any single doc's direct neighbors could supply at this
    // threshold, i.e. it has fewer pairs than a clique would
    val big = got.maxBy(_._2)
    assert(big._3 < big._2 * (big._2 - 1) / 2,
      s"largest cluster must be chained, not a clique: $big")
  }

  test("q189 priority sample ≡ direct computation; weighting and tie-break laws") {
    val base = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0),
        r.getString(1).split(" ").count(_.nonEmpty).toLong)).toSeq
      .filter(_._2 > 0)
    val scored = base.map { case (id, w) =>
      val u = 1L + ((id % P) * A0 + B0) % P
      (id, w, w * P / u)
    }
    val expected = scored.sortBy { case (id, _, pr) => (-pr, id) }.take(100)
    val got = TierFiftyTwo.q189.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.size == 100)
    // weight-proportional inclusion is visible: the sample skews long
    val sampleMean = got.map(_._2).sum.toDouble / got.size
    val corpusMean = base.map(_._2).sum.toDouble / base.size
    assert(sampleMean > corpusMean,
      s"sample mean w $sampleMean must exceed corpus mean $corpusMean")
    // the doc_id tie-break is load-bearing on this fixture (tied
    // priorities exist INSIDE the sample) — determinism depends on it
    assert(got.groupBy(_._3).values.exists(_.size > 1),
      "fixture must carry tied priorities in the sample")
    // determinism: a second run is bit-identical
    val again = TierFiftyTwo.q189.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(again == got)
  }

  test("tier-52 plan gates: no CartesianProduct; q189 top-k is TakeOrdered, not a global sort") {
    for (q <- TierFiftyTwo.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
      if (q.name.contains("priority"))
        assert(plan.contains("TakeOrdered"),
          s"${q.name} must plan the limit as TakeOrderedAndProject: ${plan.take(800)}")
    }
    operators.Release.sweep(spark)
  }
}
