package graft

import graft.operators.{TierFiftyOne, TierNineteen}
import org.apache.spark.sql.functions._

/** Tier-51 differentials: q186 against an in-memory union-find +
  * cluster-hash split, q187 against a direct n-gram fold; the
  * zero-leakage law; plan gates.
  */
class TierFiftyOneSpec extends SparkSpec {

  private val P = 2147483647L
  private val A0 = 2654435761L
  private val B0 = 40503L

  test("q186 cluster split ≡ in-memory grouped split; ZERO cross-split pairs by construction") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val pairs = TierNineteen.celledEmbedPairsOf(docs, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val toks = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").count(_.nonEmpty).toLong).toMap
    val ids = toks.keys.toSeq
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val lab = ids.map(i => i -> find(i)).toMap
    def splitOf(lbl: Long): String = {
      val bkt = ((lbl % P) * A0 + B0) % P % 1000
      if (bkt < 800) "train" else if (bkt < 900) "valid" else "test"
    }
    val expected = ids.groupBy(i => splitOf(lab(i))).toSeq
      .map { case (sp, xs) =>
        (sp, xs.map(lab).distinct.size.toLong, xs.size.toLong, xs.map(toks).sum) }
      .sortBy(_._1)
    val got = TierFiftyOne.q186.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.map(_._1).toSet == Set("train", "valid", "test"),
      "all three splits must be populated on the fixture")
    assert(got.map(_._3).sum == ids.size, "every doc lands in exactly one split")
    // THE law this query exists for: both endpoints of every near-dup
    // pair share a cluster, hence a split — zero semantic leakage
    pairs.foreach { case (a, b) =>
      assert(splitOf(lab(a)) == splitOf(lab(b)),
        s"pair ($a,$b) must not straddle splits")
    }
    // and the doc-level split (q75/q122's shape) DOES leak on this
    // corpus, so the cluster grouping is load-bearing, not vacuous
    def docSplit(id: Long): String = {
      val bkt = ((id % P) * A0 + B0) % P % 1000
      if (bkt < 800) "train" else if (bkt < 900) "valid" else "test"
    }
    assert(pairs.exists { case (a, b) => docSplit(a) != docSplit(b) },
      "fixture must show doc-level leakage for the grouped split to matter")
  }

  test("q187 n-gram diversity ≡ direct fold; ratios rise with n; repetition visible") {
    val texts = Tables.load(spark, sf, "documents").select("text")
      .collect().map(_.getString(0).split(" ").filter(_.nonEmpty).toSeq).toSeq
    val expected = (1 to 3).map { n =>
      val grams = texts.filter(_.length >= n).flatMap(_.sliding(n).map(_.mkString(" ")))
      (n.toLong, grams.size.toLong, grams.distinct.size.toLong,
        grams.distinct.size.toLong * 1000000 / grams.size)
    }
    val got = TierFiftyOne.q187.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.map(_._4) == got.map(_._4).sorted,
      "distinct ratio must rise with n (longer contexts repeat less)")
    assert(got.forall(_._4 < 1000000L),
      "every width must show SOME repetition on this corpus")
    assert(got.map(_._2) == got.map(_._2).sorted.reverse,
      "total n-gram count must fall as n grows")
  }

  test("tier-51 plan gates: no CartesianProduct") {
    for (q <- TierFiftyOne.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
    operators.Release.sweep(spark)
  }
}
