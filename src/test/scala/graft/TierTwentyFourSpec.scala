package graft

import graft.operators.{TierTwentyFour, TierTwentyOne, TierTwentyTwo}
import org.apache.spark.sql.functions._

/** Tier-24 differentials: q132 against brute-force TTR/Gini (plus the
  * impurity laws), q133 against an in-memory union-find over the same
  * top-K lift edges; the graph engines' empty-input guards; plan gates.
  */
class TierTwentyFourSpec extends SparkSpec {

  private def corpus: Seq[(Long, String)] =
    Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("q132 lexical diversity ≡ brute-force TTR/Gini; impurity laws") {
    val expected = corpus.map { case (id, t) =>
      val toks = t.split(" ").filter(_.nonEmpty)
      (id, toks)
    }.filter(_._2.nonEmpty).sortBy(_._1).map { case (id, toks) =>
      val n = toks.length.toLong
      val counts = toks.groupBy(identity).values.map(_.length.toLong)
      val s2 = counts.map(c => c * c).sum
      (id, n, counts.size.toLong, counts.size * 1000000L / n,
        (n * n - s2) * 1000000L / (n * n))
    }
    val got = TierTwentyFour.q132.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    got.foreach { case (id, n, types, ttr, gini) =>
      assert(ttr > 0 && ttr <= 1000000L, s"ttr out of range @$id")
      assert(gini >= 0 && gini < 1000000L, s"gini out of range @$id")
      assert((gini == 0L) == (types == 1L), s"gini-0 ⇔ single-type law @$id")
      assert((ttr == 1000000L) == (types == n), s"ttr-max ⇔ all-distinct law @$id")
    }
  }

  test("q133 token communities ≡ in-memory union-find over the same top-K lift edges") {
    // brute-force lift (the TierTwentyThreeSpec replication), top-12 pinned
    val docs = corpus
    val dt = docs.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).distinct.map(tok => (id, tok))
    }.distinct
    val n = dt.map(_._1).distinct.size.toLong
    val cf = dt.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
    val byDoc = dt.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).sorted }
    val pc = byDoc.values.flatMap { toks =>
      for (i <- toks.indices; j <- i + 1 until toks.size) yield (toks(i), toks(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      .filter(_._2 >= 5)
    val top = pc.toSeq.map { case ((ta, tb), cab) =>
      (ta, tb, cab * n * 1000000L / (cf(ta) * cf(tb)))
    }.sortBy { case (ta, tb, lift) => (-lift, ta, tb) }.take(12)
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(a: String): String = {
      val p = parent.getOrElseUpdate(a, a)
      if (p == a) a else { val r = find(p); parent(a) = r; r }
    }
    top.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes = (top.map(_._1) ++ top.map(_._2)).distinct
    val expected = nodes.groupBy(find).toSeq
      .map { case (lbl, ms) => (lbl, ms.size.toLong, ms.sorted.mkString(",")) }
      .sortBy(_._1)
    val got = TierTwentyFour.q133.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == expected)
    assert(got.size >= 2, "fixture association graph must split into communities")
    assert(got.exists(_._2 >= 2), "at least one genuine multi-token community")
    // every community label is its own alphabetically-least member
    got.foreach { case (lbl, _, members) =>
      assert(members.split(",").min == lbl, s"label $lbl is not the min member")
    }
  }

  test("s35: per-row diversity column on a stream ≡ batch q132 (cross-implementation)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batch = TierTwentyFour.q132.run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long, Long, Long)]
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().select(col("_1").as("doc_id"),
        TierTwentyFour.diversity(col("_2")).as("d"))
      .filter(col("d").isNotNull)
      .select(col("doc_id"), col("d.n_tok"), col("d.n_types"),
        col("d.ttr_ppm"), col("d.gini_ppm"))
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => acc(r.getLong(0)) =
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        ()
      }.start()
    try {
      val docs = corpus :+ ((90001L, "   ")) // token-less doc must NOT emit
      docs.grouped(120).foreach { c => in.addData(c); q.processAllAvailable() }
      assert(!acc.contains(90001L), "token-less doc leaked through the stream gate")
      assert(acc.toMap == batch,
        "HOF per-row arithmetic diverged from the shuffle aggregation")
    } finally q.stop()
  }

  test("graph engines fail loudly on degenerate input (no silent division by zero)") {
    import spark.implicits._
    val e1 = intercept[IllegalArgumentException] {
      TierTwentyOne.pageRankOver(
        Seq.empty[(Long, Long)].toDF("src", "dst")).collect()
    }
    assert(e1.getMessage.contains("empty"))
    val noSeeds = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"), lit("srcX").as("source"))
    val e2 = intercept[IllegalArgumentException] {
      TierTwentyTwo.trustOver(noSeeds,
        Seq((1L, 2L)).toDF("doc_a", "doc_b")).collect()
    }
    assert(e2.getMessage.contains("seed"))
  }

  test("tier-24 plan gates: no CartesianProduct") {
    for (q <- TierTwentyFour.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
