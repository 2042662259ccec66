package graft

import graft.operators.TierEighteen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Tier-18 differentials against independent in-memory recomputation (hash
  * constants restated literally), the decile partition law, threshold
  * boundary pins for the rare-token scrub, plan gates, and s32 streaming
  * scrub parity.
  */
class TierEighteenSpec extends SparkSpec {
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val P = 2147483647L
  private val A0 = 2654435761L
  private val B0 = 40503L

  /** The q119 injection restated: the augmented corpus both engines scrub. */
  private def augmented: Seq[(Long, String)] =
    Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map { r =>
        val (id, t) = (r.getLong(0), r.getString(1))
        val t1 = if (id % 37 == 0) t + s" rareid$id" else t
        (id, if (id % 5 == 0) t1 + " uncommonx" else t1)
      }.toSeq.sortBy(_._1)

  test("q119 rare-token scrub ≡ brute-force frequency fold (injected corpus)") {
    val aug = augmented
    val freq = aug.flatMap(_._2.split(" ").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size).toMap
    val rare = freq.filter(_._2 < 3).keySet
    val expected = aug.map { case (id, t) =>
      val toks = t.split(" ").filter(_.nonEmpty)
      (id, toks.map(x => if (rare(x)) "<unk>" else x).mkString(" "),
        toks.count(rare).toLong)
    }
    val got = TierEighteen.q119.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
    // boundary pins: every injected doc-unique token scrubbed; the shared
    // injected token (count = n/5 ≥ 3) survives on every row that has it
    got.filter(_._1 % 37 == 0).foreach { case (id, s, n) =>
      assert(n >= 1 && !s.contains(s"rareid$id"), s"doc $id kept its rare token")
    }
    got.filter(_._1 % 5 == 0).foreach { case (id, s, _) =>
      assert(s.endsWith("uncommonx"), s"doc $id lost the frequent injected token")
    }
    assert(rare.nonEmpty, "the injection must create a real tail")
  }

  test("q120 score deciles ≡ brute-force exact-rank cut; deciles balance to ±1") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val allToks = docs.flatMap(_._2.split(" ").filter(_.nonEmpty))
    val vocab = allToks.distinct.sorted.zipWithIndex
      .map { case (t, i) => t -> (i + 1).toLong }.toMap
    def w(b: Long) = ((b * A0 + B0) % P) % 2001 - 1000
    val scored = docs.map { case (id, t) =>
      val s = t.split(" ").filter(_.nonEmpty).map { tok =>
        w(((vocab(tok) % P) * A0 + B0) % P % 4096)
      }.sum
      (id, s)
    }
    val n = scored.size.toLong
    val ranked = scored.sortBy { case (id, s) => (-s, id) }.zipWithIndex
      .map { case ((id, s), i) => (id, s, i.toLong * 10 / n + 1) }
    val tokc = docs.map { case (id, t) =>
      id -> t.split(" ").count(_.nonEmpty).toLong
    }.toMap
    val expected = ranked.groupBy(_._3).toSeq.sortBy(_._1).map { case (d, g) =>
      (d, g.size.toLong, g.map(_._2).min, g.map(_._2).max,
        g.map(t => tokc(t._1)).sum / g.size)
    }
    val got = TierEighteen.q120.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == expected)
    // partition law: 10 bands, populations balanced to ±1, total = n
    assert(got.map(_._1) == (1L to 10L))
    assert(got.map(_._2).sum == n)
    assert(got.map(_._2).max - got.map(_._2).min <= 1)
    // the envelope is monotone: decile 1's floor ≥ decile 2's ceiling etc.
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 >= b._4, s"decile ${a._1} overlaps ${b._1}")
    case _ => ()
    }
  }

  test("scrubRare is idempotent under a frozen rare set (scrub ∘ scrub = scrub)") {
    import spark.implicits._
    val aug = augmented
    val freq = aug.flatMap(_._2.split(" ").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size).toMap
    val rare = freq.filter(_._2 < 3).keys.toSeq.toDF("token")
    val docs = aug.toDF("doc_id", "text")
    val once = TierEighteen.scrubRare(docs, rare)
      .select(col("doc_id"), col("scrubbed").as("text"))
    val onceRows = once.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val twice = TierEighteen.scrubRare(once, rare).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    twice.foreach { case (id, text, n) =>
      assert(text == onceRows(id), s"doc $id changed on the second scrub")
      assert(n == 0L, s"doc $id re-replaced $n tokens on the second scrub")
    }
  }

  test("tier-18 plan gates: no CartesianProduct; q119 no single-partition exchange") {
    for (q <- Seq(TierEighteen.q119, TierEighteen.q120)) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
    // q120's one SinglePartition is the scalar-total agg (q46/q51 shape)
    val plan = TierEighteen.q119.run(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), s"q119: ${plan.take(800)}")
  }

  test("s32: rare-token scrub on a stream ≡ batch q119 (frozen rare set)") {
    import spark.implicits._
    val aug = augmented
    // freeze the rare set from the batch corpus (learn in batch, scrub live)
    val freq = aug.flatMap(_._2.split(" ").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size).toMap
    val rare = freq.filter(_._2 < 3).keys.toSeq.toDF("token")
    val batch = TierEighteen.q119.run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val acc = scala.collection.mutable.Map.empty[Long, (String, Long)]
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      .writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        TierEighteen.scrubRare(df, rare).collect()
          .foreach(r => acc(r.getLong(0)) = (r.getString(1), r.getLong(2)))
        ()
      }.start()
    try {
      aug.grouped(120).foreach { c => in.addData(c); q.processAllAvailable() }
      assert(acc.toMap == batch)
      assert(acc.nonEmpty)
    } finally q.stop()
  }
}
