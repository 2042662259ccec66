package graft

import graft.operators.{TierNineteen, TierTwenty}
import org.apache.spark.sql.functions._

/** Tier-20 differentials: q123 against an in-memory prefix cut with the
  * maximality law; q124 against brute-force flags plus consistency with
  * q122's leaked set; plan gates.
  */
class TierTwentySpec extends SparkSpec {

  private val P = 2147483647L
  private val A0 = 2654435761L
  private val B0 = 40503L

  private def corpus: Seq[(Long, String)] =
    Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("q123 budget cut ≡ in-memory hash-order prefix; kept set is MAXIMAL inside the budget") {
    val budget = 20000L
    val ordered = corpus.map { case (id, t) =>
      (id, t.split(" ").count(_.nonEmpty).toLong, ((id % P) * A0 + B0) % P)
    }.sortBy { case (id, _, h) => (h, id) }
    var cum = 0L
    val expected = ordered.flatMap { case (id, n, _) =>
      cum += n
      if (cum <= budget) Some((id, n, cum)) else None
    }
    val got = TierTwenty.q123.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.size < corpus.size, "cut must be a proper prefix")
    // maximality: the kept total is within budget, and the next doc in
    // hash order would overflow it
    val total = got.last._3
    assert(total <= budget)
    val next = ordered.drop(got.size).headOption
    next.foreach { case (_, n, _) => assert(total + n > budget, "cut stopped early") }
  }

  test("q124 contamination report ≡ brute flags; semantic flag set ≡ q122's leaked valid docs") {
    def splitOf(id: Long): Option[String] = {
      val bkt = ((id % P) * A0 + B0) % P % 1000
      if (bkt < 980) Some("train") else if (bkt < 990) Some("valid") else None
    }
    val byId = corpus.toMap
    val valid = corpus.map(_._1).filter(splitOf(_).contains("valid")).sorted
    val trainTexts = corpus.collect { case (id, t) if splitOf(id).contains("train") => t }.toSet
    val leaked = TierNineteen.q122.run(spark, sf).collect()
      .map(r => r.getLong(1)).toSet // valid_doc column
    val expected = valid.map { id =>
      (id, if (trainTexts(byId(id))) 1L else 0L, if (leaked(id)) 1L else 0L)
    }
    val got = TierTwenty.q124.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.map(_._1) == valid, "one row per valid doc, ordered")
  }

  test("s33: budget-gated streaming admission ≡ batch q123 (hash-order replay, prefix semantics)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batch = TierTwenty.q123.run(spark, sf).collect().map(_.getLong(0)).toSet
    // the production feed order for a budget cut IS the hash order
    val ordered = corpus.map { case (id, t) =>
      (((id % P) * A0 + B0) % P, id, t)
    }.sortBy(t => (t._1, t._2))
    val gate = new TierTwenty.BudgetGate()
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), x => x =!= "")).cast("long").as("n_tok"),
        (((col("doc_id") % P) * A0 + B0) % P).as("h"))
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        admitted ++= gate.admit(df)
        ()
      }.start()
    try {
      ordered.map(t => (t._2, t._3)).grouped(90).foreach { c =>
        in.addData(c); q.processAllAvailable()
      }
      assert(admitted.toSet == batch)
      // prefix semantics: admitted ids arrive in hash order, no gaps
      assert(admitted.toSeq == ordered.map(_._2).take(admitted.size))
    } finally q.stop()
  }

  test("tier-20 plan gates: no CartesianProduct; q123 no single-partition exchange") {
    for (q <- Seq(TierTwenty.q123, TierTwenty.q124)) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
    val plan = TierTwenty.q123.run(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), s"q123: ${plan.take(800)}")
  }
}
