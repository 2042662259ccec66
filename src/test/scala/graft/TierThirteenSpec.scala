package graft

import graft.operators.{TierNine, TierThirteen}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Tier-13 round-7 widening: the training-run assembly steps. Brute-force
  * differentials in Scala, the admission-status fixture covering every
  * branch of [[TierThirteen.admit]], the q100↔q69 component-count link,
  * and the plan gates.
  */
class TierThirteenSpec extends SparkSpec {

  private def releaseRanks(): Unit = {
    spark.catalog.clearCache()
  }

  test("q97 corpus shuffle ≡ brute force, and shards are 64-doc rank blocks") {
    val rows = TierThirteen.q97.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    releaseRanks()
    val P = 2147483647L
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val expected = ids
      .map(id => id -> (2654435761L * (id % P) + 40503L) % P)
      .sortBy { case (id, h) => (h, id) }
      .zipWithIndex
      .map { case ((id, _), i) => (id, i + 1L, i.toLong / 64L) }
    assert(rows.toSeq == expected.toSeq)
    // permutation: every doc exactly once, ranks dense 1..n
    assert(rows.map(_._1).distinct.length == ids.length)
    assert(rows.map(_._2).min == 1L && rows.map(_._2).max == ids.length.toLong)
    // every shard but the last is exactly 64 docs
    val byShard = rows.groupBy(_._3).toSeq.sortBy(_._1)
    byShard.dropRight(1).foreach { case (s, g) =>
      assert(g.length == 64, s"shard $s has ${g.length} docs")
    }
  }

  test("q97 is deterministic across partitionings (retry/cluster-size stable)") {
    val a = TierThirteen.q97.run(spark, sf).collect().map(_.toSeq)
    releaseRanks()
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = TierThirteen.q97.run(spark, sf).collect().map(_.toSeq)
      assert(a.toSeq == b.toSeq)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", old)
      releaseRanks()
    }
  }

  private def df(schema: StructType, rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)

  test("admit: every status branch on a hand-built fixture") {
    val bSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    val cSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val pSchema = StructType(Seq(StructField("doc_a", LongType),
      StructField("doc_b", LongType)))
    val corpus = df(cSchema, Seq(Row(10L, "x"), Row(11L, "y")))
    val batch = df(bSchema, Seq(
      Row(0L, "en", "x"),   // exact: digest matches corpus doc 10
      Row(5L, "en", "z"),   // admitted: no digest match, no pair
      Row(15L, "en", "z"),  // exact: prior batch doc 5 has the same text
      Row(20L, "de", "w"),  // near: paired with corpus doc 10
      Row(25L, "de", "v"),  // near: paired with smaller-id batch doc 20
      Row(30L, "de", "u"))) // admitted
    val pairs = df(pSchema, Seq(Row(10L, 20L), Row(20L, 25L)))
    val got = TierThirteen.admit(batch, corpus, pairs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(0L -> "exact", 5L -> "admitted", 15L -> "exact",
      20L -> "near", 25L -> "near", 30L -> "admitted"))
  }

  test("admit: screen is greedy by id — a pair with a LARGER batch doc " +
    "never drops the smaller, and exact takes precedence over near") {
    val bSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    val cSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val pSchema = StructType(Seq(StructField("doc_a", LongType),
      StructField("doc_b", LongType)))
    val corpus = df(cSchema, Seq(Row(100L, "k")))
    val batch = df(bSchema, Seq(
      Row(1L, "en", "a"),   // paired only with LARGER batch doc 2 → admitted
      Row(2L, "en", "b"),   // near (partner 1 is smaller)
      Row(3L, "en", "k")))  // exact vs corpus AND paired — exact wins
    val pairs = df(pSchema, Seq(Row(1L, 2L), Row(3L, 100L)))
    val got = TierThirteen.admit(batch, corpus, pairs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "admitted", 2L -> "near", 3L -> "exact"))
  }

  test("q98 per-language counts partition the batch (exact+near+admitted = batch)") {
    val rows = TierThirteen.q98.run(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4),
        s"lang ${r.getString(0)}: counts don't partition")
    }
    // the injection makes the exact branch live at every SF
    assert(rows.map(_.getLong(2)).sum > 0, "no exact drops — injection dead")
  }

  test("q99 BPE merge ≡ brute force over the collected word-frequency table") {
    val wf = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("explode(split(text, ' ')) AS w").where("w <> ''")
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val expected = wf.flatMap { case (w, f) =>
        w.sliding(2).filter(_.length == 2).map(p => (p(0).toString, p(1).toString, f))
      }
      .groupBy(t => (t._1, t._2))
      .map { case ((a, b), g) => (a, b, g.map(_._3).sum) }
      .toSeq
      .sortBy { case (a, b, wt) => (-wt, a, b) }
      .take(20)
    val got = TierThirteen.q99.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("q100 survivors = one per q69 component, totals = corpus") {
    val q100 = TierThirteen.q100.run(spark, sf).collect()
    val nTotal = q100.map(_.getLong(1)).sum
    val nSurv = q100.map(_.getLong(2)).sum
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(nTotal == nVecs)
    // q69's histogram counts components: Σ n_clusters = #components = Σ survivors
    val nComponents = TierNine.q69.run(spark, sf).collect()
      .map(_.getLong(1)).sum
    assert(nSurv == nComponents,
      s"survivors $nSurv != components $nComponents")
    q100.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("tier-13 plans: no CartesianProduct; q97 rank fully distributed") {
    Seq(TierThirteen.q97, TierThirteen.q99, TierThirteen.q100).foreach { q =>
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(600)}")
      releaseRanks()
    }
    val p97 = TierThirteen.q97.run(spark, sf).queryExecution.executedPlan.toString
    releaseRanks()
    assert(!p97.contains("Exchange SinglePartition"), p97.take(600))
  }
}
