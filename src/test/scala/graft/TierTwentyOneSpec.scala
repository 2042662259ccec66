package graft

import graft.operators.{TierNine, TierTwentyOne}
import org.apache.spark.sql.functions._

/** Tier-21 differentials: q125 against an in-memory fixed-point PageRank
  * (plus the mass-conservation envelope), q126 against a from-scratch
  * replication of the hashed importance-ppm math, q127 against the √-quota
  * law over the trusted q67 assignment; plan gates (no CartesianProduct,
  * no per-key Window in q127).
  */
class TierTwentyOneSpec extends SparkSpec {

  private val P = 2147483647L
  private val A0 = 2654435761L
  private val B0 = 40503L
  private val S = 1000000000000L

  test("q125 fixed-point PageRank ≡ in-memory iteration; mass envelope holds") {
    val o = Tables.load(spark, sf, "orders").select("o_orderkey", "o_custkey")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
      .collect().map(r => (o(r.getLong(0)) * 2, r.getLong(1) * 2 + 1)).distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    var r = nodes.map(_ -> S / n).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum
      }
      val dang = nodes.filterNot(deg.contains).map(r).sum
      r = nodes.map { nid =>
        nid -> (15L * S / (100L * n) +
          85L * (contrib.getOrElse(nid, 0L) + dang / n) / 100L)
      }.toMap
    }
    val expected = nodes.map(nid => (nid, r(nid))).toSeq
    val got = TierTwentyOne.q125.run(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(got == expected)
    // conservation: integer floors only LOSE mass; teleport restores most
    val total = got.map(_._2).sum
    assert(total <= S && total >= S * 9 / 10, s"mass $total outside envelope")
    assert(got.forall(_._2 > 0), "every node keeps positive rank")
  }

  test("pageRankOver ≡ in-memory iteration on random digraphs (seeded LCG sweep)") {
    import spark.implicits._
    for (seed <- 0 until 3) {
      // deterministic LCG edge generator: ~60 directed edges over 30 nodes,
      // self-loop-free, shapes vary by seed (hubs, chains, isolates)
      var x = seed * 2654435761L + 40503L
      def next(m: Long): Long = { x = (x * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; x % m }
      val edges = (0 until 60).map { _ =>
        val a = next(30); val b = next(30)
        (a, if (b == a) (a + 1) % 30 else b)
      }.distinct
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
      val n = nodes.length.toLong
      val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
      var r = nodes.map(_ -> S / n).toMap
      for (_ <- 1 to 3) {
        val contrib = edges.groupBy(_._2).map { case (dst, es) =>
          dst -> es.map { case (src, _) => r(src) / deg(src) }.sum
        }
        val dang = nodes.filterNot(deg.contains).map(r).sum
        r = nodes.map { nid =>
          nid -> (15L * S / (100L * n) +
            85L * (contrib.getOrElse(nid, 0L) + dang / n) / 100L)
        }.toMap
      }
      val expected = nodes.map(nid => (nid, r(nid))).toSeq
      val got = graft.operators.TierTwentyOne.pageRankOver(
          edges.toDF("src", "dst"))
        .orderBy("nid").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
      assert(got == expected, s"seed $seed diverged")
    }
  }

  test("q126 DSIR importance ppm ≡ from-scratch replication of the bucket math") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "lang", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val toks = docs.flatMap { case (id, lang, t) =>
      t.split(" ").filter(_.nonEmpty).map(tok => (id, lang, tok))
    }
    val vocab = toks.map(_._3).distinct.sorted.zipWithIndex
      .map { case (t, i) => t -> (i + 1).toLong }.toMap
    def bucket(tok: String): Long = ((vocab(tok) % P) * A0 + B0) % P % 16
    val tb = toks.map { case (id, lang, tok) => (id, lang, bucket(tok)) }
    val tr = tb.length.toLong
    val tt = tb.count(_._2 == "en").toLong
    val cr = tb.groupBy(_._3).map { case (b, xs) => b -> xs.length.toLong }
    val ct = tb.filter(_._2 == "en").groupBy(_._3)
      .map { case (b, xs) => b -> xs.length.toLong }
    val lr = cr.map { case (b, c) =>
      val pt = (ct.getOrElse(b, 0L) + 1) * 1000000L / (tt + 16)
      val pr = math.max((c + 1) * 1000000L / (tr + 16), 1L)
      b -> pt * 1000000L / pr
    }
    val expected = tb.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, xs) =>
      val n = xs.length.toLong
      (id, n, xs.map(x => lr(x._3)).sum / n)
    }
    val got = TierTwentyOne.q126.run(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(got == expected)
  }

  test("q127 cluster sample: per-cell kept count = ⌊√size⌋, ranks dense, hash-order prefix") {
    val assign = TierNine.ivfIndex(spark, sf).select("vec_id", "cell")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val byCell = assign.groupBy(_._2)
    val expected = byCell.toSeq.sortBy(_._1).flatMap { case (cid, xs) =>
      val quota = math.sqrt(xs.length.toDouble).toLong
      xs.map(_._1).sortBy(id => (((id % P) * A0 + B0) % P, id))
        .take(quota.toInt).zipWithIndex
        .map { case (vid, i) => (cid, vid, i + 1L) }
    }
    val got = TierTwentyOne.q127.run(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(got == expected)
    val kept = got.groupBy(_._1).map { case (c, xs) => c -> xs.length.toLong }
    byCell.foreach { case (cid, xs) =>
      assert(kept(cid) == math.sqrt(xs.length.toDouble).toLong,
        s"cell $cid quota drift")
    }
  }

  test("s34: DSIR scoring on a stream ≡ batch q126 (frozen per-token weights); unseen floor") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // learn in batch, score live (the s32 frozen-set discipline)
    val weights = TierTwentyOne.dsirModel(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.toDF("token", "lr_ppm")
    val batch = TierTwentyOne.q126.run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val unseen = (90001L, "zzzz yyyy xxxx") // no model token — floor applies
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        TierTwentyOne.dsirApply(df, weights, unseenPpm = 777L).collect()
          .foreach(r => acc(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
        ()
      }.start()
    try {
      (docs :+ unseen).grouped(120).foreach { c => in.addData(c); q.processAllAvailable() }
      assert(acc(unseen._1) == ((3L, 777L)), "all-unseen doc must score the floor")
      assert((acc - unseen._1).toMap == batch)
    } finally q.stop()
  }

  test("tier-21 plan gates: no CartesianProduct anywhere; q127 rank has no Window") {
    for (q <- TierTwentyOne.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
    val p127 = TierTwentyOne.q127.run(spark, sf).queryExecution.executedPlan.toString
    assert(!p127.contains("Window"), s"q127 must rank via the two-pass prefix, got: ${p127.take(800)}")
    // built-but-never-executed engine frames leave armed auto-release
    // listeners + pinned checkpoint leaves — drain them (round-9 ADVICE)
    operators.Release.sweep(spark)
  }
}
