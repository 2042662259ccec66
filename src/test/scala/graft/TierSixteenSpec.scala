package graft

import graft.operators.{Cumulative, TierFourteen, TierSixteen}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Tier-16 differentials against independent in-memory recomputation on the
  * real corpus/embeddings (the hash/LM/tf-idf constants restated literally —
  * the spec is the intentional third engine), plus the manifest's partition
  * law, plan gates, and the s30 streaming-embed parity.
  */
class TierSixteenSpec extends SparkSpec {
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // TierFour's affine family, restated independently (same literals)
  private val P = 2147483647L
  private val A0 = 2654435761L
  private val B0 = 40503L

  private def docTokens: Map[Long, Array[String]] =
    Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
      .toMap

  test("q112 hash embed ≡ brute-force signed-count featurizer (real corpus)") {
    val docs = docTokens
    val vocab = docs.values.flatten.toSeq.distinct.sorted.zipWithIndex
      .map { case (t, i) => t -> (i + 1).toLong }.toMap
    val expected = docs.toSeq.sortBy(_._1).map { case (id, toks) =>
      val e = Array.fill(8)(0L)
      toks.groupBy(identity).foreach { case (t, g) =>
        val h = ((vocab(t) % P) * A0 + B0) % P
        val sign = if ((h / 8) % 2 == 0) 1L else -1L
        e((h % 8).toInt) += sign * g.length
      }
      id +: e.toSeq
    }
    val got = TierSixteen.q112.run(spark, sf).collect()
      .map(r => (0 to 8).map(r.getLong): Seq[Long]).toSeq
    assert(got == expected)
    // the projection must be non-degenerate: some negative, some positive
    assert(got.exists(_.drop(1).exists(_ > 0)) && got.exists(_.drop(1).exists(_ < 0)))
  }

  /** Independent corpus-LM scores: bigram/prefix counts over the whole
    * corpus, per-doc integer mean ppm — q57's semantics, recomputed with
    * plain Scala maps. */
  private def bruteLmScores: Map[Long, Long] = {
    val docs = docTokens
    val big = docs.toSeq.flatMap { case (id, t) =>
      t.sliding(2).filter(_.length == 2).map(w => (id, w(0), w(1))).toSeq
    }
    val ucnt = big.groupBy(_._2).map { case (w1, g) => w1 -> g.size.toLong }
    val bcnt = big.groupBy(b => (b._2, b._3)).map { case (k, g) => k -> g.size.toLong }
    val ppm = bcnt.map { case ((w1, w2), c) => (w1, w2) -> c * 1000000L / ucnt(w1) }
    big.groupBy(_._1).map { case (id, g) =>
      val s = g.map(b => ppm((b._2, b._3))).sum
      id -> s / g.size
    }
  }

  test("q113 LM split ≡ brute-force tercile cut of independent LM scores") {
    val lm = bruteLmScores
    val lang = Tables.load(spark, sf, "documents").select("doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val n = lm.size.toLong
    val k1 = (n + 2) / 3
    val k2 = (2 * n + 2) / 3
    val ranked = lm.toSeq.sortBy { case (id, s) => (-s, id) }.zipWithIndex
    val bucketOf = ranked.map { case ((id, s), i) =>
      val rk = i + 1L
      (id, s, if (rk <= k1) "head" else if (rk <= k2) "middle" else "tail")
    }
    val expected = bucketOf.groupBy(t => (t._3, lang(t._1))).toSeq
      .map { case ((b, lg), g) =>
        (b, lg, g.size.toLong, g.map(_._2).min, g.map(_._2).max)
      }.sortBy(t => (t._1, t._2))
    val got = TierSixteen.q113.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == expected)
    // exact-tercile law: bucket populations are k1, k2-k1, n-k2
    val byBucket = got.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(byBucket.getOrElse("head", 0L) == k1)
    assert(byBucket.getOrElse("middle", 0L) == k2 - k1)
    assert(byBucket.getOrElse("tail", 0L) == n - k2)
  }

  test("q114 manifest partitions the corpus; survivor = min member; labels ≡ q104 clusters") {
    val rows = TierSixteen.q114.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val members = rows.flatMap(_._3.split(",").map(_.toLong))
    val allIds = Tables.load(spark, sf, "documents").select("doc_id")
      .collect().map(_.getLong(0))
    // partition law: every original doc in exactly one member list
    assert(members.sorted.toSeq == allIds.sorted.toSeq)
    assert(rows.map(_._2).sum == allIds.length.toLong)
    rows.foreach { case (surv, nm, ms) =>
      val ids = ms.split(",").map(_.toLong)
      assert(ids.length.toLong == nm)
      assert(ids.min == surv, s"survivor $surv is not the min of $ms")
      assert(ids.sorted.sameElements(ids), s"member list not sorted: $ms")
    }
    // same composition as q104 → identical cluster label set
    val q104Clusters = TierFourteen.q104.run(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet == q104Clusters)
  }

  test("q114 manifest on a synthetic exact-dup fixture (known lineage)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta", "en", "s0", 22L),
      (2L, "alpha beta gamma delta", "en", "s0", 22L),
      (3L, "alpha beta gamma delta", "en", "s1", 22L),
      (10L, "one two three four five six", "en", "s0", 27L))
    spark.createDataFrame(docs).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TierSixteen.q114.run(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 3L, "1,2,3"), (10L, 1L, "10")))
  }

  private def vectors: Map[Long, (Long, Array[Double])] =
    Tables.load(spark, sf, "embeddings").collect().map { r =>
      val e = r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray
      r.getLong(0) -> (r.getAs[Int]("label").toLong, e)
    }.toMap

  test("q115 hard negatives ≡ exact in-memory other-label top-3 (real embeddings)") {
    val v = vectors
    def dot(x: Array[Double], y: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }; s
    }
    val nrm = v.map { case (id, (_, e)) => id -> math.sqrt(dot(e, e)) }
    val expected = v.toSeq.sortBy(_._1).flatMap { case (id, (label, e)) =>
      v.toSeq.filter { case (nb, (nbl, _)) => nb != id && nbl != label }
        .map { case (nb, (_, f)) => (dot(e, f) / (nrm(id) * nrm(nb)), nb) }
        .sortBy { case (c, nb) => (-c, nb) }
        .take(3).zipWithIndex
        .map { case ((c, nb), i) => (id, nb, c, i + 1L) }
    }
    val got = TierSixteen.q115.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got.map(t => (t._1, t._2, t._4)) == expected.map(t => (t._1, t._2, t._4)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) < 1e-6, s"cos drift at ${g._1}->${g._2}")
    }
    // mined negatives really are cross-label
    val lbl = v.view.mapValues(_._1).toMap
    got.foreach { case (a, b, _, _) => assert(lbl(a) != lbl(b)) }
  }

  test("q116 tf-idf keywords ≡ brute-force integer scoring (real corpus)") {
    val docs = docTokens.filter(_._2.nonEmpty)
    val df = docs.values.flatMap(_.distinct).toSeq.groupBy(identity)
      .map { case (t, g) => t -> g.size.toLong }
    val n = docs.size.toLong
    val expected = docs.toSeq.sortBy(_._1).flatMap { case (id, toks) =>
      toks.groupBy(identity).toSeq
        .map { case (t, g) => (t, g.length.toLong * (n * 1000L / df(t))) }
        .sortBy { case (t, s) => (-s, t) }
        .take(3).zipWithIndex
        .map { case ((t, s), i) => (id, t, s, i + 1L) }
    }
    val got = TierSixteen.q116.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
  }

  test("cellHardNegatives (IVF-celled mining) recalls most q115 anchor pairs; probe-2 strictly wins") {
    val anchor = TierSixteen.q115.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val two = TierSixteen.cellHardNegatives(spark, sf, probe2 = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = TierSixteen.cellHardNegatives(spark, sf, probe2 = false).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rTwo = (two & anchor).size.toDouble / anchor.size
    val rOne = (one & anchor).size.toDouble / anchor.size
    info(s"celled hard-negative recall: single-probe $rOne, two-probe $rTwo")
    assert(rOne < rTwo, s"widening must strictly win: $rOne vs $rTwo")
    assert(rTwo >= 0.50, s"two-probe recall $rTwo below measured floor")
    assert(rOne >= 0.25, s"single-probe recall $rOne collapsed")
  }

  private def heavyPlan(q: Q): String = {
    val plan = q.run(spark, sf).queryExecution.executedPlan.toString
    plan
  }

  test("tier-16 plan gates: no CartesianProduct; q112 no single-partition exchange") {
    for (q <- Seq(TierSixteen.q112, TierSixteen.q113, TierSixteen.q116)) {
      val plan = heavyPlan(q)
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
    // q113/q116 carry one legitimate SinglePartition: the scalar-total agg
    // (partial-agg'd per partition, one row moves — the q46/q51 convention);
    // q112 has no global total, so its plan must stay fully partitioned
    val plan = heavyPlan(TierSixteen.q112)
    assert(!plan.contains("Exchange SinglePartition"), s"q112: ${plan.take(800)}")
  }

  test("s30: hash embed on a stream ≡ batch q112 (frozen vocab, stream-static join)") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val toks = docs.select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val vocab = Cumulative.rowNumber(spark,
      toks.select("token").distinct(), Seq(col("token")), "tid")
      .persist()
    vocab.count() // freeze the rank table before the stream starts
    val batch = TierSixteen.q112.run(spark, sf).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toVector).toMap
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val acc = scala.collection.mutable.Map.empty[Long, Vector[Long]]
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      .writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        TierSixteen.hashEmbed(df, vocab).collect()
          .foreach(r => acc(r.getLong(0)) = (1 to 8).map(r.getLong).toVector)
        ()
      }.start()
    try {
      rows.grouped(120).foreach { c => in.addData(c); q.processAllAvailable() }
      assert(acc.toMap == batch)
      assert(acc.nonEmpty)
    } finally {
      q.stop()
      vocab.unpersist()
    }
  }
}
