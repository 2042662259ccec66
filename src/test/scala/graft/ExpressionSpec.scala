package graft

import graft.expressions.{GraftFunctions, SqlSurface}
import org.apache.spark.sql.functions._

/** The custom codegen'd DotProduct expression: numerically identical to the
  * declarative zip_with/aggregate formulation (same left-to-right summation
  * order), null-safe, and actually compiled (not CodegenFallback).
  */
class ExpressionSpec extends SparkSpec {

  test("graft_dot ≡ aggregate(zip_with(·,·,*)) bit-for-bit on real embeddings") {
    GraftFunctions.register(spark)
    val v = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val both = v.crossJoin(v.filter(col("vec_id") === 0).select(col("e").as("q")))
      .select(
        call_function("graft_dot", col("e"), col("q")).as("fast"),
        aggregate(zip_with(col("e"), col("q"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x).as("slow"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1), "summation order must match"))
  }

  test("graft_dot null semantics and interpreted path") {
    GraftFunctions.register(spark)
    val rows = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       graft_dot(cast(null as array<double>), array(1.0d)) AS n""".stripMargin)
      .collect()
    assert(rows.head.getDouble(0) == 11.0)
    assert(rows.head.isNullAt(1))
  }

  test("GraftExtensions injects graft_dot via SparkSessionExtensions") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.expressions.GraftExtensions().apply(ext) // must not throw
    // runtime resolution via the registry path is covered by the tests above
  }

  test("GraftFunctions.register keeps existing registrations and registers only missing names") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    val scalars = spark.sessionState.functionRegistry
    def infos(): Map[String, Option[ExpressionInfo]] =
      (SqlSurface.scalars.map { case (n, _, _) =>
        n -> scalars.lookupFunction(FunctionIdentifier(n)) } ++
       SqlSurface.tables.map { case (n, _, _) =>
        n -> org.apache.spark.sql.GraftSqlBridge.tableFunctionInfo(spark, n) }).toMap
    GraftFunctions.register(spark)
    val first = infos()
    GraftFunctions.register(spark)
    val second = infos()
    first.foreach { case (name, info) =>
      assert(info.isDefined && second(name).isDefined, s"$name is not registered")
      assert(second(name).get eq info.get, s"$name was registered again")
    }
    SqlSurface.scalars.foreach { case (name, _, _) =>
      assert(scalars.lookupFunctionBuilder(FunctionIdentifier(name)).isDefined, name)
    }
  }

  // ── the SQL surface: every sketch/dedup probe reachable from pure SQL ──
  // One definition per probe (SqlSurface builders wrap the SAME Scala
  // compositions the DataFrame API uses), so these tests are parity pins:
  // SQL result ≡ Scala result, bit for bit.

  test("graft_hamming from SQL ≡ bit_count(xor) and the q59 join's distances") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_hamming(11L, 8L) AS a,  -- 11^8 = 3 -> 2 bits
        |       graft_hamming(-1L, 0L) AS b,  -- all 64 bits differ
        |       graft_hamming(5L, 5L) AS c""".stripMargin).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 64L, 0L)))
  }

  test("graft_bloom_maybe from SQL ≡ Bloom.mightContainCol (packed filter via a 1-row view)") {
    GraftFunctions.register(spark)
    import graft.functions.Bloom
    val blocked = spark.range(100).select((col("id") * 7 + 3).as("id"))
    val words = Bloom.toBits(Bloom.build(blocked, col("id"), bits = 1024, hashes = 3), bits = 1024)
    spark.range(1).select(array(words.map(lit(_)): _*).as("w"))
      .createOrReplaceTempView("bloom_words")
    spark.range(800).createOrReplaceTempView("bloom_probe_ids")
    val sql = spark.sql(
      """SELECT id, graft_bloom_maybe(w, id, 1024, 3) AS maybe
        |FROM bloom_probe_ids CROSS JOIN bloom_words""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val scala = spark.range(800)
      .select(col("id"), Bloom.mightContainCol(words, col("id"), bits = 1024, hashes = 3).as("m"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(sql == scala)
    val blockedIds = blocked.collect().map(_.getLong(0)).toSet
    blockedIds.filter(_ < 800).foreach(id => assert(sql(id), s"false negative for $id"))
  }

  test("graft_cm_est from SQL ≡ CountMin.probe, and never underestimates") {
    GraftFunctions.register(spark)
    import graft.functions.CountMin
    val counts = spark.range(200)
      .select(col("id"), (col("id") % 13 + 1).as("f"))
    val sketch = CountMin.build(counts, col("id"), col("f"))
    val dense = CountMin.toDense(sketch)
    spark.range(1).select(array(dense.map(lit(_)): _*).as("c"))
      .createOrReplaceTempView("cm_cells")
    spark.range(200).createOrReplaceTempView("cm_probe_ids")
    val sql = spark.sql(
      """SELECT id, graft_cm_est(c, id) AS est
        |FROM cm_probe_ids CROSS JOIN cm_cells""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaProbe = CountMin.probe(spark.range(200).toDF("id"), col("id"), sketch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sql == viaProbe, "scalar estimate must equal the join-based probe")
    val truth = counts.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sql.foreach { case (id, est) => assert(est >= truth(id), s"CMS underestimated key $id") }
  }

  test("graft_simhash_pairs table function from SQL ≡ TierSeven.hammingPairs") {
    GraftFunctions.register(spark)
    val sigs = graft.operators.TierFour.simhashSigs(spark, sf)
    sigs.createOrReplaceTempView("sql_sigs")
    val sql = spark.sql("SELECT * FROM graft_simhash_pairs('sql_sigs')")
      .collect().map(_.toString).sorted.toSeq
    val scala = graft.operators.TierSeven.hammingPairs(sigs)
      .collect().map(_.toString).sorted.toSeq
    assert(sql == scala && sql.nonEmpty)
  }

  test("graft_cross_doc_strip table function from SQL ≡ TierFourteen.stripForeignSpans") {
    GraftFunctions.register(spark)
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    docs.createOrReplaceTempView("strip_docs")
    val sql = spark.sql("SELECT * FROM graft_cross_doc_strip('strip_docs')")
      .collect().map(_.toString).toSeq
    val scala = graft.operators.TierFourteen.stripForeignSpans(docs)
      .collect().map(_.toString).toSeq
    assert(sql == scala && sql.nonEmpty)
  }

  test("graft_gopher_flags table function from SQL ≡ TierFifteen.gopherFlags") {
    GraftFunctions.register(spark)
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    docs.createOrReplaceTempView("gopher_docs")
    val sql = spark.sql("SELECT * FROM graft_gopher_flags('gopher_docs')")
      .collect().map(_.toString).sorted.toSeq
    val scala = graft.operators.TierFifteen.gopherFlags(docs)
      .collect().map(_.toString).sorted.toSeq
    assert(sql == scala && sql.nonEmpty)
  }

  test("graft_span_corrupt table function from SQL ≡ TierSeventeen.spanCorrupt") {
    GraftFunctions.register(spark)
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    docs.createOrReplaceTempView("corrupt_docs")
    val sql = spark.sql("SELECT * FROM graft_span_corrupt('corrupt_docs')")
      .collect().map(_.toString).sorted.toSeq
    val scala = graft.operators.TierSeventeen.spanCorrupt(docs)
      .collect().map(_.toString).sorted.toSeq
    assert(sql == scala && sql.nonEmpty)
  }

  test("graft_hash_embed table function from SQL ≡ TierSixteen.hashEmbed (frozen vocab)") {
    GraftFunctions.register(spark)
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val vocab = graft.operators.Cumulative.rowNumber(spark,
      docs.select(org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.col("text"), " ")).as("token"))
        .filter(org.apache.spark.sql.functions.col("token") =!= "")
        .select("token").distinct(),
      Seq(org.apache.spark.sql.functions.col("token")), "tid").persist()
    vocab.count() // freeze before both consumers
    try {
      docs.createOrReplaceTempView("embed_docs")
      vocab.createOrReplaceTempView("embed_vocab")
      val sql = spark.sql("SELECT * FROM graft_hash_embed('embed_docs', 'embed_vocab')")
        .collect().map(_.toString).sorted.toSeq
      val scala = graft.operators.TierSixteen.hashEmbed(docs, vocab)
        .collect().map(_.toString).sorted.toSeq
      assert(sql == scala && sql.nonEmpty)
    } finally {
      vocab.unpersist()
    }
  }

  test("graft_scrub_rare table function from SQL ≡ TierEighteen.scrubRare (frozen rare set)") {
    import org.apache.spark.sql.functions.{col, explode, split}
    GraftFunctions.register(spark)
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    // a small frozen "rare" set drawn from the corpus vocabulary
    val rare = docs.select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "").distinct().orderBy("token").limit(3)
    docs.createOrReplaceTempView("scrub_docs")
    rare.createOrReplaceTempView("scrub_rare")
    val sql = spark.sql("SELECT * FROM graft_scrub_rare('scrub_docs', 'scrub_rare')")
      .collect().map(_.toString).sorted.toSeq
    val scala = graft.operators.TierEighteen.scrubRare(docs, rare)
      .collect().map(_.toString).sorted.toSeq
    assert(sql == scala && sql.nonEmpty)
    assert(sql.exists(_.contains("<unk>")), "the frozen set must actually scrub")
  }

  test("graft_dsir_score table function from SQL ≡ TierTwentyOne.dsirApply (frozen weights)") {
    import org.apache.spark.sql.functions.col
    GraftFunctions.register(spark)
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val weights = graft.operators.TierTwentyOne.dsirModel(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    import spark.implicits._
    val wdf = weights.toDF("token", "lr_ppm")
    docs.createOrReplaceTempView("dsir_docs")
    wdf.createOrReplaceTempView("dsir_weights")
    val sql = spark.sql(
        "SELECT * FROM graft_dsir_score('dsir_docs', 'dsir_weights', 777)")
      .collect().map(_.toString).sorted.toSeq
    val scala = graft.operators.TierTwentyOne.dsirApply(docs, wdf, 777L)
      .collect().map(_.toString).sorted.toSeq
    assert(sql == scala && sql.nonEmpty)
    // the unseen floor must be an INT literal (it is an analysis-time knob)
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_dsir_score('dsir_docs', 'dsir_weights', 1 + 1)"))
    assert(e.getMessage.contains("INT literal"))
  }

  test("graft_phrase_probe table function from SQL ≡ LexIndex.phraseProbe (VERDICT r7 #6)") {
    import graft.operators.LexIndex
    GraftFunctions.register(spark)
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val name = LexIndex.scratchName(spark, "sqlsurf_lex")
    LexIndex.build(docs, name)
    val sql = spark.sql(s"SELECT * FROM graft_phrase_probe('$name', 'window', 'hash')")
      .collect().map(_.toString).toSeq
    val scala = LexIndex.phraseProbe(spark, name, Seq("window", "hash"))
      .collect().map(_.toString).toSeq
    assert(sql == scala && sql.nonEmpty)
    // malformed calls fail at analysis with the usage message, not at run time
    val e = intercept[Exception](spark.sql(s"SELECT * FROM graft_phrase_probe('$name')"))
    assert(e.getMessage.contains("at least one phrase term"))
  }

  test("graft_ivf_probe table function from SQL ≡ IvfStore.probe (VERDICT r7 #6)") {
    import graft.operators.{IvfStore, TierNine}
    import graft.sources.Warehouse
    GraftFunctions.register(spark)
    val path = Warehouse.scratchDir("sqlsurf_ivf")
    val emb = TierNine.embOf(spark, sf)
    IvfStore.build(spark, emb, path, TierNine.lloydCentroids(spark, sf))
    val q0 = emb.filter(col("vec_id") === 0).head.getSeq[Double](1).toSeq
    val vecSql = q0.mkString("array(", "D, ", "D)")
    val sql = spark.sql(
        s"SELECT * FROM graft_ivf_probe('$path', $vecSql, 10, 2)")
      .collect().map(_.toString).toSeq
    val scala = IvfStore.probe(spark, path, q0, k = 10, nprobe = 2)
      .collect().map(_.toString).toSeq
    assert(sql == scala && sql.nonEmpty)
    // the query vector is an analysis-time parameter: a non-foldable arg fails loudly
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM graft_ivf_probe('$path', array(rand()))"))
    assert(e.getMessage.contains("foldable ARRAY<DOUBLE>"))
  }

  test("graft_simhash / graft_quality from SQL ≡ their Scala columns (the ingest gate in pure SQL)") {
    GraftFunctions.register(spark)
    Tables.load(spark, sf, "documents").createOrReplaceTempView("docs_sql")
    val sql = spark.sql(
      """SELECT doc_id, graft_simhash(text) AS sig, graft_quality(text) AS q
        |FROM docs_sql""".stripMargin)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val scala = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        graft.operators.TextOps.simhashCol(col("text")).as("sig"),
        graft.operators.TierFour.qualityCol(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(sql == scala && sql.nonEmpty)
  }

  test("graft_quantize_int8 from SQL ≡ independent brute force, inside codegen") {
    GraftFunctions.register(spark)
    Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .createOrReplaceTempView("emb_sql")
    val sql = spark.sql("SELECT vec_id, graft_quantize_int8(e) AS q FROM emb_sql")
    val plan = sql.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [") && plan.contains("graft_quantize_int8("),
      "must fuse into codegen: " + plan.take(400))
    val got = sql.collect().map(r => r.getLong(0) -> r.getSeq[Byte](1).toSeq).toMap
    // independent reference (Ann.quantizeInt8 delegates to the SAME
    // expression — comparing those two would be a tautology)
    def ref(v: Array[Double]): Seq[Byte] = {
      val m = if (v.isEmpty) 0.0 else v.map(math.abs).max
      if (m == 0.0) v.map(_ => 0: Byte).toSeq
      else v.map { x =>
        val s = x * 127.0 / m
        (if (s >= 0) math.floor(s + 0.5) else math.ceil(s - 0.5)).toByte
      }.toSeq
    }
    val expected = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> ref(r.getSeq[Double](1).toArray)).toMap
    assert(got == expected && got.nonEmpty)
    // rounding is HALF_UP away from zero: -1.0 at max|v|=2 → -63.5 → -64
    val halves = spark.sql("SELECT graft_quantize_int8(array(2.0d, -1.0d)) AS q")
      .head().getSeq[Byte](0)
    assert(halves == Seq(127, -64), s"got $halves")
  }

  test("graft_classifier_score native ≡ HOF reference bit-for-bit (fixture + adversarial strings)") {
    // the round-6 item: the s22/s24/Prepare admission gate's aggregate-HOF
    // fold was CodegenFallback; ClassifierScore is its native twin and must
    // be bit-identical on every tokenization edge the HOF form implies
    import graft.operators.TierEleven
    val w = TierEleven.pseudoWeights
    val docs = Tables.load(spark, sf, "documents")
      .select(col("text"))
      .unionAll(spark.sql(
        """SELECT * FROM VALUES (''), ('   '), (' leading'), ('trailing '),
          |  ('a  double  space'), ('über tokens ééé 日本語 mixed'),
          |  ('one'), (CAST(NULL AS STRING)) AS t(text)""".stripMargin))
    val rows = docs.select(
      TierEleven.scoreCol(w, col("text")).as("fast"),
      TierEleven.scoreColReference(w, col("text")).as("slow"))
      .collect()
    assert(rows.length > 500)
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), "null-in-null-out must match")
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1), s"native ≠ HOF: $r")
    }
    // randomized differential: arbitrary unicode strings, same bit-for-bit pin
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val strGen = Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const(" "),
      Gen.oneOf("ü", "é", "日", "𝔘"), Gen.asciiPrintableStr)).map(_.mkString)
    val samples = (0 until 200).flatMap(i => strGen.apply(Gen.Parameters.default, Seed(900L + i)))
    val rand = spark.createDataset(samples)(org.apache.spark.sql.Encoders.STRING).toDF("text")
      .select(TierEleven.scoreCol(w, col("text")).as("fast"),
        TierEleven.scoreColReference(w, col("text")).as("slow"))
      .collect()
    assert(rand.length >= 150)
    rand.foreach(r => assert(r.getLong(0) == r.getLong(1), s"native ≠ HOF on random string: $r"))
  }

  test("graft_classifier_score runs inside whole-stage codegen and from SQL ≡ Scala") {
    GraftFunctions.register(spark)
    import graft.operators.TierEleven
    val small = Array(5L, -3L, 7L, 11L, -13L, 17L, 19L, -23L) // 8 buckets
    Tables.load(spark, sf, "documents").createOrReplaceTempView("clf_docs")
    val sql = spark.sql(
      """SELECT doc_id, graft_classifier_score(text,
        |  array(5L, -3L, 7L, 11L, -13L, 17L, 19L, -23L)) AS s
        |FROM clf_docs""".stripMargin)
    val plan = sql.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [") && plan.contains("graft_classifier_score("),
      "must fuse into codegen: " + plan.take(400))
    val got = sql.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scala = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), TierEleven.scoreCol(small, col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == scala && got.nonEmpty)
    // model-parameter hygiene: non-power-of-two and non-foldable weights fail loudly
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_classifier_score('a b', array(1L, 2L, 3L))").collect()
    }
    assert(e1.getMessage.contains("power of two"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_classifier_score(text, array(doc_id)) FROM clf_docs").collect()
    }
    assert(e2.getMessage.contains("foldable"), e2.getMessage)
  }

  test("SQL-surface size parameters must be literals (they shape the expression tree)") {
    GraftFunctions.register(spark)
    spark.range(1).select(array(lit(0L)).as("w")).createOrReplaceTempView("one_word")
    val err = intercept[Exception] {
      spark.sql("SELECT graft_bloom_maybe(w, id, cast(id AS INT), 3) FROM one_word CROSS JOIN range(2)")
        .collect()
    }
    assert(err.getMessage.contains("INT literal"), err.getMessage)
  }

  test("graft_dot runs inside whole-stage codegen") {
    GraftFunctions.register(spark)
    val v = Tables.load(spark, sf, "embeddings")
      .select(col("embedding").cast("array<double>").as("e"))
      .select(call_function("graft_dot", col("e"), col("e")).as("d"))
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    val plan = v.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_dot"), plan.take(500))
    // and the value is right
    assert(v.agg(min("d")).head().getDouble(0) > 0.0)
  }

  test("graph-engine table functions from SQL ≡ the Graph engine, and auto-release fires through SQL") {
    import spark.implicits._
    import graft.operators.Graph
    GraftFunctions.register(spark)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
      .toDF("src", "dst")
    edges.createOrReplaceTempView("gr_edges")
    Seq((1L, true), (2L, false), (3L, false), (4L, false)).toDF("nid", "tele")
      .createOrReplaceTempView("gr_nodes")
    Seq(Tuple1(4L)).toDF("nid").createOrReplaceTempView("gr_seeds")
    Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 2L), (3L, 1L, 1L))
      .toDF("src", "dst", "w").createOrReplaceTempView("gr_wedges")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    def pinnedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = pinnedIds
    // SQL twin ≡ Scala engine, bit-for-bit (same integer fixed-point path)
    val prSql = rows(spark.sql("SELECT * FROM graft_pagerank('gr_edges', 4)"))
    val pr = Graph.pageRank(edges, iters = 4)
    assert(prSql == rows(pr.out) && prSql.nonEmpty)
    pr.release()

    val wSql = rows(spark.sql("SELECT * FROM graft_weighted_pagerank('gr_wedges', 3)"))
    val w = Graph.weightedPageRank(
      spark.table("gr_wedges"), iters = 3)
    assert(wSql == rows(w.out))
    w.release()

    val tSql = rows(spark.sql("SELECT * FROM graft_trust('gr_nodes', 'gr_edges', 2)"))
    val t = Graph.trust(spark.table("gr_nodes"), edges, iters = 2)
    assert(tSql == rows(t.out))
    assert(tSql.find(_._1 == 1L).exists(_._2 > 0), "seed must hold trust")
    t.release()

    val bSql = rows(spark.sql("SELECT * FROM graft_bfs('gr_edges', 'gr_seeds')")
      .orderBy("nid"))
    // 4→1→{2,3}, then 2→3/3→1 add nothing new
    assert(bSql == Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 0L)))
    val bCap = rows(spark.sql("SELECT * FROM graft_bfs('gr_edges', 'gr_seeds', 1)")
      .orderBy("nid"))
    assert(bCap == Seq((1L, 1L), (4L, 0L)), "max_hops must cap the reach")

    val hSql = spark.sql("SELECT * FROM graft_hits('gr_edges', 2)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val hits = Graph.hits(edges, iters = 2)
    val hScala = hits.out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(hSql == hScala && hSql.nonEmpty)
    hits.release()

    Seq(Tuple1(1L)).toDF("nid").createOrReplaceTempView("gr_spseeds")
    val sSql = rows(spark.sql("SELECT * FROM graft_sssp('gr_wedges', 'gr_spseeds')")
      .orderBy("nid"))
    val sp = Graph.sssp(spark.table("gr_wedges"), spark.table("gr_spseeds"))
    assert(sSql == rows(sp.out.orderBy("nid")))
    sp.release()
    // min cost from 1: itself 0, 3 via the direct w=1 edge, 2 via w=3
    assert(sSql == Seq((1L, 0L), (2L, 3L), (3L, 1L)), s"got $sSql")

    // bridged triangles (gr_sym2): LPA from SQL ≡ the Scala engine
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))
      .flatMap { case (x, y) => Seq((x, y), (y, x)) }.toDF("src", "dst")
      .createOrReplaceTempView("gr_sym2")
    val lSql = rows(spark.sql("SELECT * FROM graft_lpa('gr_sym2', 10)").orderBy("nid"))
    val lp = Graph.lpa(spark.table("gr_sym2"), maxRounds = 10)
    assert(lSql == rows(lp.out.orderBy("nid")))
    lp.release()
    assert(lSql.groupBy(_._2).values.map(_.map(_._1).toSet).toSet ==
      Set(Set(1L, 2L, 3L), Set(4L, 5L, 6L)), s"got $lSql")

    // symmetrized 3-cycle + pendant: 2-core = the cycle
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))
      .flatMap { case (x, y) => Seq((x, y), (y, x)) }.toDF("src", "dst")
      .createOrReplaceTempView("gr_sym")
    val kSql = spark.sql("SELECT * FROM graft_kcore('gr_sym', 2)")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(kSql == Seq(1L, 2L, 3L), s"2-core must be the cycle, got $kSql")

    // the SQL SELECTs executed each single-shot frame once — their
    // auto-release listeners must have fired through the spliced plan
    // (node identity survives table-function resolution)
    val deadline = System.nanoTime() + 30_000_000_000L
    while ((pinnedIds -- before).nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert((pinnedIds -- before).isEmpty,
      s"SQL executions must fire the engines' auto-release; still pinned: ${pinnedIds -- before}")

    // arity / literal guards surface as analysis-time errors
    val err = intercept[Exception](spark.sql("SELECT * FROM graft_bfs('gr_edges')"))
    assert(err.getMessage.contains("2 or 3"), err.getMessage)
  }

  test("a round cap below 1 is rejected before any job, from SQL and from Scala") {
    import spark.implicits._
    import graft.operators.Graph
    GraftFunctions.register(spark)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    edges.createOrReplaceTempView("cap_edges")
    // zero rounds would silently return the initial teleport distribution
    intercept[IllegalArgumentException](
      spark.sql("SELECT * FROM graft_pagerank('cap_edges', 0)").collect())
    val nodes = Seq((1L, true), (2L, false), (3L, false)).toDF("nid", "tele")
    intercept[IllegalArgumentException](Graph.trust(nodes, edges, iters = 0))
  }

  test("graft_running_max table function from SQL ≡ Cumulative.runningMax (r10 VERDICT #8)") {
    import spark.implicits._
    graft.expressions.GraftFunctions.register(spark)
    Seq((1L, 5L), (2L, 3L), (3L, 9L), (4L, 9L), (5L, 2L))
      .toDF("k", "v").createOrReplaceTempView("rm_in")
    val sql = spark.sql(
        "SELECT * FROM graft_running_max('rm_in', 'k', 'v', 'hwm')")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val scala = operators.Cumulative.runningMax(spark, spark.table("rm_in"),
        Seq(org.apache.spark.sql.functions.col("k")),
        org.apache.spark.sql.functions.col("v"), "hwm")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sql == scala)
    assert(sql.map(_._3) == Seq(5L, 5L, 9L, 9L, 9L), s"inclusive prefix max: $sql")
    // exclusive form: the PRE-row HWM — Long.MinValue identity on the
    // first row (so q164's `v > hwm` record test is one comparison)
    val excl = spark.sql(
        "SELECT * FROM graft_running_max('rm_in', 'k', 'v', 'hwm', 1)")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(excl.map(_._2) == Seq(Long.MinValue, 5L, 5L, 9L, 9L),
      s"exclusive pre-row HWM: $excl")
  }

  test("graft_ewma / graft_cusum table functions from SQL ≡ the shared-step Scala charts") {
    import spark.implicits._
    graft.expressions.GraftFunctions.register(spark)
    // a grid with a level shift so both charts have live flags
    val grid = (0L until 30L).map(d => ("a", d, if (d < 25) 100L else 140L)) ++
      (0L until 30L).map(d => ("b", d, 50L))
    grid.toDF("event_type", "day_idx", "cnt").createOrReplaceTempView("chart_in")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_type", "day_idx").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
    val eSql = rows(spark.sql("SELECT * FROM graft_ewma('chart_in')"))
    val eScala = rows(operators.TierFiftySix.ewmaChart(spark.table("chart_in")))
    assert(eSql == eScala && eSql.exists(_._5 == 1L), "graft_ewma must match + flag")
    def rows6(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_type", "day_idx").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
    val cSql = rows6(spark.sql("SELECT * FROM graft_cusum('chart_in')"))
    val cScala = rows6(operators.TierFiftyNine.cusumChart(spark.table("chart_in")))
    assert(cSql == cScala && cSql.exists(_._6 == 1L), "graft_cusum must match + alarm")
    assert(cSql.filter(_._1 == "b").forall(_._6 == 0L), "the flat type stays quiet")
    val hSql = rows6(spark.sql("SELECT * FROM graft_holt('chart_in')"))
    val hScala = rows6(operators.TierSeventyNine.holtChart(spark.table("chart_in")))
    assert(hSql == hScala && hSql.exists(_._6 == 1L), "graft_holt must match + flag")
    assert(hSql.filter(_._1 == "b").forall(_._6 == 0L), "the flat type stays quiet")
    val aSql = spark.sql("SELECT * FROM graft_acf('chart_in')")
      .collect().map(_.toString).toSeq
    val aScala = operators.TierEightyThree.acfChart(spark.table("chart_in"))
      .collect().map(_.toString).toSeq
    assert(aSql == aScala && aSql.nonEmpty, "graft_acf must match the q245 engine")
  }

  test("graft_dataset_card / graft_burstiness / graft_window_funnel from SQL ≡ the Scala engines") {
    graft.expressions.GraftFunctions.register(spark)
    Tables.load(spark, sf, "documents").createOrReplaceTempView("card_docs")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    val cSql = rows(spark.sql("SELECT * FROM graft_dataset_card('card_docs')"))
    val cScala = rows(operators.TierEightyFour.cardOver(spark.table("card_docs")))
    assert(cSql == cScala && cSql.nonEmpty, "graft_dataset_card must match q247")
    val bSql = rows(spark.sql("SELECT * FROM graft_burstiness('card_docs')"))
    val bScala = rows(operators.TierEightyFour.burstinessOver(spark.table("card_docs")))
    assert(bSql == bScala && bSql.nonEmpty, "graft_burstiness must match q248")
    Tables.load(spark, sf, "events").createOrReplaceTempView("funnel_ev")
    val fSql = rows(spark.sql(
      "SELECT * FROM graft_window_funnel('funnel_ev', 86400, 'signup', 'click', 'purchase')"))
    val fScala = rows(operators.TierEightyFive.funnelOver(spark.table("funnel_ev"),
      Seq("signup", "click", "purchase"), 86400L * 1000000L))
    assert(fSql == fScala && fSql.size == 3, "graft_window_funnel must match q249")
    // a two-step funnel through the variadic tail exercises the scanLeft
    val f2 = rows(spark.sql(
      "SELECT * FROM graft_window_funnel('funnel_ev', 86400, 'view', 'purchase')"))
    assert(f2.size == 2, "variadic step list must shape the output")
  }

  test("round-13 stat twins from SQL ≡ the Scala engines (mann_kendall/page_hinkley/kendall_tau/spearman/hellinger/allocation/readability)") {
    import spark.implicits._
    graft.expressions.GraftFunctions.register(spark)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    // the chart grid with a level shift (both PH states live)
    val grid = (0L until 30L).map(d => ("a", d, if (d < 20) 100L else 150L)) ++
      (0L until 30L).map(d => ("b", d, 60L))
    grid.toDF("event_type", "day_idx", "cnt").createOrReplaceTempView("mk_in")
    assert(rows(spark.sql("SELECT * FROM graft_mann_kendall('mk_in')")) ==
      rows(operators.TierEightySix.mannKendallOver(spark.table("mk_in"))))
    val ph = spark.sql("SELECT * FROM graft_page_hinkley('mk_in')")
      .orderBy("event_type", "day_idx")
    val phScala = operators.TierNinety.phChart(spark.table("mk_in"))
      .orderBy("event_type", "day_idx")
    assert(rows(ph) == rows(phScala) &&
      ph.collect().exists(_.getLong(5) == 1L), "graft_page_hinkley must match + alarm")
    // rank statistics over a (gk, x, y) group view
    Seq((1L, 10L, 1L), (2L, 30L, 2L), (3L, 20L, 4L), (4L, 40L, 3L))
      .toDF("gk", "x", "y").createOrReplaceTempView("rk_in")
    assert(rows(spark.sql("SELECT * FROM graft_kendall_tau('rk_in')")) ==
      rows(operators.TierEightySix.kendallTauOver(spark.table("rk_in"))))
    assert(rows(spark.sql("SELECT * FROM graft_spearman('rk_in')")) ==
      rows(operators.TierNinety.spearmanOver(spark.table("rk_in"))))
    // corpus twins over documents views
    Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("lang").as("grp"),
        org.apache.spark.sql.functions.col("text"))
      .createOrReplaceTempView("hl_in")
    assert(rows(spark.sql("SELECT * FROM graft_hellinger('hl_in')")).nonEmpty)
    assert(rows(spark.sql("SELECT * FROM graft_hellinger('hl_in')")) ==
      rows(operators.TierEightySeven.q253.run(spark, sf)
        .withColumnRenamed("lang", "grp")))
    Tables.load(spark, sf, "documents").createOrReplaceTempView("rd_in")
    assert(rows(spark.sql("SELECT * FROM graft_readability('rd_in')")) ==
      rows(operators.TierEightyNine.q257.run(spark, sf)))
    Tables.load(spark, sf, "documents")
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.sum("n_chars").as("w"))
      .createOrReplaceTempView("al_in")
    val alloc = spark.sql("SELECT * FROM graft_allocation('al_in', 100)")
    assert(rows(alloc) ==
      rows(operators.TierEightyNine.allocate(spark.table("al_in"), 100L)))
    assert(alloc.agg(org.apache.spark.sql.functions.sum("seats"))
      .collect().head.getLong(0) == 100L, "the SQL twin keeps the exact-total law")
  }

  test("graft_ks / graft_wasserstein / graft_lorenz / graft_gini_stump from SQL ≡ the round-14 Scala engines") {
    import spark.implicits._
    graft.expressions.GraftFunctions.register(spark)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    val arms = Seq((0L, 10L), (0L, 20L), (0L, 20L), (1L, 15L), (1L, 40L))
      .toDF("arm", "cents")
    arms.createOrReplaceTempView("arm_in")
    assert(rows(spark.sql("SELECT * FROM graft_ks('arm_in')")) ==
      rows(operators.TierNinetySeven.ksOver(spark.table("arm_in"))))
    assert(rows(spark.sql("SELECT * FROM graft_wasserstein('arm_in')")) ==
      rows(operators.TierNinetySeven.wassersteinOver(spark.table("arm_in"))))
    Seq((1L, 5L), (2L, 0L), (3L, 9L), (4L, 2L), (5L, 7L))
      .toDF("user_id", "cents").createOrReplaceTempView("lz_in")
    assert(rows(spark.sql("SELECT * FROM graft_lorenz('lz_in')")) ==
      rows(operators.TierNinetyEight.lorenzDecilesOver(spark.table("lz_in"))))
    Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.col("lang").as("cls"))
      .createOrReplaceTempView("gs_in")
    assert(rows(spark.sql("SELECT * FROM graft_gini_stump('gs_in', 20)")) ==
      rows(operators.TierNinetyNine.q278.run(spark, sf)))
  }

  test("graft_near_dup_pairs / graft_mutual_nn table functions from SQL ≡ the celled Scala engines") {
    graft.expressions.GraftFunctions.register(spark)
    Tables.load(spark, sf, "documents").select("doc_id", "text")
      .createOrReplaceTempView("nd_docs")
    val sqlPairs = spark.sql(
        "SELECT doc_a, doc_b FROM graft_near_dup_pairs('nd_docs', 950000)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val scalaPairs = operators.TierNineteen.celledEmbedPairsOf(
        spark.table("nd_docs"), 0.95)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sqlPairs == scalaPairs && sqlPairs.nonEmpty)
    val sqlNn = spark.sql("SELECT * FROM graft_mutual_nn('nd_docs')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val q145 = operators.TierThirty.q145.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sqlNn == q145 && sqlNn.nonEmpty,
      "mutual-NN from SQL must equal the declared q145 set")
  }

  test("graft_pq_search table function from SQL ≡ TierThirtyThree.pqSearch ≡ q151 (r10 VERDICT #8)") {
    graft.expressions.GraftFunctions.register(spark)
    Tables.load(spark, sf, "embeddings").createOrReplaceTempView("pq_emb")
    val emb = operators.TierNine.embOf(spark, sf)
    val probe = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .head().getSeq[Double](1)
    val vecSql = s"array(${probe.map(d => s"CAST($d AS DOUBLE)").mkString(", ")})"
    val sql = spark.sql(s"SELECT * FROM graft_pq_search('pq_emb', $vecSql, 10, 100)")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val scala = operators.TierThirtyThree.pqSearch(emb, probe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sql == scala && sql.nonEmpty)
    // the probe came from the table: it ranks itself first at dist 0,
    // and the rest is exactly q151's declared answer
    assert(sql.head == (0L, 0.0), s"self-match first: ${sql.head}")
    val q151 = operators.TierThirtyThree.q151.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sql.tail.take(q151.size - 1) == q151.take(sql.tail.size),
      "pq_search minus the self-match must prefix-match q151's shortlist answer")
  }

  test("graft_srm / graft_join_size / graft_trend_fit / graft_ivm_fold SQL ≡ Scala (r11 twins)") {
    graft.expressions.GraftFunctions.register(spark)
    Tables.load(spark, sf, "events").createOrReplaceTempView("tw_events")

    val srmSql = spark.sql("SELECT * FROM graft_srm('tw_events')")
      .collect().map(_.toSeq).toSeq
    val srmScala = operators.TierSixtySix.q215.run(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(srmSql == srmScala && srmSql.nonEmpty, "graft_srm must equal q215")

    Tables.load(spark, sf, "lineitem").createOrReplaceTempView("tw_lineitem")
    val jsSql = spark.sql("SELECT * FROM graft_join_size('tw_lineitem', 'l_partkey')")
      .collect().map(_.toSeq).toSeq
    val jsScala = operators.TierSixtyFive.q213.run(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(jsSql == jsScala, "graft_join_size must equal q213")

    operators.TierSixtyThree.trendGrid(Tables.load(spark, sf, "events"))
      .createOrReplaceTempView("tw_grid")
    val tfSql = spark.sql("SELECT * FROM graft_trend_fit('tw_grid')")
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    val tfScala = operators.TierSixtyThree.q210.run(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(tfSql == tfScala && tfSql.nonEmpty, "graft_trend_fit must equal q210")

    operators.TierSixtyThree.ivmDeltaOf(Tables.load(spark, sf, "events"))
      .createOrReplaceTempView("tw_deltas")
    val ivmSql = spark.sql(
        "SELECT * FROM graft_ivm_fold('tw_deltas') ORDER BY user_id")
      .collect().map(_.toSeq).toSeq
    val ivmScala = operators.TierSixtyThree.q209.run(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(ivmSql == ivmScala && ivmSql.nonEmpty, "graft_ivm_fold must equal q209")
  }

  test("graft_co_pairs SQL ≡ Scala ≡ naive unsalted self-join (r12 twin)") {
    graft.expressions.GraftFunctions.register(spark)
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    li.createOrReplaceTempView("tw_li_pairs")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(identity).toSeq
    val sql = norm(spark.sql(
      "SELECT * FROM graft_co_pairs('tw_li_pairs', 'l_orderkey', 'l_partkey')"))
    val scala = norm(operators.Skew.saltedCoPairs(li, col("l_orderkey"), col("l_partkey")))
    // identity-by-construction vs the naive unsalted self-join: each
    // ordered (ia, ib) pair meets exactly once, at ia's salt
    val naive = norm(li.as("a").join(li.as("b"), Seq("l_orderkey"))
      .filter(col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("l_orderkey"), col("a.l_partkey"), col("b.l_partkey")))
    assert(sql == scala, "graft_co_pairs must equal Skew.saltedCoPairs")
    assert(scala == naive && scala.nonEmpty,
      "salted co-pairs must equal the naive self-join by construction")
    // non-default salts: same result (the salt count is a layout knob)
    val s3 = norm(spark.sql(
      "SELECT * FROM graft_co_pairs('tw_li_pairs', 'l_orderkey', 'l_partkey', 3)"))
    assert(s3 == naive, "salts=3 must not change the pair set")
  }

  test("graft_k_anonymity / graft_resample / graft_run_lengths SQL ≡ Scala (r12 twins)") {
    graft.expressions.GraftFunctions.register(spark)
    Tables.load(spark, sf, "documents").createOrReplaceTempView("tw_docs")

    val kaSql = spark.sql(
        "SELECT * FROM graft_k_anonymity('tw_docs', 'lang', 'source')")
      .collect().map(_.toSeq).toSeq
    val kaScala = operators.TierSeventySix.q232.run(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(kaSql == kaScala && kaSql.nonEmpty, "graft_k_anonymity must equal q232")
    // the k knob bites: k = 1 flags every group anonymous
    val k1 = spark.sql(
        "SELECT * FROM graft_k_anonymity('tw_docs', 'lang', 'source', 1)")
      .collect().map(r => r.getLong(3))
    assert(k1.forall(_ == 1L), "k = 1 must flag every non-empty group anonymous")

    spark.sql("""SELECT lang, n_chars div 50 AS size_bkt, source FROM tw_docs""")
      .createOrReplaceTempView("tw_qi")
    val ldSql = spark.sql(
        "SELECT * FROM graft_l_diversity('tw_qi', 'lang', 'size_bkt', 'source')")
      .collect().map(_.toSeq).toSeq
    val ldScala = operators.TierSeventyNine.q238.run(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(ldSql == ldScala && ldSql.nonEmpty, "graft_l_diversity must equal q238")

    spark.sql("""SELECT doc_id,
                 CAST(size(filter(split(text, ' '), x -> x != '')) AS LONG) AS w
                 FROM tw_docs""").createOrReplaceTempView("tw_weights")
    val rsSql = spark.sql(
        "SELECT * FROM graft_resample('tw_weights', 'doc_id', 'w')")
      .collect().map(_.toSeq).toSeq
    val rsScala = operators.TierSeventySeven.q233.run(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(rsSql == rsScala && rsSql.nonEmpty, "graft_resample must equal q233")

    operators.TierSeventySeven.naivePositions(
        Tables.load(spark, sf, "documents"))
      .createOrReplaceTempView("tw_positions")
    val rlSql = spark.sql(
        "SELECT * FROM graft_run_lengths('tw_positions', 'pos', 'lang')")
      .collect().map(_.toSeq).toSeq
    val rlScala = operators.TierSeventySeven.q234.run(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(rlSql == rlScala && rlSql.nonEmpty, "graft_run_lengths must equal q234")
  }
}
