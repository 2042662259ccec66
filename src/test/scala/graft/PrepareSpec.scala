package graft

import graft.operators.Prepare
import org.apache.spark.sql.functions._

/** The one-call preparation recipe: stage arithmetic, output hygiene,
  * split integrity, determinism. */
class PrepareSpec extends SparkSpec {

  private lazy val result = Prepare.corpus(
    Tables.load(spark, sf, "documents").select("doc_id", "text"))

  test("report arithmetic: monotone stages, splits partition the survivors") {
    val (out, r) = result
    assert(r.input == 500L)
    assert(r.afterGates <= r.input && r.afterGates > 0)
    assert(r.afterGates < r.input, "gates must actually drop something")
    assert(r.afterDedup <= r.afterGates && r.afterDedup > 0)
    assert(r.train + r.valid + r.test == r.afterDedup)
    assert(out.count() == r.afterDedup)
    assert(r.train > r.valid && r.train > r.test, "98/1/1 shape")
  }

  test("output hygiene: normalized, scrubbed, exact-dup free") {
    val (out, _) = result
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2)))
    rows.foreach { case (id, text, split) =>
      assert(!text.contains("<") && !text.contains("  ") &&
        text == text.trim, s"un-normalized text @$id")
      assert(!text.contains("@"), s"unscrubbed PII @$id")
      assert(Set("train", "valid", "test").contains(split))
    }
    assert(rows.map(_._2).distinct.length == rows.length,
      "no two survivors share a text")
  }

  test("semanticDedup stage: ids ≡ direct embed-pair + components recompute, default-off unchanged") {
    import graft.operators.{Components, TierNineteen}
    val raw = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val (out0, r0) = Prepare.corpus(raw)
    val (out1, r1) = Prepare.corpus(raw, semanticDedup = true)
    // stages before the semantic pass are byte-identical with the flag off
    assert(r1.input == r0.input && r1.afterGates == r0.afterGates)
    assert(r0.semanticDropped == 0L)
    assert(r1.afterDedup == r0.afterDedup - r1.semanticDropped)
    assert(r1.train + r1.valid + r1.test == r1.afterDedup)
    val ids0 = out0.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids1 = out1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1.subsetOf(ids0), "semantic pass can only drop")
    // the flag-off output IS the lexical-survivor corpus (same
    // deterministic pipeline), so recomputing the semantic pass on it
    // must reproduce the flag-on survivor set exactly — with the CELLED
    // production detector, the declared source since round 12
    val pairs = TierNineteen.celledEmbedPairsOf(out0.select("doc_id", "text"), 0.95)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val expected = Components.connected(
        out0.select(col("doc_id").as("id")), pairs)
      .filter(col("id") === col("lbl"))
      .collect().map(_.getLong(0)).toSet
    assert(ids1 == expected, "flag-on survivors ≠ direct semantic recompute")
    assert(r1.semanticDropped == (ids0 -- expected).size.toLong)
  }

  test("stripSpans stage: boilerplate tokens removed after dedup, ids a subset, default-off unchanged") {
    // the raw sf0.001 corpus's cross-doc 8-grams all live in docs the
    // near-dup stage removes, so inject the classic failure mode the stage
    // exists for: an identical 12-token footer pasted onto many docs (too
    // small a fraction of each doc for LSH to pair them — only the
    // substring stage can remove it). Injection is SELF-SELECTING: only
    // docs that still pass the quality + classifier gates with the footer
    // appended receive it, so the boilerplate reaches the strip stage
    // regardless of how the hashed footer shifts classifier scores.
    import graft.operators.{TierEleven, TierFour}
    val tail = " subscribe to our newsletter for more updates and offers every single day"
    val raw = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val passIds = raw
      .withColumn("t2", graft.operators.TierEleven.redact(
        TierEleven.normalize(concat(col("text"), lit(tail)))))
      .filter(TierFour.qualityCol(col("t2")) >= 2)
      .filter(TierEleven.scoreCol(TierEleven.pseudoWeights, col("t2")) >= 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(passIds.size >= 5, s"need enough gate-surviving hosts, got ${passIds.size}")
    val docs = raw.withColumn("text",
      when(col("doc_id").isin(passIds.toSeq: _*), concat(col("text"), lit(tail)))
        .otherwise(col("text")))
    val (out0, r0) = Prepare.corpus(docs)
    val (out1, r1) = Prepare.corpus(docs, stripSpans = true)
    // stages BEFORE the strip are byte-identical with the flag off
    assert(r1.input == r0.input && r1.afterGates == r0.afterGates)
    assert(r0.strippedTokens == 0L)
    assert(r1.strippedTokens > 0L, "survivors must share the injected footer")
    assert(r1.afterDedup == r0.afterDedup, "strip runs on the SAME dedup survivors")
    val splits1 = r1.train + r1.valid + r1.test
    assert(splits1 <= r1.afterDedup && out1.count() == splits1)
    val ids0 = out0.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids1 = out1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1.subsetOf(ids0), "strip can drop fully-stripped docs, never add")
    // token conservation: the flag-off output IS the pre-strip survivor
    // text (same deterministic pipeline), so the corpus-wide token count
    // must fall by exactly the reported strippedTokens
    def tokens(df: org.apache.spark.sql.DataFrame): Long =
      df.select(size(filter(split(col("text"), " "), x => x =!= "")).cast("long").as("n"))
        .agg(sum(col("n"))).head.getLong(0)
    assert(tokens(out0) - tokens(out1) == r1.strippedTokens)
  }

  test("gopherRules stage: afterGates equals the directly-computed admitted set; default-off unchanged") {
    import graft.operators.{TierEleven, TierFour, TierFifteen}
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val (outG, rG) = Prepare.corpus(docs, gopherRules = true)
    // direct computation: row gates first, then the q106 battery
    val rowGated = docs
      .select(col("doc_id"),
        TierEleven.redact(TierEleven.normalize(col("text"))).as("text"))
      .filter(TierFour.qualityCol(col("text")) >= 2)
      .filter(TierEleven.scoreCol(TierEleven.pseudoWeights, col("text")) >= 0L)
    val admitted = TierFifteen.gopherFlags(rowGated)
      .filter(col("admitted") === 1L).count()
    assert(rG.afterGates == admitted)
    val (_, r0) = result
    assert(rG.afterGates < r0.afterGates,
      "the battery must drop docs the row gates admit (discriminating fixture)")
    assert(rG.afterDedup <= rG.afterGates &&
      rG.train + rG.valid + rG.test == rG.afterDedup)
    assert(outG.count() == rG.afterDedup)
  }

  test("dsirGate stage: afterGates ≡ direct frozen-weight recompute, default-off unchanged") {
    import graft.operators.{TierEleven, TierFour, TierTwentyOne}
    import spark.implicits._
    val raw = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val weights = TierTwentyOne.dsirModel(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.toDF("token", "lr_ppm")
    // the exact text the screen sees: normalize → redact → row gates
    val gateText = raw.select(col("doc_id"),
        TierEleven.redact(TierEleven.normalize(col("text"))).as("text"))
      .filter(TierFour.qualityCol(col("text")) >= 2)
      .filter(TierEleven.scoreCol(TierEleven.pseudoWeights, col("text")) >= 0L)
    val scores = TierTwentyOne.dsirApply(gateText, weights, 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val (lo, hi) = (scores.values.min, scores.values.max)
    assert(lo < hi, "fixture scores must vary for a meaningful floor")
    val floor = (lo + hi) / 2
    val admitted = scores.filter(_._2 >= floor).keySet
    val (_, r0) = result
    val (out1, r1) = Prepare.corpus(raw,
      dsirGate = Some(Prepare.DsirGate(weights, 0L, floor)))
    assert(r1.input == r0.input)
    assert(r1.afterGates == admitted.size.toLong,
      "gate-stage admissions must equal the direct frozen-weight recompute")
    assert(r1.afterGates < r0.afterGates, "the floor must actually drop documents")
    val ids1 = out1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1.subsetOf(admitted), "every survivor cleared the floor")
  }

  test("deterministic: a second run reproduces ids, splits, and the report") {
    val (out, r) = result
    val (out2, r2) = Prepare.corpus(
      Tables.load(spark, sf, "documents").select("doc_id", "text"))
    assert(r2 == r)
    assert(out2.select("doc_id", "split").collect().map(x => (x.getLong(0), x.getString(1))).sortBy(_._1).toSeq ==
      out.select("doc_id", "split").collect().map(x => (x.getLong(0), x.getString(1))).sortBy(_._1).toSeq)
  }

  test("semanticDedup spares the caller's checkpointed documents leaf") {
    // the dedup and semantic stages' plans embed the caller's input; a
    // release that walked them dropped this leaf's blocks (the caller's
    // next read then failed with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .localCheckpoint(true)
    val n = docs.count()
    val leaf = org.apache.spark.sql.GraftSqlBridge.leafIds(docs)
    val (out, _) = Prepare.corpus(docs, semanticDedup = true)
    assert(leaf.subsetOf(spark.sparkContext.getPersistentRDDs.keySet.toSet),
      "Prepare.corpus dropped the caller's documents leaf")
    assert(docs.count() == n, "the caller's frame must still read")
    Seq(out, docs).foreach(org.apache.spark.sql.GraftSqlBridge.releaseLeaf)
  }
}
