package graft

import graft.operators.{TierFour, TierOne, TierThree, TierTwo}
import org.apache.spark.sql.functions._

/** Batch operator semantics (SURVEY.md §5.2 item 2): invariants the DuckDB
  * oracle can't express — cross-query equivalences, sketch-vs-exact
  * containment, idempotence.
  */
class OperatorSpec extends SparkSpec {

  test("q07 single-stage ≡ q08 two-stage trending (partial+final equivalence)") {
    val a = TierOne.q07.run(spark, sf).collect().toSeq
    val b = TierOne.q08.run(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("every query returns rows and a fixed schema at sf0.001") {
    SparkEntry.declared.foreach { q =>
      val df = q.run(spark, sf)
      assert(df.columns.nonEmpty, q.name)
      assert(df.count() > 0, s"${q.name} returned no rows")
    }
  }

  test("dedup is idempotent: re-deduping survivors changes nothing") {
    val survivors = TierThree.q22.run(spark, sf).select("doc_id")
    val docs = Tables.load(spark, sf, "documents").join(survivors, "doc_id")
    val again = docs.groupBy(sha2(col("text"), 256))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n"))
    assert(again.filter(col("n") > 1).count() == 0)
    assert(again.count() == survivors.count())
  }

  test("jaccard output is symmetric-canonical (a<b) and within (0,1]") {
    val j = TierThree.q23.run(spark, sf).collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val v = r.getDouble(2)
      assert(v >= 0.6 && v <= 1.0)
    }
  }

  test("minhash-LSH candidates are a subset of exact near-dups (no false positives after verify)") {
    val exact = TierThree.q23.run(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TierFour.q26.run(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "verified LSH pairs must all be exact near-dups")
    val recall = lsh.size.toDouble / exact.size
    assert(recall > 0.8, s"LSH recall too low: $recall")
  }

  test("ANN-LSH results are true neighbors: cos values match brute-force for shared ids") {
    val brute = TierThree.q24.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val approxAll = TierFour.q29.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(approxAll.nonEmpty)
    // cosine computed identically: wherever both report an id, values agree
    approxAll.collect { case (id, c) if brute.contains(id) =>
      assert(math.abs(brute(id) - c) < 1e-9, s"vec $id")
    }
  }

  test("simhash of identical texts is identical") {
    import spark.implicits._
    val dupes = Seq(
      (1L, "alpha beta gamma delta", "en", "s", 22L),
      (2L, "alpha beta gamma delta", "en", "s", 22L),
      (3L, "totally different words here", "en", "s", 28L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("simhash").toString
    dupes.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val sh = TierFour.q27.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(3L))
  }

  test("top-k plans as TakeOrderedAndProject (no global sort)") {
    val plan = TierTwo.q19.run(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("q01 pushes filter and prunes columns into the parquet scan") {
    val plan = TierOne.q01.run(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("event_type"), plan.take(800))
    assert(!plan.contains("props"), "unused column must not be read")
  }

  test("q15 broadcasts the dimension side") {
    val plan = TierTwo.q15.run(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }

  // ── scale-regression gates for the heavy similarity tier ──────────────
  // These pin the 100 TB-safe plan shapes so perf fixes can't silently
  // regress: no all-pairs cartesian, no single-partition shuffle (the
  // WindowExec-without-partition / global-rank shape), expected broadcasts.

  private def heavyPlan(q: Q): String =
    q.run(spark, sf).queryExecution.executedPlan.toString

  test("q26 LSH plan: no CartesianProduct, no single-partition exchange") {
    val plan = heavyPlan(TierFour.q26)
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("Exchange SinglePartition"), plan.take(800))
  }

  test("q28 PPJoin plan: no CartesianProduct, no single-partition exchange") {
    val plan = heavyPlan(TierFour.q28)
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("Exchange SinglePartition"), plan.take(800))
  }

  test("round-13 tier plans (q242/q245/q246/q249/q250): no CartesianProduct") {
    // the tiny broadcast sides (7-row lag table, 4-row band table, 9-row
    // Benford table) are BroadcastNestedLoopJoins by design — what must
    // never appear is a non-broadcast cartesian; global one-row scalar
    // folds keep their metadata-scale SinglePartition finals (the q14/q46
    // convention), so only the cartesian gate applies here
    import graft.operators.{TierEightyOne, TierEightyThree, TierEightyFive}
    for (q <- Seq(TierEightyOne.q242, TierEightyThree.q245,
        TierEightyThree.q246, TierEightyFive.q249, TierEightyFive.q250)) {
      val plan = heavyPlan(q)
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }

  test("tier 86-90 plans (q251/q252/q255/q258/q259/q260): no CartesianProduct") {
    // the pair stages over GROUP aggregates (nation τ/ρ ranks, remainder
    // rank, Kendall sign pairs) are explicit-broadcast NLJs; the q255
    // truth side is the q23 mask BNL — same rule as above: no
    // non-broadcast cartesian anywhere
    import graft.operators.{TierEightySix, TierEightyEight, TierEightyNine, TierNinety}
    for (q <- Seq(TierEightySix.q251, TierEightySix.q252, TierEightyEight.q255,
        TierEightyNine.q258, TierNinety.q259, TierNinety.q260)) {
      val plan = heavyPlan(q)
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }

  test("tier 91-95 plans (q261/q263/q264/q267/q268/q270): no CartesianProduct") {
    // q264/q270's tiny broadcast grids and the prefix-sum offset frames
    // are explicit broadcasts; the lag/MASE joins are equi-joins on the
    // daily grid — same gate: no non-broadcast cartesian anywhere
    import graft.operators.{TierNinetyOne, TierNinetyTwo, TierNinetyFour, TierNinetyFive}
    for (q <- Seq(TierNinetyOne.q261, TierNinetyTwo.q263, TierNinetyTwo.q264,
        TierNinetyFour.q267, TierNinetyFour.q268, TierNinetyFive.q270)) {
      val plan = heavyPlan(q)
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }

  test("q28 PPJoin candidate invariant: each pair once, candidates stay near the output (VERDICT r7 #4)") {
    val (cand, verified) = TierFour.ngramJaccardStages(spark, sf)
    val pairs = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the no-earlier-shared-prefix predicate makes dedup-by-shuffle
    // unnecessary — prove it stays that way
    assert(pairs.distinct.size == pairs.size,
      s"prefix filter emitted duplicate candidate pairs (${pairs.size - pairs.distinct.size} dups)")
    assert(verified.count() > 0, "fixture must contain J>=0.8 pairs")
    // PPJoin economics: the rarest-first prefix + positional + length
    // filters must keep verification FAR below the all-pairs volume a hot
    // shingle would flood it with (the 100 TB failure mode this gates).
    // Fixture-pinned: 500 docs → 124,750 unordered pairs; the filter
    // currently emits 5,765 candidates (~4.6%). Gate at ≤6% of all-pairs
    // AND an absolute ceiling so quiet filter regressions surface too.
    val nDocs = Tables.load(spark, sf, "documents").count()
    val allPairs = nDocs * (nDocs - 1) / 2
    assert(pairs.size.toLong * 100 <= 6 * allPairs,
      s"candidate set ${pairs.size} exceeds 6% of all-pairs ($allPairs) — " +
        "prefix filtering has degraded toward all-pairs")
    assert(pairs.size <= 8000,
      s"candidate set grew to ${pairs.size} on the pinned fixture (was 5,765) — " +
        "a prefix/positional/length filter has weakened")
  }

  test("q30 language-ID broadcasts the frequency profile") {
    val plan = heavyPlan(TierFour.q30)
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("Exchange SinglePartition"), plan.take(800))
  }

  test("q09 running total has no partitionless Window (two-pass prefix sum)") {
    val plan = TierOne.q09.run(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(800))
    assert(!plan.contains("Exchange SinglePartition"), plan.take(800))
  }

  test("q57 modelHint pins the model-side join strategy without changing results") {
    // `broadcast` promises a dictionary-sized bigram model (map-side plan);
    // `shuffle` promises a web-scale one (shuffle-hash on w1/w2). The hint
    // moves the exchange, never the arithmetic — rows identical both ways.
    def under(hint: String): (String, Seq[String]) = {
      spark.conf.set("spark.graft.modelHint", hint)
      try {
        val df = graft.operators.TierSeven.q57.run(spark, sf)
        (df.queryExecution.executedPlan.toString,
          df.collect().map(_.toString).toSeq)
      } finally spark.conf.unset("spark.graft.modelHint")
    }
    val (bPlan, bRows) = under("broadcast")
    assert(bPlan.contains("BroadcastHashJoin"), bPlan.take(800))
    assert(!bPlan.contains("ShuffledHashJoin") && !bPlan.contains("SortMergeJoin"),
      "broadcast promise must leave no model-side shuffle join: " + bPlan.take(800))
    val (sPlan, sRows) = under("shuffle")
    assert(sPlan.contains("ShuffledHashJoin"), sPlan.take(800))
    assert(!sPlan.contains("BroadcastHashJoin"),
      "shuffle promise must not broadcast the model: " + sPlan.take(800))
    assert(bRows == sRows, "hint changed the results")
  }

  test("q46 top-k plans as TakeOrderedAndProject; q47 broadcasts the eval shingles") {
    val zipf = graft.operators.TierSix.q46.run(spark, sf).queryExecution.executedPlan.toString
    assert(zipf.contains("TakeOrderedAndProject"), zipf.take(800))
    val cont = graft.operators.TierSix.q47.run(spark, sf).queryExecution.executedPlan.toString
    assert(cont.contains("BroadcastHashJoin"), cont.take(800))
    assert(!cont.contains("SortMergeJoin"), "corpus side must not shuffle: " + cont.take(800))
  }
}
