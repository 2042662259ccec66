package graft

import graft.operators.{TierNineteen, TierThirtyFive}
import org.apache.spark.sql.functions._

/** Tier-35 differentials: q154 against an in-memory item-item CF
  * replication (incl. the neighborhood cap), q155 against brute-force
  * set-intersection link scores; structural laws; plan gates.
  */
class TierThirtyFiveSpec extends SparkSpec {

  test("q154 recs ≡ in-memory item-item CF; never recommends what's already bought") {
    val cs = Tables.load(spark, sf, "orders").as("o")
      .join(Tables.load(spark, sf, "lineitem").as("l"),
        col("l.l_orderkey") === col("o.o_orderkey"))
      .select(col("o.o_custkey"), col("l.l_suppkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byCust = cs.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val bySupp = cs.groupBy(_._2).map { case (su, xs) => su -> xs.map(_._1) }
    val wAll = for {
      (a, ca) <- bySupp.toSeq; (b, cb) <- bySupp.toSeq if a != b
      shared = (ca & cb).size if shared > 0
    } yield (a, b, shared.toLong)
    val w = wAll.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      xs.sortBy(x => (-x._3, x._2)).take(32) // the neighborhood cap, ties pinned
    }.map(x => (x._1, x._2) -> x._3).toMap
    val expected = byCust.toSeq.flatMap { case (c, owned) =>
      val scores = owned.toSeq.flatMap(s =>
          w.collect { case ((`s`, cand), sh) if !owned(cand) => (cand, sh) })
        .groupBy(_._1).map { case (cand, xs) => (cand, xs.map(_._2).sum) }
      scores.toSeq.sortBy { case (cand, sc) => (-sc, cand) }.take(3)
        .map { case (cand, sc) => (c, cand, sc) }
    }.sortBy { case (c, cand, sc) => (c, -sc, cand) }
    val got = TierThirtyFive.q154.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.forall { case (c, su, sc) =>
      sc > 0 && !cs((c, su)) }, "a rec must be new to the customer and positively scored")
    assert(got.groupBy(_._1).values.forall(_.size <= 3), "at most 3 recs per customer")
  }

  test("q155 link prediction ≡ brute-force common neighbors; predictions are non-edges") {
    val pairs = TierNineteen.celledEmbedPairsOf(
        Tables.load(spark, sf, "documents").select("doc_id", "text"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // q155 declares the celled pair source (r10 VERDICT re-sourcing):
    // containment + recall vs the anchor stay floored
    val anchor = TierNineteen.embedPairsOf(
        Tables.load(spark, sf, "documents").select("doc_id", "text"), 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.toSet.subsetOf(anchor), "celled pairs are cosine-verified: ⊆ anchor")
    val recall = pairs.size.toDouble / anchor.size
    info(s"celled pair recall at thr 0.9: $recall")
    assert(recall >= 0.50, s"celled pair recall $recall below measured floor")
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    val nbr = edges.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    val nodes = nbr.keySet.toSeq
    val scored = for {
      a <- nodes; b <- nodes if a < b && !edges((a, b))
      cn = (nbr(a) & nbr(b)).size if cn > 0
    } yield (a, b, cn.toLong)
    val expected = scored.sortBy { case (a, b, cn) => (-cn, a, b) }.take(20)
    val got = TierThirtyFive.q155.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.forall { case (a, b, cn) =>
      a < b && cn >= 1 && !edges((a, b)) }, "every prediction is a scored non-edge")
  }

  test("tier-35 plan gates: no CartesianProduct; q154's co-purchase join is salted") {
    for (q <- TierThirtyFive.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
      if (q.name.contains("copurchase"))
        // the whale-customer guard (r10 VERDICT #6): the c-keyed self-join
        // must run on the (c, salt) composite key — Skew.saltedCoPairs
        assert(plan.contains("salt"),
          s"${q.name} must salt the co-purchase self-join: ${plan.take(800)}")
    }
    operators.Release.sweep(spark)
  }
}
