package graft

import graft.operators.TierNineteen

/** Tier-19 differentials: both queries against an independent in-memory
  * hash-embed + cosine recomputation (the affine family restated
  * literally), the q122 ⊆ q121 containment law, and plan gates.
  */
class TierNineteenSpec extends SparkSpec {

  private val P = 2147483647L
  private val A0 = 2654435761L
  private val B0 = 40503L

  /** Independent embeds: sorted-vocab rank → affine hash → signed counts. */
  private def bruteEmbeds: Map[Long, Array[Double]] = {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
      .toMap
    val vocab = docs.values.flatten.toSeq.distinct.sorted.zipWithIndex
      .map { case (t, i) => t -> (i + 1).toLong }.toMap
    docs.map { case (id, toks) =>
      val e = Array.fill(8)(0.0)
      toks.groupBy(identity).foreach { case (t, g) =>
        val h = ((vocab(t) % P) * A0 + B0) % P
        e((h % 8).toInt) += (if ((h / 8) % 2 == 0) 1.0 else -1.0) * g.length
      }
      id -> e
    }
  }

  private def brutePairs: Seq[(Long, Long, Double)] = {
    val emb = bruteEmbeds.filter(_._2.exists(_ != 0.0))
    def dot(x: Array[Double], y: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }; s
    }
    val ids = emb.keys.toSeq.sorted
    for {
      i <- ids; j <- ids if i < j
      c = dot(emb(i), emb(j)) / (math.sqrt(dot(emb(i), emb(i))) * math.sqrt(dot(emb(j), emb(j))))
      if c >= 0.95
    } yield (i, j, c)
  }

  test("q121 hash-embed near-dup ≡ brute-force embed + cosine (real corpus)") {
    val expected = brutePairs.sortBy(t => (t._1, t._2)).map(t => (t._1, t._2))
    val got = TierNineteen.q121.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(t => (t._1, t._2)) == expected)
    got.map(_._3).zip(brutePairs.sortBy(t => (t._1, t._2)).map(_._3)).foreach {
      case (g, e) => assert(math.abs(g - e) < 1e-6)
    }
    assert(got.nonEmpty, "threshold 0.95 must be non-degenerate on the fixture")
  }

  test("q122 split leakage ≡ split-filtered celled pairs; leaked ⊆ q121, recall floored") {
    // q122 DECLARES the celled production pair source since round 12 —
    // the expectation is the split filter applied to the celled pair set,
    // and the anchor containment + a measured recall floor replace the
    // old all-pairs equality.
    def splitOf(id: Long): Option[String] = {
      val bkt = ((id % P) * A0 + B0) % P % 1000
      if (bkt < 980) Some("train") else if (bkt < 990) Some("valid") else None
    }
    def leakedOf(pairs: Seq[(Long, Long, Double)]): Seq[(Long, Long, Double)] =
      pairs.flatMap { case (a, b, c) =>
        (splitOf(a), splitOf(b)) match {
          case (Some(sa), Some(sb)) if sa != sb =>
            Some(if (sa == "train") (a, b, c) else (b, a, c))
          case _ => None
        }
      }.sortBy(t => (t._1, t._2))
    val celled = TierNineteen.celledEmbedPairs(spark, sf, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val expected = leakedOf(celled)
    val got = TierNineteen.q122.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(t => (t._1, t._2)) == expected.map(t => (t._1, t._2)))
    // containment: every leaked pair is a q121 pair (as an unordered pair),
    // and the celled leak detector keeps a floored share of the anchor's
    // leaked pairs (the per-consumer recall convention)
    val anchorLeaked = leakedOf(brutePairs).map(t => (t._1, t._2)).toSet
    got.foreach { case (t, v, _) =>
      assert(anchorLeaked.contains((t, v)), s"leaked pair ($t,$v) not among anchor leaks")
    }
    if (anchorLeaked.nonEmpty) {
      val recall = got.map(t => (t._1, t._2)).toSet.size.toDouble / anchorLeaked.size
      info(s"celled split-leakage recall vs anchor: $recall")
      assert(recall >= 0.50, s"celled leak recall $recall below measured floor")
    }
  }

  test("celledEmbedPairs (Lloyd cells on hash embeds) recalls most q121 pairs; probe-2 wins") {
    val anchor = TierNineteen.q121.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val two = TierNineteen.celledEmbedPairs(spark, sf, 0.95, probe2 = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = TierNineteen.celledEmbedPairs(spark, sf, 0.95, probe2 = false).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // candidates are verified by the same cosine, so celled ⊆ anchor
    assert(two.subsetOf(anchor) && one.subsetOf(anchor))
    val rTwo = (two & anchor).size.toDouble / anchor.size
    val rOne = (one & anchor).size.toDouble / anchor.size
    info(s"celled embed-pair recall: single-probe $rOne, two-probe $rTwo")
    assert(rOne <= rTwo, s"widening must not lose pairs: $rOne vs $rTwo")
    assert(rTwo >= 0.50, s"two-probe recall $rTwo below measured floor")
  }

  test("tier-19 plan gates: no CartesianProduct (broadcast-NLJ anchor allowed)") {
    for (q <- Seq(TierNineteen.q121, TierNineteen.q122)) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
    }
  }
}
