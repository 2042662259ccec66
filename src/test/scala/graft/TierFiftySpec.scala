package graft

import graft.operators.TierFifty
import org.apache.spark.sql.functions._

/** Tier-50 differentials: q184 against in-memory split+rank, q185
  * against the q140-convention percentile fold; conservation and
  * margin laws; plan gates.
  */
class TierFiftySpec extends SparkSpec {

  private val P = 2147483647L
  private val A0 = 2654435761L
  private val B0 = 40503L

  test("q184 split parity ≡ in-memory ranks; docs conserved; corpus-decile margins exact") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), x => x =!= "")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val n = docs.size
    def splitOf(id: Long): String = {
      val bkt = ((id % P) * A0 + B0) % P % 1000
      if (bkt < 980) "train" else if (bkt < 990) "valid" else "test"
    }
    val rank = docs.sortBy { case (id, t) => (t, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val expected = docs.map { case (id, _) =>
      (splitOf(id), ((rank(id) - 1).toLong * 10) / n)
    }.groupBy(identity).toSeq.sortBy(_._1)
      .map { case ((s, d), xs) => (s, d, xs.size.toLong) }
    val got = TierFifty.q184.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.map(_._3).sum == n, "every doc lands in one cell")
    for ((_, xs) <- got.groupBy(_._2))
      assert(math.abs(xs.map(_._3).sum - n / 10) <= 1,
        "the corpus-decile margin is split-independent and exact")
    assert(got.map(_._1).toSet == Set("train", "valid", "test"))
  }

  test("q185 ship latency ≡ in-memory percentile fold; the audit exposes impossible rows; p90 ≥ p50") {
    val rows = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        expr("(unix_micros(CAST(l_shipdate AS TIMESTAMP))"
          + " - unix_micros(CAST(o_orderdate AS TIMESTAMP))) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    def pct(xs: Seq[Long], p: Double): Double = {
      val s = xs.map(_.toDouble).sorted
      val pos = p * (s.length - 1)
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      val v = s(lo) + (pos - lo) * (s(hi) - s(lo))
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (pr, xs) =>
      (pr, xs.size.toLong, pct(xs.map(_._2), 0.5), pct(xs.map(_._2), 0.9))
    }
    val got = TierFifty.q185.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == rows.size)
    // the synthetic generator ships some lines BEFORE their order date —
    // a latency audit's whole job is to surface such impossible rows,
    // so pin that they exist (and that the medians stay positive)
    assert(rows.exists(_._2 < 0), "the fixture's impossible rows must be visible, not hidden")
    assert(got.forall(_._3 > 0), "the typical (median) latency is still positive")
    assert(got.forall(x => x._4 >= x._3), "p90 dominates p50")
  }

  test("tier-50 plan gates: no CartesianProduct; the parity rank is two-pass") {
    for (q <- TierFifty.all) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: ${plan.take(800)}")
      if (q.name.contains("parity"))
        assert(!plan.contains("SinglePartition"),
          s"${q.name} must rank via the two-pass Cumulative: ${plan.take(800)}")
    }
  }
}
