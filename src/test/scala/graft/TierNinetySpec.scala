package graft

import graft.operators.TierNinety
import org.apache.spark.sql.functions._

/** Tier-90 differentials: q259 against an in-memory average-rank Pearson
  * replay (plus the ±1 and constant-leg laws), q260 against an
  * independently-coded sequential replay (plus the flat-series ⇒ silent
  * and step-jump ⇒ alarm laws).
  */
class TierNinetySpec extends SparkSpec {
  import spark.implicits._

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def rank2(vs: Seq[Long]): Seq[Long] =
    vs.map(v => 2L * vs.count(_ < v) + vs.count(_ == v) + 1L)

  test("q259 Spearman ≡ in-memory average-rank Pearson replay") {
    val g = Tables.load(spark, sf, "customer")
      .groupBy(col("c_nationkey").as("gk"))
      .agg(sum(floor(col("c_acctbal") * 100)).as("x"), count(lit(1)).as("y"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val (ra, rb) = (rank2(g.map(_._1).toSeq), rank2(g.map(_._2).toSeq))
    val n = g.length.toLong
    val (sa, sb) = (ra.sum, rb.sum)
    val (saa, sbb) = (ra.map(v => v * v).sum, rb.map(v => v * v).sum)
    val sab = ra.zip(rb).map { case (a, b) => a * b }.sum
    val (sxy, sxx, syy) = (n * sab - sa * sb, n * saa - sa * sa, n * sbb - sb * sb)
    val rho = if (sxx == 0 || syy == 0) 0.0
      else r6(sxy.toDouble / math.sqrt(sxx.toDouble * syy.toDouble))
    val got = TierNinety.q259.run(spark, sf).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getDouble(4)) == ((n, sxy, sxx, syy, rho)))
    assert(got.getDouble(4) > 0.0 && got.getDouble(4) < 1.0,
      "fixture correlation must be strictly between 0 and 1")
    assert(sa == n * (n + 1), "Σrank2 must equal n(n+1) — the rank closure")
  }

  test("spearmanOver laws: identity ⇒ 1; reversal ⇒ −1; constant leg ⇒ 0") {
    val idn = (1 to 8).map(i => (i.toLong, i.toLong * 5, i.toLong + 100))
    assert(TierNinety.spearmanOver(idn.toDF("gk", "x", "y"))
      .collect().head.getDouble(4) == 1.0)
    val rev = (1 to 8).map(i => (i.toLong, i.toLong, 50L - i))
    assert(TierNinety.spearmanOver(rev.toDF("gk", "x", "y"))
      .collect().head.getDouble(4) == -1.0)
    val const = (1 to 8).map(i => (i.toLong, i.toLong, 9L))
    assert(TierNinety.spearmanOver(const.toDF("gk", "x", "y"))
      .collect().head.getDouble(4) == 0.0)
  }

  test("spearmanOver ties: distributed prefix-sum rank2 ≡ pair-count definition on a heavily tied fixture") {
    // the r13→r14 re-shape swapped the O(G²) broadcast pair count for
    // value-grouped counts + the two-pass prefix sum (rank2 = 2·cum −
    // cnt + 1); ties are where the two forms could drift, so pin them
    // equal where BOTH legs tie in blocks
    val g = Seq((1L, 5L, 9L), (2L, 5L, 9L), (3L, 5L, 2L), (4L, 7L, 9L),
      (5L, 1L, 2L), (6L, 7L, 7L), (7L, 1L, 9L))
    val (ra, rb) = (rank2(g.map(_._2)), rank2(g.map(_._3)))
    val n = g.length.toLong
    val (sa, sb) = (ra.sum, rb.sum)
    val (saa, sbb) = (ra.map(v => v * v).sum, rb.map(v => v * v).sum)
    val sab = ra.zip(rb).map { case (a, b) => a * b }.sum
    val (sxy, sxx, syy) = (n * sab - sa * sb, n * saa - sa * sa, n * sbb - sb * sb)
    val rho = r6(sxy.toDouble / math.sqrt(sxx.toDouble * syy.toDouble))
    val got = TierNinety.spearmanOver(g.toDF("gk", "x", "y")).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getDouble(4)) == ((n, sxy, sxx, syy, rho)))
  }

  test("q260 Page–Hinkley ≡ independently-coded sequential replay") {
    val dc = Tables.load(spark, sf, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("d"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = dc.groupBy(_._1).toSeq.flatMap { case (et, rows) =>
      val xs = rows.sortBy(_._2).map(r => (r._2, r._3)).toSeq
      val mu = xs.map(_._2).sum / xs.size
      val (delta, lambda) = (mu / TierNinety.DeltaDiv, mu / TierNinety.LambdaDiv)
      var s = 0L; var m = 0L; var mn = Long.MaxValue
      xs.zipWithIndex.map { case ((d, x), idx) =>
        s += x
        m += x - s / (idx + 1) - delta
        mn = math.min(mn, m)
        val ph = m - mn
        (et, d, x, s / (idx + 1), ph, if (ph > lambda) 1L else 0L)
      }
    }.sortBy(t => (t._1, t._2))
    val got = TierNinety.q260.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, "q260 must equal the sequential replay")
    assert(got.exists(_._6 == 1L) && got.exists(_._6 == 0L),
      "both alarm states must be live on the fixture")
  }

  test("phChart laws: flat series stays silent; a step jump alarms after the break") {
    val flat = (0 until 20).map(i => ("f", i.toLong, 100L))
    val jump = (0 until 20).map(i => ("j", i.toLong, if (i < 10) 100L else 160L))
    val got = TierNinety.phChart((flat ++ jump).toDF("event_type", "day_idx", "cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(5)))
    assert(got.filter(_._1 == "f").forall(_._3 == 0L),
      "a flat series must never alarm")
    val j = got.filter(_._1 == "j").sortBy(_._2)
    assert(j.takeWhile(_._2 < 10).forall(_._3 == 0L),
      "no alarm before the break")
    assert(j.exists(r => r._2 >= 10 && r._3 == 1L),
      "the 60 % step must trip the alarm after the break")
  }
}
