package graft

import graft.operators.{TierFiftyEight, TierFiftyFive, TierFiftySeven, TierFiftySix, TierFortyOne}

/** Tier-58: the q200 experiment capstone must equal its five component
  * declared queries field by field — the `Dedup.artifacts` sharing
  * guarantee, pinned.
  */
class TierFiftyEightSpec extends SparkSpec {

  test("q200 ≡ its five component queries field by field; metric grid complete") {
    val report = TierFiftyEight.q200.run(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report.size === 11, s"eleven metrics expected: ${report.keySet}")

    // q166: conversion lift + significance
    val q166 = TierFortyOne.q166.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))).toSeq
    operators.Release.sweep(spark)
    val byArm = q166.map(x => x._1 -> x).toMap
    assert(report("conv_lift_ppm") === byArm(1L)._3 - byArm(0L)._3)
    assert(report("conv_significant") === byArm(0L)._4)
    assert(report("n_users") === q166.map(_._2).sum)

    // q194: CLES + significance
    val q194 = TierFiftyFive.q194.run(spark, sf).collect().head
    assert(report("mw_cles_ppm") === q194.getLong(3))
    assert(report("mw_significant") === q194.getLong(4))

    // q196: mean diff + var + significance
    val q196 = TierFiftySix.q196.run(spark, sf).collect().head
    assert(report("mean_diff_c2") === q196.getLong(2))
    assert(report("boot_var_c2") === q196.getLong(3))
    assert(report("boot_significant") === q196.getLong(4))

    // q198: CUPED adjusted diff + rho2
    val q198 = TierFiftySeven.q198.run(spark, sf).collect().head
    assert(report("cuped_adj_diff_c2") === q198.getLong(3))
    assert(report("cuped_rho2_ppm") === q198.getLong(5))

    // q199: trimmed diff
    val q199 = TierFiftySeven.q199.run(spark, sf).collect().head
    assert(report("trimmed_diff_c2") === q199.getLong(4))
  }
}
