package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** The engine's whole-operator planner extensions, listed once:
  * [[graft.expressions.GraftExtensions]] injects them into sessions built
  * with `spark.sql.extensions`; [[ensure]] installs them into a running
  * session that was not ([[graft.expressions.GraftFunctions.register]],
  * and every builder of a [[AsOfJoin]] or [[PrefixScan]] frame).
  */
object GraftPlans {
  val strategies: Seq[SparkStrategy] = Seq(AsOfJoinStrategy, PrefixScanStrategy)
  val optimizations: Seq[Rule[LogicalPlan]] = Seq(PruneAsOfJoinColumns)

  /** Idempotent: add whichever of [[strategies]] and [[optimizations]] the
    * session's experimental hooks lack. */
  def ensure(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    val s = strategies.filterNot(exp.extraStrategies.contains)
    if (s.nonEmpty) exp.extraStrategies = exp.extraStrategies ++ s
    val o = optimizations.filterNot(exp.extraOptimizations.contains)
    if (o.nonEmpty) exp.extraOptimizations = exp.extraOptimizations ++ o
  }
}
