package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd dot product over two ARRAY<DOUBLE> columns.
  *
  * Why a custom Catalyst `Expression` (SURVEY.md §4.3 revisited): the
  * declarative formulation `aggregate(zip_with(a, b, _*_), 0d, _+_)` is
  * semantically perfect but Spark's higher-order functions are
  * CodegenFallback — every element allocates lambda-variable slots and
  * evaluates interpreted. For the all-pairs similarity queries that is
  * O(pairs × dim) interpreted steps (q35 at sf0.1: 2·10^6 pairs × 3 dots
  * × 64 dims ≈ 4·10^8 — measured 143 s). This expression compiles to a
  * tight `getDouble(i)` multiply-add loop inside whole-stage codegen
  * (~100× less overhead), with an identical left-to-right summation order,
  * so results — and the DuckDB `list_dot_product` oracle — are
  * bit-for-bit unchanged.
  *
  * Null semantics: null if either array is null (BinaryExpression
  * null-safe contract); length mismatch truncates to the shorter input
  * (same as `zip_with` would after the `_*_` on nulls — inputs here are
  * fixed-dim embeddings, so the case never fires in practice).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two ARRAY<DOUBLE> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration for the engine's SQL surface ([[SqlSurface]] — native
  * expressions, sketch probes, and whole-plan table functions). Idempotent;
  * query functions call this so `call_function("graft_dot", …)` / SQL
  * `graft_dot(a, b)` / `SELECT … FROM graft_simhash_pairs('v')` resolve in
  * any session, and the whole-operator plans ([[graft.plans.GraftPlans]])
  * plan natively in it. Only names the session lacks are registered, so a session
  * built with [[GraftExtensions]] and repeated calls (the ingest path makes
  * several per batch) keep the existing registrations and log nothing.
  */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    val scalars = spark.sessionState.functionRegistry
    SqlSurface.scalars.foreach { case (name, _, builder) =>
      if (!scalars.functionExists(FunctionIdentifier(name)))
        scalars.createOrReplaceTempFunction(name, builder, "built-in")
    }
    SqlSurface.tables.foreach { case (name, _, builder) =>
      if (org.apache.spark.sql.GraftSqlBridge.tableFunctionInfo(spark, name).isEmpty)
        org.apache.spark.sql.GraftSqlBridge.registerTableFunction(spark, name, builder)
    }
    graft.plans.GraftPlans.ensure(spark)
  }
}

/** `SparkSessionExtensions` entry point — the supported way to get the
  * engine's SQL surface into a session you don't build yourself:
  * `--conf spark.sql.extensions=graft.expressions.GraftExtensions`.
  * [[GraftFunctions.register]] is the imperative equivalent for sessions
  * already running.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    SqlSurface.scalars.foreach { case (name, _, builder) =>
      ext.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[SqlSurface.type].getName, name),
        builder))
    }
    SqlSurface.tables.foreach { case (name, _, builder) =>
      ext.injectTableFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[SqlSurface.type].getName, name),
        builder))
    }
    // whole-operator extensions: the native AsOfJoin and PrefixScan
    // plans, and column pruning through AsOfJoin
    graft.plans.GraftPlans.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    graft.plans.GraftPlans.optimizations.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}
