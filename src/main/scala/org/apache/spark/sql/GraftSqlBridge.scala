package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's `private[sql]` internals — the standard extension-
  * library escape hatch (Spark offers no public "DataFrame from custom
  * LogicalPlan" API; every Catalyst-extending library ships one of these).
  * Everything the engine reaches past the public API goes through this
  * one file, so a Spark upgrade touches one place: plan construction
  * ([[ofRows]], [[analyzed]]), Column ↔ Expression conversion, SQL
  * table-function registration, and the checkpoint-leaf handling
  * ([[freshLeaf]], [[releaseLeaf]], [[leafIds]]).
  */
object GraftSqlBridge {

  /** Wrap an analyzed/unanalyzed logical plan as a DataFrame on `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ↔ Expression converters — what lets the engine register its
    * COLUMN-composed probes (Bloom membership, Count-Min estimate) as SQL
    * functions: a registry builder receives unresolved child Expressions,
    * wraps them as Columns, composes the probe with the ONE shared Scala
    * definition (no SQL-side reimplementation to drift), and unwraps the
    * result back to the Expression the analyzer resolves. */
  def column(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): catalyst.expressions.Expression =
    // the EAGER converter — ExpressionUtils.expression returns a lazy
    // ColumnNodeExpression placeholder that only the classic Dataset API
    // paths unwrap; an expression returned from a FunctionRegistry builder
    // goes straight into the analyzer, which would leave the placeholder
    // in the physical plan as an Unevaluable
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Imperative table-function registration (the `createOrReplaceTempFunction`
    * twin of `SparkSessionExtensions.injectTableFunction`) — SQL
    * `SELECT … FROM graft_xxx(…)` resolution for whole-plan operators. */
  def registerTableFunction(spark: SparkSession, name: String,
      builder: Seq[catalyst.expressions.Expression] => LogicalPlan): Unit =
    spark.sessionState.tableFunctionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** The registered table function `name`'s info, if the session has one. */
  def tableFunctionInfo(spark: SparkSession, name: String)
      : Option[catalyst.expressions.ExpressionInfo] =
    spark.sessionState.tableFunctionRegistry
      .lookupFunction(catalyst.FunctionIdentifier(name))

  /** The analyzed logical plan beneath a DataFrame (resolved attributes). */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Strip the carried `originStats` off a checkpointed DataFrame's
    * LogicalRDD leaf. `localCheckpoint` truncates LINEAGE but preserves
    * the optimizer statistics of the plan it replaced — and size-in-bytes
    * estimates MULTIPLY across join children, so an iterative operator
    * that checkpoints a self-join every round compounds them: the BigInt
    * estimate's digit count grows geometrically and by ~round 10 the
    * driver is doing million-digit Toom-Cook multiplications inside
    * `SizeInBytesOnlyStatsPlanVisitor` (single-core, looks like a hang).
    * Dropping originStats resets the leaf to the configured default size
    * estimate, which is what a fresh scan of unknown data would get.
    * No-op for non-LogicalRDD plans.
    */
  def freshLeaf(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case lr: execution.LogicalRDD =>
      // r16: instead of resetting the leaf to the (huge) default size
      // estimate, stamp it with the EXACT materialized size of its
      // persisted blocks — the checkpoint is eager, so the block manager
      // already knows. Static planning then broadcasts a metadata-scale
      // round frame and sort-merges a big one WITHOUT adaptive execution
      // (the iterative engines run their rounds AQE-off — each AQE stage
      // materialization is a driver barrier that dominates tiny rounds).
      // No compounding: every round's leaf is re-stamped from its own
      // blocks, never from multiplied estimates.
      val sizeStats = df.sparkSession.sparkContext.getRDDStorageInfo
        .find(_.id == lr.rdd.id)
        .map(i => catalyst.plans.logical.Statistics(
          sizeInBytes = BigInt(1L.max(i.memSize + i.diskSize))))
      ofRows(df.sparkSession,
        lr.copy()(df.sparkSession.asInstanceOf[classic.SparkSession], sizeStats, None))
    case _ => df
  }

  /** Drop the executor blocks behind a localCheckpoint'd DataFrame.
    * `Dataset.unpersist` only touches the SQL cache manager — checkpoint
    * blocks are plain persisted RDDs in the block manager and otherwise
    * live until the session ends. The data is NOT recomputable afterwards
    * (lineage was truncated), so only call this on intermediates that
    * will never be read again. No-op, returning false, for a frame that
    * is not a bare LogicalRDD leaf. */
  def releaseLeaf(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false); true
    case _ => false
  }

  /** The RDD ids behind a plan's LogicalRDD leaves — what a spec checks
    * against the block manager to see which checkpoints are still live. */
  def leafIds(df: DataFrame): Set[Int] = {
    val b = Set.newBuilder[Int]
    df.queryExecution.analyzed.foreach {
      case lr: execution.LogicalRDD => b += lr.rdd.id
      case _ => ()
    }
    b.result()
  }
}
