package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the whole-operator Catalyst extension
  * (SURVEY.md engine rules, preference (c): custom `LogicalPlan` +
  * `SparkStrategy` + `SparkPlan` via `SparkSessionExtensions`, for
  * semantics the built-in operators can't express as ONE operator).
  *
  * Semantics: left-outer as-of — for every left row, the single most
  * recent right row with equal keys and right order-tuple STRICTLY below
  * the left order-tuple (lexicographic over `leftOrd`/`rightOrd`).
  * [[graft.operators.TierFive.q42]] composes the same result from
  * union + partitioned window (`last(... IGNORE NULLS)`); this node is the
  * physical plan that composition can't reach:
  *
  *  - both sides hash-cluster on the join keys and sort within partitions
  *    (declared via `requiredChildDistribution`/`requiredChildOrdering` —
  *    EnsureRequirements inserts the exchanges/sorts exactly as it does
  *    for SortMergeJoin);
  *  - one streaming merge walk per partition holds ONE buffered right row
  *    — O(1) state per task, vs the window composition which materializes
  *    the unioned stream and runs an unbounded-preceding frame over it;
  *  - at 100 TB: one co-partitioned shuffle of each side, no union
  *    doubling the shuffle volume, and pre-bucketed tables join with zero
  *    shuffle (the distribution requirement is satisfied by bucketing).
  *
  * `AsofPlanSpec` pins native ≡ composed row-for-row; q45 oracle-checks it
  * against the identical DuckDB window formulation.
  */
final case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftOrd: Seq[Expression], rightOrd: Seq[Expression]) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] as [[AsOfJoinExec]]; everything else falls through. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lo, ro) =>
      AsOfJoinExec(lk, rk, lo, ro, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

final case class AsOfJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftOrd: Seq[Expression], rightOrd: Seq[Expression],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // co-partition on keys, sort each side by (keys, order) — the planner
  // inserts the shuffles/sorts, or elides them when the child already
  // satisfies them (bucketed tables, reused exchange)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys ++ leftOrd).map(SortOrder(_, Ascending)),
    (rightKeys ++ rightOrd).map(SortOrder(_, Ascending)))

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val (lk, rk, lo, ro) = (leftKeys, rightKeys, leftOrd, rightOrd)
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val lOrdProj = UnsafeProjection.create(lo, lOut)
      val rOrdProj = UnsafeProjection.create(ro, rOut)
      val keyOrder = RowOrdering.createNaturalAscendingOrdering(lk.map(_.dataType))
      val ordOrder = RowOrdering.createNaturalAscendingOrdering(lo.map(_.dataType))
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      // the O(1) state: the latest right row already strictly below the
      // current left order-tuple, and its key (both copies — projections
      // and iterators reuse row buffers)
      var held: InternalRow = null
      var heldKey: UnsafeRow = null
      lIter.map { l =>
        val lKey = lKeyProj(l)
        val lOrdRow = lOrdProj(l).copy() // survives the rOrdProj calls below
        var advancing = true
        while (advancing && rBuf.hasNext) {
          val rKey = rKeyProj(rBuf.head)
          val kc = keyOrder.compare(rKey, lKey)
          if (kc < 0 || (kc == 0 && ordOrder.compare(rOrdProj(rBuf.head), lOrdRow) < 0)) {
            val r = rBuf.next()
            if (kc == 0) { held = r.copy(); heldKey = rKeyProj(r).copy() }
            else { held = null; heldKey = null } // skipped an entire earlier key group
          } else advancing = false
        }
        val matched = held != null && keyOrder.compare(heldKey, lKey) == 0
        resultProj(joined(l, if (matched) held else nullRight))
      }
    }
  }
}

/** Public API for the native as-of join. */
object Asof {

  /** Left-outer as-of join: every `left` row, plus the columns of the most
    * recent `right` row with equal keys and `rightOrd` strictly below
    * `leftOrd` (lexicographic; right columns null when no such row).
    * Column names must be unambiguous across the two sides — rename before
    * joining, as with any Spark self-join.
    *
    * Null semantics (pinned, differs from SQL join equality): keys compare
    * GROUP-style — a null left key matches a null right key, exactly as
    * `groupBy` groups nulls together (the natural reading for an as-of
    * "per key" walk). Null order values sort first (Spark ASC NULLS FIRST),
    * i.e. a null-time right row counts as earlier than everything.
    */
  def join(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftOrd: Seq[String], rightOrd: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    GraftPlans.ensure(spark)
    val lp = GraftSqlBridge.analyzed(left)
    val rp = GraftSqlBridge.analyzed(right)
    def attrs(p: LogicalPlan, names: Seq[String], side: String): Seq[Attribute] =
      names.map(n => p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"as-of join: no column '$n' on the $side side (${p.output.map(_.name).mkString(", ")})")))
    val (lk, rk) = (attrs(lp, leftKeys, "left"), attrs(rp, rightKeys, "right"))
    val (lo, ro) = (attrs(lp, leftOrd, "left"), attrs(rp, rightOrd, "right"))
    // the exec compares right-side projections with orderings built from the
    // LEFT types — a type mismatch would read garbage, not error, so reject
    // it here
    def sameTypes(a: Seq[Attribute], b: Seq[Attribute], what: String): Unit =
      a.zip(b).foreach { case (x, y) =>
        require(x.dataType == y.dataType,
          s"as-of join: $what types differ: ${x.name}: ${x.dataType.catalogString} vs " +
            s"${y.name}: ${y.dataType.catalogString}")
      }
    require(lk.size == rk.size && lo.size == ro.size,
      "as-of join: key/order column lists must have equal lengths on both sides")
    sameTypes(lk, rk, "key")
    sameTypes(lo, ro, "order")
    GraftSqlBridge.ofRows(spark, AsOfJoin(lp, rp, lk, rk, lo, ro))
  }
}
