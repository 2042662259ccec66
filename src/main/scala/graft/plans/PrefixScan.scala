package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionByExpression, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Distributed prefix scan over a global total order — the plan node behind
  * [[graft.operators.Cumulative]]'s partitionless window functions.
  *
  * The child is a range repartition by `order`; the exec requires that
  * distribution and the within-partition `order` (EnsureRequirements
  * inserts the local sort), then reads the child RDD ONCE: one `runJob`
  * returns a per-partition summary (≤ #partitions longs to the driver),
  * and the SAME RDD is mapped by its structural partition index, each row
  * reading its partition's carry-in. Both passes read one shuffle, so the
  * carry-ins cannot misalign with the sampled range boundaries; nothing is
  * persisted and nothing outlives the execution.
  *
  * The index comes from `mapPartitionsWithIndex`, never from
  * `TaskContext.getPartitionId()`: a narrow downstream chain (broadcast
  * join → union) fuses the scan into a stage numbered by the union's
  * partitions, where the second leg's task ids exceed the summary array
  * (q281's shape).
  */
final case class PrefixScan(kind: PrefixScan.Kind, order: Seq[SortOrder],
    value: Option[Attribute], out: Attribute, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override protected def withNewChildInternal(newChild: LogicalPlan): PrefixScan =
    copy(child = newChild)
}

object PrefixScan {

  /** What each row reads. */
  sealed trait Kind extends Serializable

  /** A running fold: `step` per row from `identity`, and a partition's
    * carry-in is the fold of the earlier partitions' totals. `exclusive`
    * emits the value before the row's own step. */
  sealed abstract class Fold(val identity: Long, val exclusive: Boolean) extends Kind {
    def step(acc: Long, v: Long): Long
  }
  /** Running sum of the value — with no value column, of 1 per row: the
    * 1-based row number. */
  case object Sum extends Fold(0L, exclusive = false) {
    def step(acc: Long, v: Long): Long = acc + v
  }
  final case class Max(excl: Boolean) extends Fold(Long.MinValue, excl) {
    def step(acc: Long, v: Long): Long = math.max(acc, v)
  }
  /** The next row's value: a partition's last row reads the first value of
    * the next NON-EMPTY partition (range partitions can be empty on skewed
    * keys), the global last row NULL. */
  case object Lead extends Kind

  /** Append `outName` (BIGINT) = `kind` of `value` (a non-null BIGINT
    * column) over the total order `sortCols`, range-partitioned into
    * `partitions` (0: the session's shuffle partitions). Builds the plan
    * only; no job runs until the frame is executed. */
  def of(df: DataFrame, sortCols: Seq[Column], kind: Kind, value: Option[Column],
      outName: String, partitions: Int): DataFrame = {
    val spark = df.sparkSession
    GraftPlans.ensure(spark)
    val p = if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val in = value.fold(df)(df.withColumn(ValueCol, _))
    val parted = GraftSqlBridge.analyzed(in.repartitionByRange(p, sortCols: _*))
    val order = parted match {
      case r: RepartitionByExpression => r.partitionExpressions.map(_.asInstanceOf[SortOrder])
      case other => throw new IllegalStateException(s"prefix scan: not a range repartition: $other")
    }
    val out = AttributeReference(outName, LongType, nullable = kind == Lead)()
    val scanned = GraftSqlBridge.ofRows(spark,
      PrefixScan(kind, order, value.map(_ => parted.output.last), out, parted))
    if (value.isDefined) scanned.drop(ValueCol) else scanned
  }

  private val ValueCol = "__prefix_scan_v"

  private[plans] def valueAt(row: InternalRow, i: Int): Long =
    if (i < 0) 1L
    else if (row.isNullAt(i))
      throw new IllegalArgumentException("prefix scan: the value column must not be NULL")
    else row.getLong(i)
}

/** Plans [[PrefixScan]] as [[PrefixScanExec]]; everything else falls through. */
object PrefixScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PrefixScan(kind, order, value, out, child) =>
      PrefixScanExec(kind, order, value, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

final case class PrefixScanExec(kind: PrefixScan.Kind, order: Seq[SortOrder],
    value: Option[Attribute], out: Attribute, child: SparkPlan) extends UnaryExecNode {
  import PrefixScan._

  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def withNewChildInternal(newChild: SparkPlan): PrefixScanExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val rows = child.execute()
    val k = kind
    val vi = value.map(v => child.output.indexWhere(_.exprId == v.exprId)).getOrElse(-1)
    val outAttrs = output
    // pass 1: one summary per partition — its fold total, or its first value
    val totals: Array[Option[Long]] = sparkContext.runJob(rows, (it: Iterator[InternalRow]) =>
      if (!it.hasNext) None
      else k match {
        case f: Fold => Some(it.foldLeft(f.identity)((acc, r) => f.step(acc, valueAt(r, vi))))
        case Lead => Some(valueAt(it.next(), vi))
      })
    val carry: Array[Option[Long]] = k match {
      case f: Fold => totals.scanLeft(f.identity)((acc, t) => t.fold(acc)(f.step(acc, _)))
        .map(Option(_))
      case Lead => totals.scanRight(Option.empty[Long])(_ orElse _).tail
    }
    // pass 2: the same RDD, each row reading its partition's carry-in
    rows.mapPartitionsWithIndex { (pid, it) =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val extra = new GenericInternalRow(1)
      val joined = new JoinedRow
      k match {
        case f: Fold =>
          var acc = carry(pid).get
          it.map { r =>
            val before = acc
            acc = f.step(acc, valueAt(r, vi))
            extra.setLong(0, if (f.exclusive) before else acc)
            proj(joined(r, extra))
          }
        case Lead =>
          // one-row lookahead over copies: the sorter reuses its row buffer
          val ahead = it.map(_.copy()).buffered
          ahead.map { r =>
            if (ahead.hasNext) extra.setLong(0, valueAt(ahead.head, vi))
            else carry(pid).fold(extra.setNullAt(0))(extra.setLong(0, _))
            proj(joined(r, extra))
          }
      }
    }
  }
}
