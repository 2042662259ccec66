package graft.operators

import graft.plans.PrefixScan
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed rank/prefix-sum — the 100 TB replacement for partitionless
  * window functions.
  *
  * `row_number()/count(*) OVER (ORDER BY …)` forces every row through ONE
  * task (Spark warns "No Partition Defined for Window operation"); fine at
  * sf0.1, impossible at 100 TB. Each function here is one lazy
  * [[graft.plans.PrefixScan]] plan node — the classic two-pass prefix scan:
  * range-partition + sort by the total order, one summary per partition
  * (≤ #partitions numbers to the driver), then a per-partition scan from
  * each partition's carry-in. Building a frame runs no job; every
  * execution re-runs its shuffle and keeps nothing, so a caller that reads
  * one result from several actions or branches persists it.
  *
  * Output is identical to the window-function formulation by construction
  * (provided the sort key is a total order); [[graft.CumulativeSpec]] pins
  * equality row-for-row. [[rowNumber]] is the generic form, used for the
  * vocabulary / shingle id assignment in [[TextOps.vocab]] and TierFour —
  * a 100 TB web corpus has 10⁹+ distinct tokens, so even the "small" id
  * table must never pass through a single-partition sort.
  */
object Cumulative {

  /** No-op: the rank frames hold no state between executions. Kept for
    * callers of the retired rank-cache registry this call used to drop. */
  def releaseAll(): Unit = ()

  /** Append `outName` = 1-based BIGINT `row_number()` over the given TOTAL
    * order (duplicate sort keys would make the assignment within the tie
    * nondeterministic — callers pass a key that is unique by construction).
    */
  def rowNumber(spark: SparkSession, df: DataFrame, sortCols: Seq[Column],
      outName: String, partitions: Int = 0): DataFrame =
    PrefixScan.of(df, sortCols, PrefixScan.Sum, None, outName, partitions)

  /** Append `outName` = INCLUSIVE BIGINT running MAX of `value` over the
    * given TOTAL order — `max(value) OVER (ORDER BY …)`. `value` must be
    * integral and non-null. `exclusive = true` reports the max over
    * STRICTLY EARLIER rows instead (`… ROWS BETWEEN UNBOUNDED PRECEDING AND
    * 1 PRECEDING`) — Long.MinValue on the global first row, the form a
    * record-breaking test (`value > excl_hwm`) wants.
    */
  def runningMax(spark: SparkSession, df: DataFrame, sortCols: Seq[Column],
      value: Column, outName: String, partitions: Int = 0,
      exclusive: Boolean = false): DataFrame = {
    requireIntegral(df, value, "runningMax value must be integral")
    PrefixScan.of(df, sortCols, PrefixScan.Max(exclusive), Some(value.cast(LongType)),
      outName, partitions)
  }

  /** Cumulative count over the total order (ts, event_id); returns
    * (event_id, ts, running_cnt). */
  def runningCount(spark: SparkSession, events: DataFrame, partitions: Int = 0): DataFrame =
    rowNumber(spark, events.select(col("event_id"), col("ts")),
      Seq(col("ts"), col("event_id")), "running_cnt", partitions)

  /** Append `outName` = the NEXT row's `value` under the given TOTAL
    * order — `lead(value) OVER (ORDER BY …)`, NULL on the global last row.
    * Each partition's FIRST value stitches the boundaries: a partition's
    * last row reads the first value of the next non-empty partition.
    * `value` must be integral and non-null (the neighbor arithmetic
    * consumers do — value gaps, interval widths — is exact Int64).
    */
  def leadValue(spark: SparkSession, df: DataFrame, sortCols: Seq[Column],
      value: Column, outName: String, partitions: Int = 0): DataFrame = {
    requireIntegral(df, value, "leadValue value must be integral")
    PrefixScan.of(df, sortCols, PrefixScan.Lead, Some(value.cast(LongType)),
      outName, partitions)
  }

  /** Append `outName` = INCLUSIVE BIGINT running sum of `value` over the
    * given TOTAL order — `sum(value) OVER (ORDER BY …)`. `value` must be
    * integral (cast upstream — float accumulation order would change the
    * answer); a NULL value counts as 0 — the one deviation from the window
    * form, which emits NULL cum until the first non-null. CumulativeSpec
    * pins row-for-row equality with the window form on non-null values.
    */
  def runningSum(spark: SparkSession, df: DataFrame, sortCols: Seq[Column],
      value: Column, outName: String, partitions: Int = 0): DataFrame = {
    // a DOUBLE value would silently truncate toward zero through the cast
    // and produce a plausible-but-wrong prefix sum — fail loudly instead
    requireIntegral(df, value, "runningSum value must be integral (cast upstream — " +
      "float accumulation order would change the answer)")
    PrefixScan.of(df, sortCols, PrefixScan.Sum,
      Some(coalesce(value.cast(LongType), lit(0L))), outName, partitions)
  }

  private def requireIntegral(df: DataFrame, value: Column, what: String): Unit = {
    val resolved = df.select(value).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(resolved),
      s"$what, got ${resolved.catalogString}")
  }
}
