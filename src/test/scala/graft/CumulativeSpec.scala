package graft

import graft.operators.{Cumulative, TierOne}
import org.apache.spark.sql.functions._

/** The two-pass distributed running total equals the single-partition
  * window-function formulation row-for-row (q09's scale path). */
class CumulativeSpec extends SparkSpec {

  test("two-pass prefix-sum running count ≡ window-function running count") {
    val events = Tables.load(spark, sf, "events")
    val windowed = TierOne.q09.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1), r.getLong(2)))
    val twoPass = Cumulative.runningCount(spark, events, partitions = 7)
      .collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1), r.getLong(2)))
      .sortBy(t => (t._3))
    assert(twoPass.length == windowed.length)
    assert(twoPass.toSeq == windowed.toSeq)
  }

  test("two-pass runningSum ≡ window-function cumulative sum (integral values)") {
    import org.apache.spark.sql.expressions.Window
    val df = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("ts"),
        (col("value") * 100).cast("long").as("v"))
    val windowed = df
      .withColumn("cum", sum("v").over(Window.orderBy(col("ts"), col("event_id"))))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val twoPass = Cumulative.runningSum(spark, df,
        Seq(col("ts"), col("event_id")), col("v"), "cum", partitions = 7)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(twoPass == windowed && twoPass.nonEmpty)
  }

  test("two-pass runningMax ≡ window-function running max (q164's high-water mark)") {
    import org.apache.spark.sql.expressions.Window
    val df = Tables.load(spark, sf, "events")
      .select(col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
    val windowed = df
      .withColumn("m", max("us").over(
        Window.orderBy(col("event_id")).rowsBetween(Window.unboundedPreceding, 0)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val twoPass = Cumulative.runningMax(spark, df,
        Seq(col("event_id")), col("us"), "m", partitions = 7)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(twoPass == windowed && twoPass.nonEmpty)
  }

  test("two-pass leadValue ≡ window-function lead (boundary stitching incl. NULL last row)") {
    import org.apache.spark.sql.expressions.Window
    val df = Tables.load(spark, sf, "events")
      .select(col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
    val windowed = df
      .withColumn("nxt", lead("us", 1).over(Window.orderBy(col("us"), col("event_id"))))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null else Long.box(r.getLong(2)))).toMap
    // partitions = 7 forces six partition boundaries through the stitch
    val twoPass = Cumulative.leadValue(spark, df,
        Seq(col("us"), col("event_id")), col("us"), "nxt", partitions = 7)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null else Long.box(r.getLong(2)))).toMap
    assert(twoPass == windowed && twoPass.nonEmpty)
    assert(twoPass.values.count(_ == null) == 1, "exactly one global last row")
  }

  test("runningSum rejects fractional value columns loudly (no silent truncation)") {
    val df = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("value").cast("double").as("v"))
    val err = intercept[IllegalArgumentException] {
      Cumulative.runningSum(spark, df, Seq(col("ts"), col("event_id")), col("v"), "cum")
    }
    assert(err.getMessage.contains("integral"), err.getMessage)
  }
}
