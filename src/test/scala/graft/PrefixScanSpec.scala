package graft

import graft.operators.Cumulative
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The lazy [[graft.plans.PrefixScan]] node behind [[Cumulative]]: building
  * a frame runs nothing, executing it is repeatable and leaves nothing
  * cached, and the rank equals the window form under every plan shape. */
class PrefixScanSpec extends SparkSpec {

  private def events: DataFrame = Tables.load(spark, sf, "events")
    .select(col("event_id"), col("ts"),
      expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("building each of the four frames starts no Spark job") {
    val ev = events
    val order = Seq(col("us"), col("event_id"))
    val (frames, jobs) = jobsDuring(Seq(
      Cumulative.rowNumber(spark, ev, order, "rn", partitions = 5),
      Cumulative.runningSum(spark, ev, order, col("us"), "cum", partitions = 5),
      Cumulative.runningMax(spark, ev, order, col("us"), "hwm", partitions = 5,
        exclusive = true),
      Cumulative.leadValue(spark, ev, order, col("us"), "nxt", partitions = 5)))
    assert(jobs == 0, s"construction ran $jobs Spark jobs")
    assert(frames.map(_.columns.last) == Seq("rn", "cum", "hwm", "nxt"))
  }

  test("executing a frame twice gives identical rows and leaves nothing cached") {
    val cached = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Seq(
      Cumulative.rowNumber(spark, events, Seq(col("us"), col("event_id")), "rn",
        partitions = 5),
      Cumulative.leadValue(spark, events, Seq(col("us"), col("event_id")), col("us"),
        "nxt", partitions = 5)).foreach { df =>
      val (first, jobs) = jobsDuring(rows(df))
      assert(jobs > 0)
      assert(first.nonEmpty && rows(df) == first)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == cached)
  }

  test("rowNumber ≡ row_number() OVER (ORDER BY …) with AQE on and off") {
    val ev = events
    val windowed = ev
      .withColumn("rn", row_number().over(Window.orderBy(col("us"), col("event_id")))
        .cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      val got = Cumulative.rowNumber(spark, ev, Seq(col("us"), col("event_id")), "rn",
          partitions = 7)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(got.nonEmpty && got == windowed, s"AQE $aqe")
    }
  }

  test("rowNumber stays correct when a broadcast join feeds a union of two ranked legs") {
    // q281's shape: the scan fuses into the union's stage, whose task ids
    // for the second leg are >= the leg's partition count
    val ev = events.select(col("event_id"), col("us"))
    val dim = broadcast(events.select(col("event_id")))
    def leg(tag: String, order: Seq[org.apache.spark.sql.Column]): DataFrame =
      Cumulative.rowNumber(spark, ev, order, "rk", partitions = 4)
        .join(dim, "event_id")
        .select(lit(tag).as("leg"), col("event_id"), col("rk"))
    val got = leg("a", Seq(col("us"), col("event_id")))
      .union(leg("b", Seq(col("event_id"))))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    def windowed(tag: String, order: Seq[org.apache.spark.sql.Column]) =
      ev.withColumn("rk", row_number().over(Window.orderBy(order: _*)).cast("long"))
        .collect().map(r => (tag, r.getLong(0)) -> r.getLong(2))
    val expected = (windowed("a", Seq(col("us"), col("event_id"))) ++
      windowed("b", Seq(col("event_id")))).toMap
    assert(got.nonEmpty && got == expected)
  }
}
