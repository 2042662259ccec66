package graft

import graft.operators.Pins
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Cache ownership across [[Pins]]: Spark keeps one cache entry for plans
  * it considers the same result, and only the `Pins` that created it
  * drops it. */
class PinsSpec extends SparkSpec {

  test("releasing a Pins that found the entry already cached keeps it for its creator") {
    def plan = spark.range(0, 20000).select((col("id") % 7).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    def readsCache = plan.queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r }.isDefined
    val creator = new Pins
    val sharer = new Pins
    val a = creator(plan)
    val expected = a.collect().toSet
    val b = sharer(plan) // the same result: Spark hands back the same entry
    assert(b.storageLevel != StorageLevel.NONE)
    sharer.release()
    assert(readsCache, "the sharer's release dropped the creator's cache")
    assert(a.storageLevel != StorageLevel.NONE)
    assert(plan.collect().toSet == expected)
    creator.release()
    assert(!readsCache, "the creator's release drops its entry")
  }
}
