package graft

import org.apache.spark.sql.SparkSession

/** The engine's session entry point: pins the configuration every graft
  * workload assumes (UTC session time, nanos-parquet tolerance for the
  * events table, right-sized shuffle width) and installs the native
  * expression extensions. `Verify`/`Bench`/tests and any user embedding the
  * library build sessions through here.
  */
object Engine {

  /** Size of Spark's generated-class cache (static
    * `spark.sql.codegen.cache.maxEntries`, default 100). The four
    * `TwitterJob` pipelines alone use about 130 generated classes, so at
    * the default the LRU cache evicts a class before its next trigger asks
    * for it and nearly every trigger recompiles: 284–336 Janino compiles
    * in the ~21 s measured window of the `tweet_stream` benchmark (4-core
    * box), against 7–9 at this size. Spark sizes the cache once per JVM,
    * from the conf of the first session that generates code, so it is set
    * where the session is built; test sessions use the same constant. */
  val CodegenCacheEntries: Int = 2000

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Tried and REVERTED in r16 (recorded so the next round doesn't
      // re-try it): parallelismFirst=false + advisory 16m + cached-plan
      // AQE partitioning. Byte-sized coalescing collapsed compute-dense
      // but byte-light pinned frames (the 530k-row celled pair cache) to
      // 1-2 partitions, serializing their downstream self-joins (q155
      // 3.6→4.7 s); the tiny-stage task overhead it removed was not the
      // cost (per-STAGE driver barriers were — fixed instead by scoping
      // AQE off inside the iterative engines' round loops, Graph.scala).
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[graft.expressions.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")

  /** Local session sized by SPARK_GRAFT_CPUS (driver contract default 32).
    * SPARK_GRAFT_SHUFFLE_PARTITIONS decouples shuffle width from core
    * count — partitions are sized to BYTES, not cores (the round-15 scale
    * probe measured 32 partitions spilling at 10× data; a real cluster
    * raises width with input, AQE coalesces the small stages back).
    *
    * File listing always runs on the driver here: above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths
    * (default 32) Spark lists through a job with one task per path, and in
    * `local[N]` those tasks take the same JVM's slots as the queries while
    * each one deserializes the whole Hadoop configuration. A file-stream
    * micro-batch of ~50 new files spent 0.7–2.3 s in that job, against
    * 10–17 ms for a driver listing of a few large files. */
  def localSession(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val width = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString).toInt
    val s = builder(s"local[$cpus]", width).appName(appName)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        Int.MaxValue.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // extensions only apply to sessions THIS builder created; if an earlier
    // session is being reused, install the functions imperatively too
    graft.expressions.GraftFunctions.register(s)
    s
  }
}
