package graft

import org.apache.spark.sql.SparkSession

/** The engine's session entry point: pins the configuration every graft
  * workload assumes (UTC session time, nanos-parquet tolerance for the
  * events table, right-sized shuffle width) and installs the native
  * expression extensions. `Verify`/`Bench`/tests and any user embedding the
  * library build sessions through here.
  */
object Engine {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
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
    * raises width with input, AQE coalesces the small stages back). */
  def localSession(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val width = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString).toInt
    val s = builder(s"local[$cpus]", width).appName(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // extensions only apply to sessions THIS builder created; if an earlier
    // session is being reused, install the functions imperatively too
    graft.expressions.GraftFunctions.register(s)
    s
  }
}
