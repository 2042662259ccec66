package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.io.Source

/** `batch_iterative` / `batch_scan`: a closed loop with one client. One
  * operation is a declared query's construction (the `SparkEntry.queries`
  * function call, which runs the query's eager jobs) followed by a `noop`
  * write of the returned plan. Each query first runs once untimed with its
  * result written as parquet, which `run.py` compares with the stored
  * oracle digest; untimed warm passes and the measured passes over the
  * seeded query order follow. */
object Batch {
  val WarmPasses = 2
  /** Seconds per query per measured pass on a 4-core box (a warm
    * `q142_hits` operation plus the cache drop before it). */
  val NominalPassS = 1.6

  def run(ctx: Ctx, rec: Recorder, out: Out): Unit = {
    val names = readLines(s"${ctx.input}/queries.txt")
    val all = SparkEntry.queries
    val fns = names.map(n => n -> all(n))

    val (spark, _) = Main.session(rec)
    out.fields("setup_s") = Main.sinceJvmStart

    // untimed: a first pass whose results are kept for the oracle
    // comparison, then WarmPasses more, because operation times keep
    // falling steeply over a fresh JVM's first passes (the JIT) and a
    // median taken on that slope moves with the number of passes
    val tw = System.nanoTime()
    fns.foreach { case (n, f) =>
      clean(spark)
      out.attempted += 1
      try f(spark, ctx.data).write.mode("overwrite").parquet(ctx.path(s"out/$n"))
      catch { case e: Throwable => out.fail(s"$n: ${e.getMessage}") }
    }
    for (_ <- 1 to WarmPasses; (n, f) <- fns) {
      clean(spark)
      out.attempted += 1
      try noop(f(spark, ctx.data)) catch { case e: Throwable => out.fail(s"$n: ${e.getMessage}") }
    }
    val tm = System.nanoTime()

    // whole passes, so every query weighs the same, as many as fill the
    // measuring time at NominalPassS a query, at least three. The count does
    // not depend on how fast this run goes: with a time limit a slow run
    // measured fewer passes, so its median sat earlier on the JIT slope
    // and the slow-down showed twice. Throughput is sampled per pass.
    val passes = math.max(3, math.round(ctx.seconds / (NominalPassS * fns.size)).toInt)
    var op = 0
    for (_ <- 1 to passes) {
      var pass = 0.0
      fns.foreach { case (n, f) =>
        clean(spark)
        Main.listen(spark, rec, on = true)
        val id = s"op-$op"
        val gc0 = Layers.gcMillis
        val start = System.currentTimeMillis().toDouble
        out.attempted += 1
        try {
          val sc = spark.sparkContext
          sc.setLocalProperty("perfbench.phase", "construct")
          sc.setLocalProperty("perfbench.span", s"$id.construct")
          val (df, c) = rec.timed(s"$id.construct", "operators.construct", id)(f(spark, ctx.data))
          sc.setLocalProperty("perfbench.phase", "execute")
          sc.setLocalProperty("perfbench.span", s"$id.execute")
          val (_, x) = rec.timed(s"$id.execute", "operators.execute", id)(noop(df))
          rec.add("operators.construct_s", c)
          rec.add("operators.execute_s", x)
          rec.sample("latency_ms", (c + x) * 1000)
          pass += c + x
        } catch { case e: Throwable => out.fail(s"$n: ${e.getMessage}") }
        val end = System.currentTimeMillis().toDouble
        // per operation, so the collections `clean` forces stay out
        rec.add("engine.gc_s", (Layers.gcMillis - gc0) / 1e3)
        rec.span(Span(id, s"op:$n", start, end, ""))
        Main.listen(spark, rec, on = false)
        op += 1
      }
      rec.sample("throughput_per_s", fns.size / pass)
    }
    out.fields("phase_s") = Map("warm_up" -> (tm - tw) / 1e9, "measured" -> (System.nanoTime() - tm) / 1e9)
    spark.stop()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Drop what the previous operation cached, as the repository's own
    * bench does between queries, so every operation starts cold on its
    * own work. */
  def clean(spark: SparkSession): Unit = {
    graft.operators.Cumulative.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  def readLines(path: String): Seq[String] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(_.nonEmpty).toList finally src.close()
  }
}
