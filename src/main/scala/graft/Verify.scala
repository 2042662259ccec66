package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Engine.localSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    // dev-loop filter (same contract as Bench): SPARK_GRAFT_ONLY=q63,q67
    // dumps just those queries; unset = the full driver run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val run = SparkEntry.queries
      .filter { case (n, _) => only.forall(f => f.exists(n.startsWith)) }
    val failed = run.flatMap { case (name, fn) =>
      val failure =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"); None }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(s"$name (${e.getClass.getName})")
        }
      // the result is on disk — drop EVERYTHING this query pinned
      // (persisted intermediates, Components' localCheckpoint blocks) so
      // a 290-query session doesn't accumulate memory/disk pressure; same
      // hygiene as Bench's per-query sweep
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      failure
    }
    System.err.println(s"[verify] summary: ${run.size - failed.size} passed, " +
      s"${failed.size} failed" + (if (failed.isEmpty) "" else failed.mkString(": ", ", ", "")))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
