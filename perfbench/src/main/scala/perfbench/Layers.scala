package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Per-layer recording from outside the library: Spark's public listener
  * APIs feed the scheduler, compute, shuffle and sources layers, and the
  * query-execution listener feeds Catalyst planning time. The harness
  * tags the jobs it starts with local properties (`perfbench.phase`,
  * `perfbench.span`) so each job is attributed to the operation phase and
  * span that ran it. Events count only while the recorder is `active`.
  * Idle time and core use are derived from the stage spans by `run.py`. */
final class Layers(rec: Recorder) extends SparkListener with QueryExecutionListener {
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Double, String)]()
  private val taskTimes = new ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()
  /** A workload may tag stages by their call site; a tagged stage's span
    * is named `spark.stage:<tag>`, so a library step's stage time can be
    * read off the spans. */
  @volatile var tagOf: StageInfo => Option[String] = _ => None

  override def onJobStart(e: SparkListenerJobStart): Unit = if (rec.active) {
    val props = Option(e.properties)
    val phase = props.flatMap(p => Option(p.getProperty("perfbench.phase"))).getOrElse("")
    val parent = props.flatMap(p => Option(p.getProperty("perfbench.span"))).getOrElse("")
    rec.add("scheduler.jobs", 1)
    if (phase == "construct") rec.add("operators.construct_jobs", 1)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobStart.put(e.jobId, (e.time.toDouble, parent))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
      rec.span(Span(s"job-${e.jobId}", "spark.job", t0, e.time.toDouble, parent))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (rec.active) {
    val m = e.taskMetrics
    if (m != null) {
      rec.add("compute.task_s", m.executorRunTime / 1e3)
      rec.add("compute.cpu_s", m.executorCpuTime / 1e9)
      rec.add("compute.task_gc_s", m.jvmGCTime / 1e3)
      rec.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      rec.add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      rec.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      rec.add("shuffle.spill_mb", m.diskBytesSpilled / 1e6)
      rec.add("sources.input_mb", m.inputMetrics.bytesRead / 1e6)
      rec.add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
    }
    if (e.taskInfo != null)
      taskTimes.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val times = Option(taskTimes.remove((info.stageId, info.attemptNumber())))
      .map(_.asScala.toSeq.sorted).getOrElse(Nil)
    if (rec.active) {
      rec.add("scheduler.stages", 1)
      rec.add("scheduler.tasks", info.numTasks.toDouble)
      if (times.size >= 2) {
        val median = times(times.size / 2).max(1L)
        rec.max("compute.stage_skew_max", times.last.toDouble / median)
      }
      for (t0 <- info.submissionTime; t1 <- info.completionTime) {
        val job = Option(stageJob.get(info.stageId)).map(j => s"job-$j").getOrElse("")
        rec.span(Span(s"stage-${info.stageId}.${info.attemptNumber()}",
          "spark.stage" + tagOf(info).map(":" + _).getOrElse(""), t0.toDouble, t1.toDouble, job))
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (rec.active) {
      val phases = qe.tracker.phases.values
      rec.add("catalyst.plan_s", phases.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Layers {
  def install(spark: SparkSession, rec: Recorder): Layers = {
    val l = new Layers(rec)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  /** Milliseconds this JVM has spent in garbage collection. */
  def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set size of this JVM in MB (Linux `VmHWM`). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
