package graft.operators

import org.apache.spark.sql.DataFrame

/** Collects the `persist()`s a composed pipeline takes, so the pipeline's
  * release handle can drop them ALL — not just the ones its top-level
  * function happened to create. Round 7's leak audit (DedupSpec's id-diff
  * release gates) showed [[Dedup.deduplicateReleasable]]'s handle covered
  * its own survivor cache and the components label leaf but not the four
  * intermediates [[TierFour.minhashPairs]] pins internally; threading one
  * of these through the call chain closes that class of leak structurally.
  *
  * Single-threaded builder use; release is idempotent. Queries driven by
  * Verify/Bench don't need it (their per-query sweep unpersists
  * everything), so the convenience entry points default to a throwaway
  * collector.
  */
final class Pins {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` and remember it for [[release]]. */
  def apply(df: DataFrame): DataFrame = { buf += df.persist(); df }

  /** Remember an ALREADY-persisted `df` for [[release]] (for callees that
    * manage their own persist but delegate release, e.g.
    * [[Cumulative.rowNumber]]'s range-boundary cache). */
  def track(df: DataFrame): DataFrame = { buf += df; df }

  def release(): Unit = {
    buf.foreach(_.unpersist(blocking = false))
    buf.clear()
  }
}

/** The single-shot auto-release shape shared by the library pipelines
  * ([[Dedup.deduplicate]], the [[Graph]] engines): fire a release handle
  * once, after the first SUCCESSFUL query execution that materializes
  * the returned plan. Extracted in round 9 from Dedup (round 7's VERDICT
  * #5 fix) so every releasable engine gets the identical listener
  * semantics; round 10 adds the failure-retry and [[sweep]] refinements
  * (round-9 ADVICE). */
object Release {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.util.QueryExecutionListener

  /** Auto-release listeners registered but not yet fired — the state a
    * caller that BUILT a frame and never executed it leaves behind
    * (e.g. a plan-inspection pass over the declared queries). Keyed by
    * listener so the normal fire path and [[sweep]] race safely: whoever
    * removes the entry runs the release, exactly once. */
  private val outstandingReleases = new java.util.concurrent.ConcurrentHashMap[
    QueryExecutionListener, (SparkSession, () => Unit)]()

  /** Register a one-shot query-completion listener firing `release` after
    * the first SUCCESSFUL execution whose analyzed plan contains `df`'s —
    * matched by node identity, so derived frames (`df.select(…)`, a
    * parquet write of a join over it) trigger too. Returns `df` for
    * call-site chaining.
    *
    * Contract: `df` becomes single-shot — execute once and keep the
    * OUTPUT; callers that materialize several times (or want release
    * timing control) call the engine's release handle themselves
    * ([[Graph.Run.release]], [[Dedup.deduplicateReleasable]]). A
    * FAILED first action does NOT consume the shot: the pinned state is
    * exactly what the retry needs, so `onFailure` deliberately leaves it
    * in place (transient executor loss stays retryable). Callers that
    * build frames they never execute sweep the leftovers with [[sweep]]. */
  def onFirstExecution(df: DataFrame, release: () => Unit): DataFrame = {
    import org.apache.spark.sql.execution.QueryExecution
    val spark = df.sparkSession
    // match on the ANALYZED tree: actions compose over Dataset.logicalPlan
    // (= the analyzed/commandExecuted plan), so the raw logical nodes never
    // appear in a derived action's execution
    val marker = df.queryExecution.analyzed
    val listener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.exists(_ eq marker) && outstandingReleases.remove(this) != null) {
          release()
          spark.listenerManager.unregister(this)
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        () // keep the shot: a failed action must stay retryable
    }
    outstandingReleases.put(listener, (spark, release))
    spark.listenerManager.register(listener)
    df
  }

  /** Number of auto-release listeners registered on `spark` that have not
    * fired yet — the leak gauge [[sweep]] drains (spec surface). */
  def outstanding(spark: SparkSession): Int = {
    import scala.jdk.CollectionConverters._
    outstandingReleases.asScala.count(_._2._1 eq spark)
  }

  /** Drop every not-yet-fired auto-release registered on `spark`:
    * unregister the listener and run its release (pinned caches and
    * checkpoint blocks fall). FINALITY: every swept frame had a
    * localCheckpoint-leaf lineage — after the sweep those frames cannot
    * be executed. For callers that build single-shot frames without
    * executing them (plan audits, `.explain` passes, abandoned
    * branches); without the sweep each such build leaks its pinned
    * state AND a listener that scans every subsequent query for the
    * session lifetime (round-9 ADVICE). */
  def sweep(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    // read-then-conditional-remove: another session's entry is NEVER
    // touched (the old remove/re-put window let that session's fire path
    // see a null remove mid-sweep and skip its release — r10 ADVICE); the
    // two-arg remove keeps the fire-path race exact — whoever removes the
    // entry runs the release, exactly once
    outstandingReleases.asScala.toSeq.foreach { case (l, entry @ (s, rel)) =>
      if ((s eq spark) && outstandingReleases.remove(l, entry)) {
        s.listenerManager.unregister(l)
        rel()
      }
    }
  }
}
