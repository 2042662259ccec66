package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.OutputMode

/** A CLOSED same-lang run in the training-order feed: `len` consecutive
  * positions of `lang` starting at `start_pos`, terminated by the first
  * row of a different lang. */
final case class RunClosed(lang: String, start_pos: Long, len: Long)

private[streaming] final case class RunState(lang: String, start: Long, len: Long)

/** q234's interleave audit LIVE — the O(1)-state form of the
  * gaps-and-islands scan: a [[KeyedFold]] over ONE constant key
  * (a training order is inherently one sequence) holding only the
  * CURRENT run `(lang, start_pos, len)`; each arriving `(pos, lang)`
  * row either extends it or CLOSES it (emitting the [[RunClosed]] row —
  * append-mode honest) and opens the next. The drained closed-run
  * stream plus the one still-open run reproduces batch q234's islands
  * exactly (s44 pins it) — and where the batch query needs a per-lang
  * window, the live form needs three scalars of state at ANY corpus
  * size: this is the scale path the q234 docstring declares.
  *
  * Delivery contract: rows must arrive in `pos` order (each micro-batch
  * is sorted on `pos` before folding — the s33/s36 ordered-replay
  * convention); the feed IS an order, so ordered delivery is the
  * operator's premise, not an assumption.
  */
object RunMonitor {

  /** Closed-run stream over an ordered `(pos, lang)` feed.
    *
    * OPEN-TAIL CONTRACT: the stream emits a run only when the NEXT
    * lang closes it, so the final still-open run is never emitted —
    * append mode cannot retract, and on an unbounded feed "the last
    * run" does not exist yet. A consumer aggregating run statistics
    * from this stream alone therefore undercounts by exactly the one
    * open tail per key; at any drain point it must close the tail
    * itself from the last emitted run's `(start, len)` and the feed's
    * max pos (what StreamBatchParitySpec's s44 drain does), or compare
    * against the batch
    * [[graft.operators.TierSeventySeven.runLengthsOver]] which sees the
    * bounded feed whole. */
  def runs(ordered: DataFrame): Dataset[RunClosed] = {
    val spark = ordered.sparkSession
    import spark.implicits._
    val grouped = ordered.select(col("pos").cast("long"), col("lang"), lit(0L).as("k"))
      .as[(Long, String, Long)]
      .groupByKey(_._3)
      .mapValues(t => (t._1, t._2))
    KeyedFold(grouped, "run", Encoders.product[RunState], OutputMode.Append())(batch)
  }

  /** One micro-batch of the feed folded from the prior open run. */
  private[streaming] def batch(key: Long, prior: Option[RunState],
      rows: Iterator[(Long, String)]): (Option[RunState], Iterator[RunClosed]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[RunClosed]
    var st = prior
    for ((pos, lang) <- rows.toSeq.sortBy(_._1)) {
      st = st match {
        case Some(r) if r.lang == lang => Some(r.copy(len = r.len + 1))
        case open =>
          open.foreach(r => out += RunClosed(r.lang, r.start, r.len))
          Some(RunState(lang, pos, 1L))
      }
    }
    (st, out.iterator)
  }
}
