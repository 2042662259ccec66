package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import scala.reflect.runtime.universe.TypeTag

/** The one keyed-fold processor behind the live monitors — Spark's
  * counterpart of Flink's keyed `folding-state` (the state the
  * reference's QueryableStateClientTest reads back). It owns a single
  * `ValueState[S]` named `stateName`; per key and micro-batch it reads
  * the prior state as `Option[S]`, hands it with the batch's rows to the
  * monitor's pure `batch` function, and writes the returned state back
  * only when it changed (`None` clears it — the IVM tombstone). No
  * timers: the fold runs on `TimeMode.None()`.
  *
  * `batch` must finish its fold before it returns — the state it hands
  * back is written as soon as it returns; the output iterator is only
  * drained after that.
  */
final class KeyedFold[K, V, S, O](stateName: String, stateEncoder: Encoder[S],
    batch: (K, Option[S], Iterator[V]) => (Option[S], Iterator[O]))
    extends StatefulProcessor[K, V, O] {

  @transient private var state: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[S](stateName, stateEncoder, TTLConfig.NONE)

  override def handleInputRows(key: K, rows: Iterator[V],
      timerValues: TimerValues): Iterator[O] = {
    val prior = if (state.exists()) Some(state.get()) else None
    val (next, out) = batch(key, prior, rows)
    if (next != prior) next.fold(state.clear())(state.update)
    out
  }
}

object KeyedFold {

  /** Run `batch` as a keyed fold over `grouped`. */
  def apply[K, V, S, O <: Product : TypeTag](grouped: KeyValueGroupedDataset[K, V],
      stateName: String, stateEncoder: Encoder[S], outputMode: OutputMode)(
      batch: (K, Option[S], Iterator[V]) => (Option[S], Iterator[O])): Dataset[O] =
    grouped.transformWithState(new KeyedFold(stateName, stateEncoder, batch),
      TimeMode.None(), outputMode)(Encoders.product[O])

  /** `(event_type, day_idx, cnt)` day-close rows keyed by event type — the
    * input of the four day-close control charts (EWMA, CUSUM, Holt,
    * Page–Hinkley). */
  def dayCloses(rows: DataFrame): KeyValueGroupedDataset[String, (String, Long, Long)] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("event_type").cast("string"),
        col("day_idx").cast("long"), col("cnt").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
  }
}
