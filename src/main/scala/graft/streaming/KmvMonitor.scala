package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode
import graft.functions.BottomK
import graft.operators.TierEightyOne

/** The bottom-k window as persisted state. */
final case class KmvState(bottom: Seq[Long])

/** One sketch refresh: the key's current KMV readout AFTER a batch that
  * CHANGED its window, plus the window itself (≤ k longs — bounded) so
  * a downstream consumer can merge keys ([[BottomK]]'s merge law; s47
  * merges the drained per-type windows into exactly the batch '_all'
  * row). */
final case class KmvUpdate(event_type: String, n_kept: Long, kth_hash: Long,
    est: Long, bottom: Seq[Long])

/** q242's KMV distinct sketch maintained LIVE — a [[KeyedFold]]
  * keyed per event_type over the SAME hash projection as batch q242
  * ([[TierEightyOne.udayHashes]] — the cannot-drift rule), folding each
  * micro-batch into the O(k) bottom-k window via the SAME
  * [[BottomK]] insert the batch aggregator uses.
  *
  * Emission is CHANGE-ONLY: a batch that doesn't move a key's window
  * emits nothing for it — so an at-least-once replay of already-folded
  * rows is output-silent (the duplicate either collides inside the
  * window or is above the k-th value; s47 pins it), and the drained
  * stream's LAST update per key equals the batch q242 row exactly.
  *
  * Scale: state is ≤ k longs per event_type; each batch's fold is one
  * pass over the key's rows. At fan-in scale the map side pre-shrinks:
  * a micro-batch can be reduced to its OWN per-key bottom-k before the
  * keyed shuffle (BottomK's partial+final shape) — not needed at
  * fixture volume.
  */
object KmvMonitor {

  /** Sketch-update stream over an `(event_type, h)` hash feed — the
    * [[TierEightyOne.udayHashes]] projection applied to the event
    * stream (the EwmaMonitor.chart grid convention: the SHARED batch
    * projection shapes the feed, so stream and batch cannot drift). */
  def updates(hashed: DataFrame, k: Int = TierEightyOne.KmvK): Dataset[KmvUpdate] = {
    val spark = hashed.sparkSession
    import spark.implicits._
    val grouped = hashed.select("event_type", "h").as[(String, Long)].groupByKey(_._1)
    KeyedFold(grouped, "kmv", Encoders.product[KmvState], OutputMode.Append())(
      batch(new BottomK(k)))
  }

  /** One micro-batch of a type's hashes folded into the prior window;
    * an unchanged window keeps the prior state and emits nothing. */
  private[streaming] def batch(agg: BottomK)(key: String, prior: Option[KmvState],
      rows: Iterator[(String, Long)]): (Option[KmvState], Iterator[KmvUpdate]) = {
    val before = prior.fold[Seq[Long]](Vector.empty)(_.bottom)
    val after = rows.foldLeft(before) { case (b, (_, h)) => agg.reduce(b, h) }
    if (after == before) (prior, Iterator.empty)
    else {
      val (n, kth, est) = TierEightyOne.kmvEstOf(after)
      (Some(KmvState(after)), Iterator.single(KmvUpdate(key, n, kth, est, after)))
    }
  }
}
