package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

/** The maintained per-key IVM state: net multiplicity count, net cents
  * (integer money — the Determinism rule), and the key's changelog
  * version (how many updates this key has emitted). 24 bytes per live
  * key. */
final case class IvmState(n: Long, cents: Long, ver: Long)

/** One maintained-view change: the key's post-batch state plus its
  * per-key changelog version `ver` (monotone per key — the ordering
  * handle an upsert consumer applies changes by). A row with
  * `n_net = 0 AND revenue_net_c = 0` is the DELETE tombstone — the key
  * reached the group identity and left the view; its state is cleared,
  * so a re-appearing key starts a FRESH changelog from ver 1 (the
  * tombstone is the barrier between the two lifetimes, exactly like the
  * batch fold rebuilding the key from zero). */
final case class IvmRow(user_id: Long, n_net: Long, revenue_net_c: Long, ver: Long)

/** q209's additive IVM fold as a LIVE stream — a [[KeyedFold]]
  * keyed by user over `(user_id, m, cents)` change rows: each micro-
  * batch folds its deltas into the key's (Σm, Σm·cents) state and emits
  * the post-batch state once per touched key (upsert-changelog
  * semantics: the max-`ver` row per key IS the maintained view — s42
  * pins drained-stream ≡ batch q209). The group is commutative, so no
  * within-batch ordering is needed at all — the one keyed fold
  * here with NO delivery-order assumption ([[ScdProcessor]] and
  * [[FunnelProcessor]] both need per-key order; addition doesn't).
  *
  * Scale: one 24-byte state row per key with a LIVE (non-identity)
  * aggregate in the RocksDB store; each micro-batch shuffles only its
  * own rows on user_id; map-side the commutative fold could pre-combine
  * (the batch twin's partial+final shape). The emitted stream is one
  * row per (batch, touched key) — the upsert/delete changelog a
  * downstream materialized view applies directly.
  */
object IvmMaintainer {

  /** Change stream over `(user_id, m, cents)` delta rows — the streaming
    * face of q209's fold (callers project deltas with
    * `TierSixtyThree.ivmDeltaOf` so the two cannot drift). */
  def changes(deltas: DataFrame): Dataset[IvmRow] = {
    val spark = deltas.sparkSession
    import spark.implicits._
    val grouped = deltas.select(col("user_id"), col("m"), col("cents"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
    KeyedFold(grouped, "ivm_state", Encoders.product[IvmState], OutputMode.Update())(batch)
  }

  /** One micro-batch of a key's deltas folded from the prior state; the
    * group identity clears the state (the IVM delete). */
  private[streaming] def batch(key: Long, prior: Option[IvmState],
      rows: Iterator[(Long, Long, Long)]): (Option[IvmState], Iterator[IvmRow]) = {
    val s = rows.foldLeft(prior.getOrElse(IvmState(0L, 0L, 0L))) {
      case (s, (_, m, cents)) => IvmState(s.n + m, s.cents + m * cents, s.ver)
    }
    val ver = s.ver + 1
    if (s.n == 0 && s.cents == 0) // tombstone closes this changelog
      (None, Iterator(IvmRow(key, 0L, 0L, ver)))
    else (Some(IvmState(s.n, s.cents, ver)), Iterator(IvmRow(key, s.n, s.cents, ver)))
  }
}
