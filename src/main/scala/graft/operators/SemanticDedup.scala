package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL SEMANTIC (embedding-family) CLUSTER MAINTENANCE — the
  * [[Dedup.maintain]] symmetry for the vector modality (VERDICT r13 #1).
  * The lexical family's ingest loop is SigIndex.probe →
  * [[Components.delta]] → SigIndex.append; this is the same composition
  * over a MIRRORED [[IvfStore]]: probe the arriving embed batch for
  * every celled near-dup pair touching it ([[IvfStore.probePairs]] —
  * partition-pruned in both probe directions), fold those pairs into
  * the existing cluster labels with [[Components.delta]], then absorb
  * the batch into the store so the next batch sees it as corpus.
  *
  * The quantizer is FROZEN at [[build]] time (the SigIndex frozen-vocab
  * analogue: centroid drift is a model decision — rebuild to retrain),
  * so every batch places and probes against the same cells the corpus
  * was laid out by, and the chained law holds exactly:
  *
  * Law (SemanticMaintainSpec, the DedupMaintainSpec shape):
  * `maintain(build(D); B₁); … ; Bₖ)` ≡ the one-shot
  * `Components.connected` over [[TierNineteen.pairsOverCents]] of
  * D ∪ B₁ ∪ … ∪ Bₖ against the frozen centroids — exactly the celled
  * rebuild of the q69/q121 cluster-label family. Zero-vector embeds
  * (all-OOV documents under a frozen vocab) carry no cosine signal:
  * they enter as their own singleton clusters, matching the batch
  * detector's pair-universe rule.
  *
  * Scale: per batch this reads the probed cells' partitions (bounded by
  * 2·|batch| cell ids of driver metadata), computes O(batch·cell-width)
  * candidate pairs, and folds only the touched super-edges — the corpus
  * is never re-read, re-assigned, or re-clustered; labels move only
  * through [[Components.delta]]'s delta-proportional joins. The store
  * append is one file per touched cell per batch
  * ([[IvfStore.compact]] is the maintenance call, ledger included).
  */
object SemanticDedup {

  private def dotc(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
    call_function("graft_dot", x, y)

  /** Train-freeze-and-label: persist the MIRRORED store at `path`
    * (quantizer = `centroids`, e.g. [[IvfStore.train]]'s Lloyd step over
    * the corpus), detect the corpus' celled pairs against the PERSISTED
    * centroid bits, and return the initial `(vec_id, cluster)` labels —
    * a bare lineage-truncated leaf (drop it with
    * `GraftSqlBridge.releaseLeaf`; the [[Dedup.maintain]] finality
    * contract). `emb` must be `(vec_id, e)` with zero vectors excluded. */
  def build(spark: SparkSession, emb: DataFrame, path: String,
      centroids: DataFrame, thr: Double): DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    IvfStore.build(spark, emb, path, centroids, mirrored = true)
    val frozen = spark.read.parquet(s"$path/centroids")
    val pins = new Pins
    val labels = pins.track(Components.connected(
        emb.select(col("vec_id").as("id")),
        TierNineteen.pairsOverCents(emb, frozen, thr)
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))))
      .select(col("id").as("vec_id"), col("lbl").as("cluster"))
    val out = Pins.checkpoint(labels)
    pins.release()
    out
  }

  /** One ingest step: `(labels, new embed batch)` → updated
    * `(vec_id, cluster)`, with the batch absorbed into the store (both
    * layouts + ledger — [[IvfStore.append]]'s at-least-once replay
    * contract applies when `batchId` is passed; on a replayed ledgered
    * batch the store append SKIPS while the label fold re-runs — the
    * fold is idempotent, since the batch's pairs and self-labels are
    * already in `labels`). Batch vec_ids must be new to the store.
    *
    * The returned frame is an eager lineage-truncated leaf, materialized
    * BEFORE the absorb (the probe plan reads the store lazily;
    * checkpointing first pins the pre-append read). Neither input is
    * consumed — maintain releases only the leaves it and
    * [[Components.delta]] created, so a chained loop keeps or releases
    * each round's labels itself, and the store append below still reads
    * the batch (the ingest pipeline hands it in as a checkpoint leaf). */
  def maintain(path: String, labels: DataFrame, newVecs: DataFrame,
      thr: Double, batchId: Option[Long] = None,
      ingestId: String = "semantic_dedup"): DataFrame = {
    val spark = newVecs.sparkSession
    graft.expressions.GraftFunctions.register(spark)
    val nv = newVecs.select("vec_id", "e")
    val live = nv.filter(dotc(col("e"), col("e")) > 0)
    val pairs = IvfStore.probePairs(spark, path, live, thr)
    val lbl0 = labels.select(col("vec_id").as("id"), col("cluster").as("lbl"))
    val seeded = lbl0.unionByName(
      nv.select(col("vec_id").as("id"), col("vec_id").as("lbl"))
        .join(lbl0.select("id"), Seq("id"), "left_anti"))
    val pins = new Pins
    val updated = Components.delta(seeded,
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")), pins)
      .select(col("id").as("vec_id"), col("lbl").as("cluster"))
    val out = Pins.checkpoint(updated)
    pins.release()
    IvfStore.append(spark, path, live, batchId = batchId, ingestId = ingestId)
    out
  }
}
