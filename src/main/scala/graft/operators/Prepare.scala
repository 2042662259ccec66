package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The corpus-preparation RECIPE as one library call — how a user consumes
  * the engine end to end instead of wiring the stages by hand. Ordering is
  * the production rationale, encoded once:
  *
  *   1. NORMALIZE ([[TierEleven.normalize]]) — canonical text before any
  *      downstream tokenization (dedup digests, quality tokens, splits all
  *      see the same bytes).
  *   2. SCRUB PII ([[TierEleven.redact]]) — before anything persists or
  *      fingerprints the raw text.
  *   3. PER-ROW GATES — cheap codegen'd filters (q31's heuristic quality
  *      gate, q83's classifier as the stateless [[TierEleven.scoreCol]])
  *      run BEFORE the expensive pairwise stage so dedup never pays for
  *      documents the gates would drop anyway. With `gopherRules = true`
  *      the q106 rule battery ([[TierFifteen.gopherFlags]]) joins the
  *      gate stage as an admitted-ids semi-join — one (doc, token)
  *      shuffle, still far cheaper than the pairwise stage it shields.
  *      With `dsirGate = Some(…)` the q126 importance screen joins the
  *      same stage: documents score against FROZEN per-token weights
  *      ([[TierTwentyOne.dsirApply]] — learned on a reference corpus,
  *      shipped with the pipeline, the s34 discipline) and must clear
  *      `floorPpm` — the "keep what looks like the target" admission
  *      (DSIR's selection step) in the position where it shields dedup.
  *   4. DEDUP ([[Dedup.deduplicate]]) — exact digests, then
  *      MinHash/LSH near-dup clusters, one survivor per cluster.
  *   4b. optional SEMANTIC DEDUP (`semanticDedup = true`) — SemDeDup's
  *      position in the order: hash-embed near-dup pairs
  *      ([[TierNineteen.celledEmbedPairsOf]] since round 12 — the celled
  *      production detector, never all-pairs; q121 remains the recall
  *      anchor it is measured against) over
  *      the lexical survivors → connected components → keep each
  *      cluster's min doc_id. After the lexical stage deliberately: the
  *      embed pass pays only for documents lexical dedup could not
  *      collapse (the paraphrase tail).
  *   5. optional SUBSTRING STRIP ([[TierFourteen.stripForeignSpans]],
  *      `stripSpans = true`) — cross-doc repeated regions removed from
  *      every non-canonical survivor. AFTER dedup deliberately: whole-doc
  *      duplicates are gone, so the strip pays only for genuinely shared
  *      boilerplate; fully-stripped-empty docs drop.
  *   6. SPLIT (q75's affine-hash partition) — LAST, so a duplicate pair
  *      can never straddle train/eval (the contamination vector splitting
  *      before dedup re-opens).
  *
  * Returns the prepared frame `(doc_id, text, split)` plus the per-stage
  * counts a dataset card quotes. Every cache and checkpoint leaf the
  * stages create is recorded in one [[Pins]] and released before
  * returning; `docs` is never touched. The returned frame is an eager
  * `localCheckpoint` — fully materialized and SELF-CONTAINED (no lineage
  * into the released state; blocks spill to disk rather than
  * recompute) — and Verify/Bench's per-query sweep releases it as usual.
  */
object Prepare {

  /** Per-stage counts: `input ≥ afterGates ≥ afterDedup ≥ Σ splits`;
    * `strippedTokens` counts tokens the optional substring stage removed
    * (0 when `stripSpans = false`, where also `afterDedup = Σ splits`);
    * `semanticDropped` counts survivors the optional semantic pass
    * removed (0 when `semanticDedup = false`; already excluded from
    * `afterDedup`). */
  final case class Report(
      input: Long, afterGates: Long, afterDedup: Long,
      train: Long, valid: Long, test: Long, strippedTokens: Long = 0L,
      semanticDropped: Long = 0L)

  /** Frozen DSIR admission screen for the gate stage: per-token `weights`
    * `(token, lr_ppm)` (learn once on a reference corpus —
    * [[TierTwentyOne.dsirModel]] — ship frozen), the `unseenPpm` floor an
    * out-of-model token scores, and the `floorPpm` a document's mean
    * importance must clear to be admitted. */
  final case class DsirGate(weights: DataFrame, unseenPpm: Long, floorPpm: Long)

  def corpus(docs: DataFrame, stripSpans: Boolean = false,
      gopherRules: Boolean = false, semanticDedup: Boolean = false,
      dsirGate: Option[DsirGate] = None): (DataFrame, Report) = {
    import TierFour.{A0, B0, P}
    val input = docs.count()
    val gatePins = new Pins
    val rowGated = docs
      .select(col("doc_id"),
        TierEleven.redact(TierEleven.normalize(col("text"))).as("text"))
      .filter(TierFour.qualityCol(col("text")) >= 2)
      .filter(TierEleven.scoreCol(TierEleven.pseudoWeights, col("text")) >= 0L)
    val tokenGated = if (!gopherRules) rowGated
      else {
        // the rule battery reads the row-gated frame twice (flags + join) —
        // pin it for the gate stage, released once `gated` materializes
        val pinned = gatePins(rowGated)
        pinned.join(
          TierFifteen.gopherFlags(pinned)
            .filter(col("admitted") === 1L).select("doc_id"),
          Seq("doc_id"), "left_semi")
      }
    // the state every later stage creates, released together at the end
    val pins = new Pins
    val gated = pins(dsirGate match {
      case None => tokenGated
      case Some(DsirGate(weights, unseenPpm, floorPpm)) =>
        // same two-read shape as the gopher branch: score + semi-join
        val pinned = gatePins(tokenGated)
        pinned.join(
          TierTwentyOne.dsirApply(pinned, weights, unseenPpm)
            .filter(col("dsir_ppm") >= floorPpm).select("doc_id"),
          Seq("doc_id"), "left_semi")
    }) // feeds its count + three dedup consumers
    val afterGates = gated.count()
    gatePins.release()
    val mhSurvivors = Dedup.deduplicate(gated, pins)
    // optional SEMANTIC pass (SemDeDup's position in the order: after the
    // lexical whole-doc dedup, before the substring strip) — hash-embed
    // near-dup pairs (the celled production detector, text-only) → components →
    // keep each cluster's min doc_id. The survivor rule and the
    // self-labeled-min shortcut are Dedup.deduplicate's.
    val (survivors, semanticDropped) =
      if (!semanticDedup) (mhSurvivors, 0L)
      else {
        val base = pins(mhSurvivors) // embeds + node set + final semi join
        val nBase = base.count()
        val pairs = TierNineteen.celledEmbedPairsOf(base, 0.95, pins = Some(pins))
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        val keep = pins.track(Components.connected(base.select(col("doc_id").as("id")), pairs))
          .filter(col("id") === col("lbl")).select(col("id").as("doc_id"))
        val kept = base.join(keep, Seq("doc_id"), "left_semi")
        (kept, nBase - kept.count())
      }
    val (cleaned, strippedTokens) =
      if (!stripSpans) (survivors, 0L)
      else {
        val stripped = pins(TierFourteen.stripForeignSpans(survivors, pins))
        val removed = stripped.agg(sum(col("n_removed"))).head.getLong(0)
        (stripped.filter(col("clean_text") =!= "")
          .select(col("doc_id"), col("clean_text").as("text")), removed)
      }
    // EAGER localCheckpoint, not persist: the release below frees the
    // dedup stages' checkpoint leaves, so the returned frame must not
    // keep lineage through them — checkpoint blocks are MEMORY_AND_DISK
    // (spill, never recompute), making `out` self-contained
    val out = cleaned
      .withColumn("bkt", ((col("doc_id") % P) * A0 + B0) % P % 1000)
      .withColumn("split",
        when(col("bkt") < 980, "train")
          .when(col("bkt") < 990, "valid")
          .otherwise("test"))
      .drop("bkt")
      .localCheckpoint(true)
    val bySplit = out.groupBy("split").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // afterDedup counts dedup SURVIVORS; the strip stage can only drop
    // further (fully-stripped-empty docs), never add
    val afterDedup = if (stripSpans) survivors.count() else bySplit.values.sum
    pins.release()
    val report = Report(input, afterGates, afterDedup,
      bySplit.getOrElse("train", 0L), bySplit.getOrElse("valid", 0L),
      bySplit.getOrElse("test", 0L), strippedTokens, semanticDropped)
    (out, report)
  }
}
