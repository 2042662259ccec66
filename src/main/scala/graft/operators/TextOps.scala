package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared text-operator building blocks for the dedup/similarity tiers.
  *
  * The vocabulary id (`tid`, dense rank by token) is the backbone of every
  * deterministic hash in Tier 3/4 — and also enables a dictionary-encoding
  * fast path: when the corpus vocabulary fits in 64 bits, a document's
  * distinct-token SET is one BIGINT bitmask and set intersection is
  * `bit_count(maskA & maskB)` — a codegen'd O(1) per pair instead of a
  * token-join row explosion. The dispatch is adaptive (a cheap count on the
  * DISTINCT-token side decides), mirroring how columnar engines pick
  * dictionary encodings per column chunk at runtime.
  */
object TextOps {

  /** Distinct (doc_id, token) pairs from `documents`. */
  def tok(s: SparkSession, dir: String): DataFrame =
    tokOf(Tables.load(s, dir, "documents"))

  /** Per-row SimHash signature — the SKETCH-AT-INGEST flavor: one 63-bit
    * signature from a bare text Column, no vocabulary, no explode, no
    * aggregation, so a STREAM can sign documents as they arrive and feed
    * [[TierSeven.hammingAdmit]]/[[TierSeven.hammingScreen]] directly (s22
    * runs the whole admission pipeline on a stream). Bit j's hash keys on
    * `xxhash64(token)` through the engine's affine family — deterministic
    * across runs/retries, but a DIFFERENT key than q27's vocabulary rank,
    * so signatures are not comparable across the two flavors: sign the
    * corpus and its arrivals with the same one. Token-order and
    * concatenation-with-self invariant (margins scale, signs don't);
    * token-less text signs as 0.
    *
    * Implemented as the native codegen'd [[graft.expressions.SimHash]]
    * expression (one static call per row — the declarative higher-order-
    * function form below is CodegenFallback, interpreted 63 lanes per
    * token); [[simhashColReference]] keeps that form as the differential
    * the spec pins the expression against, bit for bit.
    */
  def simhashCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.expressions.SimHash(org.apache.spark.sql.GraftSqlBridge.expression(text)))

  /** The declarative (aggregate/zip_with) formulation of [[simhashCol]] —
    * semantically identical, kept as the independent reference the native
    * expression is differentialed against (SimhashPairSpec). Not for hot
    * paths: Spark's higher-order functions are CodegenFallback. */
  private[graft] def simhashColReference(
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import TierFour.{A0, B0, P}
    val toks = filter(split(text, " "), t => t =!= "")
    // acc_j = Σ_tokens (2·bit_j(xxhash64(tok)) − 1), j = 1..63
    val accs = aggregate(
      toks, array_repeat(lit(0L), 63),
      (acc, t) => {
        val h = pmod(xxhash64(t), lit(P))
        zip_with(acc, sequence(lit(1L), lit(63L)), (a, j) =>
          a + when(((lit(A0) * j) % P * h + (lit(B0) * j) % P) % P % 2 === 1, lit(1L))
            .otherwise(lit(-1L)))
      })
    aggregate(
      zip_with(accs, sequence(lit(0), lit(62)), (a, j) =>
        when(a > 0, call_function("shiftleft", lit(1L), j.cast("int"))).otherwise(lit(0L))),
      lit(0L), (s, x) => s + x)
  }

  /** Distinct (id, trigram) pairs — the word-3-gram shingles of the
    * contamination scans (q47 vs a fixed eval set, q78 across splits).
    * Documents under 3 tokens carry no shingles (explicit guard: Spark's
    * `sequence()` throws on a descending range where DuckDB's `range()`
    * returns empty). */
  def trigrams(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), filter(split(col(text), " "), x => x =!= "").as("l"))
      .filter(size(col("l")) >= 3)
      .select(col(id),
        explode(transform(sequence(lit(0), size(col("l")) - 3),
          k => concat_ws(" ", element_at(col("l"), k + 1),
            element_at(col("l"), k + 2), element_at(col("l"), k + 3)))).as("t"))
      .distinct()

  /** Distinct (doc_id, token) pairs from an arbitrary (doc_id, text)
    * relation — lets the dedup pipeline run over a pre-filtered corpus
    * (e.g. q53's exact-dedup survivors) instead of the raw table. */
  def tokOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .distinct()

  /** Vocabulary with dense 1-based integer ids (rank by token; ties
    * impossible on DISTINCT input). Assigned by [[Cumulative.rowNumber]] —
    * range-partitioned two-pass rank, NOT `row_number() OVER (ORDER BY …)`:
    * the window form is a single-partition sort of the whole vocabulary,
    * and a 100 TB web corpus has 10⁹+ distinct tokens. Id assignment is
    * identical to the window form by construction (total order on distinct
    * tokens), so every affine hash built on `tid` still oracle-matches.
    */
  def vocab(t: DataFrame): DataFrame =
    Cumulative.rowNumber(t.sparkSession, t.select("token").distinct(),
      Seq(col("token")), "tid")

  /** Adaptive dictionary dispatch for the similarity tiers: true when the
    * corpus vocabulary fits the 64-bit bitmask fast path. Default: count
    * `v` — small driver jobs, comparable to AQE's own stats traffic; the
    * caller persists `v`, which its tokid join reads again. Production
    * runs that already know their corpus pin the answer and skip those
    * plan-time jobs entirely via the session conf `spark.graft.vocabHint` (or env `SPARK_GRAFT_VOCAB_HINT`):
    * `large` forces the generic path (always safe at any vocabulary size);
    * `small` forces the bitmask path and, like any planner hint, is a
    * PROMISE — the masks are only correct when |vocab| ≤ 64. Unset or any
    * other value stays adaptive.
    */
  def smallVocab(v: DataFrame): Boolean =
    v.sparkSession.conf.getOption("spark.graft.vocabHint")
      .orElse(sys.env.get("SPARK_GRAFT_VOCAB_HINT"))
      .map(_.toLowerCase) match {
      case Some("small") => true
      case Some("large") => false
      case _             => v.count() <= 64
    }

  /** (doc_id, tid) with the vocabulary join applied. */
  def tokid(t: DataFrame, v: DataFrame): DataFrame =
    t.join(broadcast(v), "token").select("doc_id", "tid")

  /** Per-doc distinct-token set as (doc_id, mask BIGINT, n). Only valid
    * when the vocabulary size is ≤ 64 — GUARDED at runtime, because a
    * wrong `spark.graft.vocabHint=small` promise would otherwise wrap the
    * shift mod 64 (tid 65 sets the same bit as tid 1) and silently emit
    * wrong intersections; one codegen'd comparison per row turns that
    * into a fast failure instead. */
  def tokenMasks(tokid: DataFrame): DataFrame =
    tokid.groupBy("doc_id").agg(
      sum(expr("shiftleft(cast(1 as bigint), cast(" +
        "if(tid > 64, raise_error('tokenMasks: vocabulary id > 64 — bitmask path " +
        "invalid (wrong spark.graft.vocabHint=small promise?)'), tid) - 1 as int))"))
        .as("mask"),
      count(lit(1)).as("n"))

  /** Per-doc sorted distinct tid array as (doc_id, tids, n) — the generic
    * (any vocabulary size) set representation for candidate verification:
    * `array_intersect` per candidate pair is O(set size) with zero row
    * explosion, vs. the naive token-join whose output is
    * Σ_token df(token)². */
  def tokenArrays(tokid: DataFrame): DataFrame =
    tokid.groupBy("doc_id").agg(
      array_sort(collect_list(col("tid"))).as("tids"),
      count(lit(1)).as("n"))

  /** PPJoin prefix-filtered candidate pairs at J ≥ num/den over per-doc
    * RAREST-FIRST sorted dense-id set arrays `(doc_id, sids, n)` — the
    * q28 machinery parameterized by threshold (round 15: the 10× scale
    * probe measured q23's unfiltered token self-join at 899 s where this
    * plan reads minutes; Σdf² row explosions never reach a shuffle here).
    *
    * Completeness: J ≥ t forces a shared element into each side's
    * `n − ⌈t·n⌉ + 1` rarest ids (prefix filter, lossless); the join
    * predicate then applies the length filter
    * (`den·min ≥ num·max`), the POSITIONAL filter (at the first shared
    * element the remaining overlap is capped by `min(na−pos_a, nb−pos_b)`,
    * which must reach `⌈num(na+nb)/(num+den)⌉`), and first-shared-element
    * dedup (no earlier shared prefix id — disjoint earlier slices ⇒ each
    * pair surfaces exactly once, no distinct shuffle). All integer
    * compares, evaluated inside the join, short-circuiting before the
    * slice residual allocates. */
  def ppjoinCandidates(arrs: DataFrame, num: Int, den: Int): DataFrame = {
    val prefix = arrs
      .select(col("doc_id"), col("n"),
        expr(s"slice(sids, 1, cast(n - floor(($num * n + ${den - 1}) / $den) + 1 as int))")
          .as("pre"))
      .select(col("doc_id"), col("n"), col("pre"),
        posexplode(col("pre")).as(Seq("pos", "sid")))
    val xp = prefix.select(col("doc_id").as("doc_a"), col("n").as("na0"),
      col("pre").as("pa"), col("pos").as("pos_a"), col("sid"))
    val yp = prefix.select(col("doc_id").as("doc_b"), col("n").as("nb0"),
      col("pre").as("pb"), col("pos").as("pos_b"), col("sid").as("sid_b"))
    xp.join(yp,
        col("sid") === col("sid_b") && col("doc_a") < col("doc_b")
          && col("na0") * den >= col("nb0") * num
          && col("nb0") * den >= col("na0") * num
          && least(col("na0") - col("pos_a"), col("nb0") - col("pos_b"))
             * (num + den) >= (col("na0") + col("nb0")) * num
          && !arrays_overlap(
            slice(col("pa"), lit(1), col("pos_a")),
            slice(col("pb"), lit(1), col("pos_b"))))
      .select(col("doc_a"), col("doc_b"))
  }

  /** [[tokenArrays]] with RAREST-FIRST ids built in: ranks the vocabulary
    * by (df, token) — [[Cumulative.rowNumber]]'s two-pass rank, never a
    * global window — and returns `(doc_id, sids, n)` ready for
    * [[ppjoinCandidates]]. The vocab join is left to AQE (broadcast when
    * the dictionary is small, shuffle when it is corpus-sized). */
  def rarestFirstArrays(t: DataFrame): DataFrame = {
    val sv = Cumulative.rowNumber(t.sparkSession,
        t.groupBy("token").agg(count(lit(1)).as("df")),
        Seq(col("df"), col("token")), "sid")
      .select("token", "sid")
    t.join(sv, "token")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("sid"))).as("sids"),
        count(lit(1)).as("n"))
  }

  /** [[rarestFirstArrays]] for a `(doc_id, shingle)` frame — the shared
    * sh → (doc_id, sids, n) builder of the bigram-shingle set-similarity
    * family (q28's Jaccard and q284's containment build the IDENTICAL
    * frame: same (df, shingle) rank, same sorted-sid arrays). The shingle
    * dictionary rank is broadcast — corpus-bounded vocabulary, KB–MB at
    * any corpus size, the q28 convention. */
  def shingleArrays(sh: DataFrame): DataFrame = {
    val sv = Cumulative.rowNumber(sh.sparkSession,
        sh.groupBy("shingle").agg(count(lit(1)).as("df")),
        Seq(col("df"), col("shingle")), "sid")
      .select("shingle", "sid")
    sh.join(broadcast(sv), "shingle")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("sid"))).as("sids"),
        count(lit(1)).as("n"))
  }
}
