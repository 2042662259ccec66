package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tier 4 — the extended training-data-pipeline operators (north-star
  * addendum, SURVEY.md §2.2 "LLM-pipeline ops"): sketch-based dedup
  * (MinHash+LSH, SimHash), n-gram near-dup, bucketed ANN, language-ID,
  * quality scoring, token counting, and document fingerprinting.
  *
  * Cross-engine determinism strategy (every query here is oracle-checked):
  * all hashing is affine-modular integer arithmetic `(a·x + b) mod p` over a
  * token id assigned by dense rank of the vocabulary — both Spark and DuckDB
  * compute identical BIGINTs, no engine-native hash function (whose
  * implementations differ) ever reaches a result. Products stay < 2^63
  * (a,b < p = 2^31−1; tid ≤ |vocab| < 2^31).
  *
  * Scale posture: the vocabulary rank is a global sort over DISTINCT tokens —
  * O(|vocab|), not O(corpus); at 100 TB the vocabulary is still orders of
  * magnitude smaller than the data and broadcast back. Everything downstream
  * is hash-partitioned: signatures shuffle on (doc, hash-index), LSH buckets
  * on band key, verification joins only candidate pairs.
  */
object TierFour {

  /** 2^31−1, prime: modulus for all affine hash families. */
  private[operators] val P = 2147483647L
  /** Knuth's multiplicative constant / a second odd constant: seeds for the
    * i-th hash `a_i=(A0·(i+1)) mod P`, `b_i=(B0·(i+1)) mod P`. */
  private[operators] val A0 = 2654435761L
  private[operators] val B0 = 40503L

  import TextOps.{tok, vocab}

  private[operators] def tokSqlFrom(rel: String) =
    s"""tok AS (
       |  SELECT DISTINCT doc_id, token FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM $rel)
       |  WHERE token <> ''),
       |vocab AS (
       |  SELECT token, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS tid
       |  FROM (SELECT DISTINCT token FROM tok)),
       |tokid AS (SELECT doc_id, tid FROM tok JOIN vocab USING (token))""".stripMargin

  private[operators] val tokSql = tokSqlFrom("documents")

  /** q26's oracle SQL over an arbitrary (doc_id, text) relation `rel` —
    * q26 instantiates it on `documents`, q53 on its exact-dedup-survivor
    * CTE (the production ordering the degenerate-bucket caveat below
    * prescribes). */
  def minhashSql(rel: String): String =
    s"""WITH ${tokSqlFrom(rel)},
       |perm AS (
       |  SELECT i, ($A0*(i+1)) % $P AS a, ($B0*(i+1)) % $P AS b
       |  FROM (SELECT unnest(range(32)) AS i)),
       |sig AS (
       |  SELECT doc_id, i, min((a*tid + b) % $P) AS mh
       |  FROM tokid CROSS JOIN perm GROUP BY 1, 2),
       |band AS (
       |  SELECT doc_id, i // 4 AS band,
       |         sum(mh * CASE i % 4 WHEN 0 THEN 2248091 WHEN 1 THEN 17161
       |                             WHEN 2 THEN 131 ELSE 1 END) % $P AS bkey
       |  FROM sig GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM band x JOIN band y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n FROM tokid GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
       |  FROM cand c
       |  JOIN tokid x ON x.doc_id = c.doc_a
       |  JOIN tokid y ON y.doc_id = c.doc_b AND y.tid = x.tid
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM (
       |  SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
       |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b)
       |WHERE j >= 0.6 ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash + LSH near-duplicate detection — the 100 TB path for what
    * [[TierThree.q23]] computes exactly. 32-permutation signature, banded
    * 8×4: docs agreeing on all 4 minhashes of any band become candidates,
    * then ONLY candidates are verified with exact Jaccard ≥ 0.6. The full
    * token self-join never happens: candidate generation is a groupBy on
    * (band, band-signature) — shuffle O(docs·bands), and verification cost
    * is O(candidates·tokens-per-doc).
    *
    * The band signature is ONE BIGINT — the 4 minhashes combined by a
    * base-131 polynomial mod P (sum(mh·131^(3−pos)) % P, max 4·P·131³ <
    * 2^63) — not a CSV string: the shuffle key is 8 bytes instead of ~80,
    * and each doc's 8 band hashes travel the self-join as an
    * ARRAY<BIGINT>. A polynomial collision would only ADD a candidate pair
    * (then exact-verified), and the oracle computes the identical BIGINT,
    * so even collision-born candidates agree across engines.
    *
    * Degenerate-bucket caveat (100 TB): K docs sharing a band key emit
    * K²/2 candidates from that bucket — inherent to LSH, worst when the
    * corpus carries many EXACT duplicates (identical docs share all 8
    * bands). The production mitigation is pipeline ordering, not a result-
    * changing cap: exact dedup first (q22 / the q53 apply step), so only
    * distinct documents reach the sketch. Verification cost stays bounded
    * per pair (one bit_count) either way.
    */
  val q26 = Q("q26_minhash_lsh", minhashSql("documents")) { (s, dir) =>
    minhashPairs(tok(s, dir))
  }

  /** q26's full Spark pipeline (signature → banded LSH buckets → exact
    * verification) over an arbitrary distinct (doc_id, token) relation —
    * see [[q26]]'s scaladoc for the plan rationale. q53 feeds it the
    * exact-dedup survivors.
    *
    * The no-arg overload leaks its four internal persists by design —
    * correct under Verify/Bench's per-query sweep. Library pipelines that
    * must release ([[Dedup.deduplicate]]'s two-argument form) pass their
    * [[Pins]].
    */
  def minhashPairs(t0: DataFrame): DataFrame = minhashPairs(t0, new Pins)

  def minhashPairs(t0: DataFrame, pins: Pins): DataFrame = {
    // t feeds BOTH the vocabulary rank and the tokid join — uncached, the
    // corpus tokenize + distinct shuffle would execute twice (and three of
    // the dedup queries embed this whole pipeline)
    val t = pins(t0)
    val v = pins(TextOps.vocab(t)) // read by the dispatch count AND the tokid join
    minhashPairsOver(t, v, pins)
  }

  /** [[minhashPairs]] over a caller-prepared token relation and vocabulary
    * — `t` and `v` (`t`'s distinct tokens ranked by [[TextOps.vocab]])
    * must already be pinned: the dispatch counts `v` and the tokid join
    * reads it again. Lets a composed build ([[Dedup.artifacts]])
    * share ONE corpus tokenize + vocabulary rank across the detector and
    * the classifier scores instead of ranking the same dictionary twice
    * (r15). */
  private[operators] def minhashPairsOver(t: DataFrame, v: DataFrame,
      pins: Pins): DataFrame =
    minhashPairsUnsortedOver(t, v, pins).orderBy("doc_a", "doc_b")

  /** [[minhashPairsOver]] WITHOUT the final `ORDER BY (doc_a, doc_b)` —
    * the detector relation itself (r16). q26's declared output keeps the
    * sort; consumers that are order-free (Components' clustering, the
    * leakage/savings aggregations, the [[Dedup.Artifacts]] pin) read this
    * handle so the global range-sort of the pair set is never computed
    * for them (at 10× the sort WAS most of the a01 build's noop cost —
    * OPTIMIZATION_r15 "not yet optimized" #2). */
  private[graft] def minhashPairsUnsortedOver(t: DataFrame, v: DataFrame,
      pins: Pins): DataFrame = {
    val tokid = pins(TextOps.tokid(t, v)) // feeds signatures AND verification
    val bkeys = bandKeys(tokid)
    def selfJoinPairs(postings: DataFrame,
        extra: Seq[(String, String, String)]): DataFrame =
      bandJoinPairs(postings, postings, ordered = true, extra)
    // Verification: per-candidate set intersection WITHOUT a token-join row
    // explosion — bitmask `bit_count(ma & mb)` when the vocabulary fits in
    // 64 bits, sorted-array `array_intersect` otherwise (both O(set) per
    // pair; the naive cand⋈tokens⋈tokens join was the r02 bench hotspot).
    val verified =
      // dispatch counts the caller's pinned vocab (O(|vocab|) cached), not
      // the corpus — or the spark.graft.vocabHint pin
      if (TextOps.smallVocab(v)) {
        // small-dictionary fast path: the mask is 16 B/doc, so it rides the
        // postings THROUGH the bucket self-join — candidate pairs exit the
        // join already carrying both sides' masks, and verification is a
        // pure codegen'd projection with ZERO attach joins. (Attaching
        // masks by joining on doc_a/doc_b afterwards shuffled the
        // ~10^7-row candidate stream twice — the dominant q26 cost.)
        val postings = pins(bkeys.join(TextOps.tokenMasks(tokid), "doc_id")
          .select(col("doc_id"), col("ks"), col("mask"), col("n"),
            posexplode(col("ks")).as(Seq("band", "bkey"))))
        selfJoinPairs(postings,
            Seq(("mask", "ma", "mb"), ("n", "na", "nb")))
          .withColumn("i", expr("cast(bit_count(ma & mb) as bigint)"))
      } else {
        // generic path: token arrays are per-doc and unbounded — too wide
        // to ride the ×8-band posting shuffle, so candidates attach them
        // via shuffle joins on doc id (the correct 100 TB shape; AQE still
        // converts to broadcast at runtime when the measured size allows)
        val postings = pins(bkeys.select(col("doc_id"), col("ks"),
          posexplode(col("ks")).as(Seq("band", "bkey"))))
        val cand = selfJoinPairs(postings, Nil).select(col("doc_a"), col("doc_b"))
        val m = pins(TextOps.tokenArrays(tokid))
        cand
          .join(m.select(col("doc_id").as("doc_a"), col("tids").as("ta"), col("n").as("na")), "doc_a")
          .join(m.select(col("doc_id").as("doc_b"), col("tids").as("tb"), col("n").as("nb")), "doc_b")
          .withColumn("i", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      }
    verified
      .withColumn("j", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("j") >= 0.6)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("jaccard"))
  }

  /** Each doc's 8 banded LSH keys as `(doc_id, ks ARRAY<BIGINT>)`.
    *
    * All 32 minhashes as 32 min-aggregate COLUMNS in one groupBy — ONE
    * shuffle of |tokid| rows, vs the crossJoin(32 perms) formulation which
    * explodes tokid ×32 and shuffles twice more ((doc,i) agg + per-doc
    * collect). Identical values: mh_i = min((a_i·tid + b_i) mod P). The 8
    * band keys are projections over the signature columns: base-131
    * polynomial with position weight 131^(3−pos) — max 4·P·131³ < 2^63 —
    * so each key is ONE BIGINT, not a CSV string (8-byte shuffle key), and
    * the ordered ks array is what the first-matching-band predicate of
    * [[bandJoinPairs]] reads. Shared by [[minhashPairs]] (self-join dedup)
    * and [[SigIndex]] (persisted-index build + probe). */
  private[graft] def bandKeys(tokid: DataFrame): DataFrame = {
    val mhCols = (0 until 32).map { i =>
      val a = (A0 * (i + 1)) % P
      val b = (B0 * (i + 1)) % P
      min((lit(a) * col("tid") + lit(b)) % P).as(s"mh$i")
    }
    val sig = tokid.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
    val w = Seq(2248091L, 17161L, 131L, 1L)
    val bandCols = (0 until 8).map { bnd =>
      ((0 until 4).map(p => col(s"mh${bnd * 4 + p}") * w(p)).reduce(_ + _) % P)
        .as(s"bk$bnd")
    }
    sig.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        array((0 until 8).map(b => col(s"bk$b")): _*).as("ks"))
  }

  /** Bucket join over two exploded posting frames (columns `doc_id, ks,
    * band, bkey` plus any `extra` payloads riding the postings — `(src,
    * aliasOnA, aliasOnB)` triples). Pairs are emitted ONLY from their
    * FIRST matching band ("no earlier band matched", unrolled to 7
    * codegen'd long comparisons over the carried ks arrays) — exactly-once
    * semantics with NO distinct afterwards. (A pair matching k bands would
    * otherwise surface k times; deduping those ~5·10^7 rows was the
    * measured r02 hotspot.) The equi-join on (band, bkey) shuffles only
    * the O(docs·bands) postings; the emitted pairs stream OUT of the join
    * unshuffled. `ordered = true` is the self-join form (doc_a < doc_b);
    * `ordered = false` is the two-corpus form (disjoint id sets, e.g.
    * probing new docs against a persisted index) where only self-pairs are
    * excluded. */
  private[graft] def bandJoinPairs(x0: DataFrame, y0: DataFrame,
      ordered: Boolean, extra: Seq[(String, String, String)]): DataFrame = {
    val x = x0.select(Seq(col("doc_id").as("doc_a"), col("ks").as("ka"),
      col("band"), col("bkey")) ++ extra.map { case (c, a, _) => col(c).as(a) }: _*)
    val y = y0.select(Seq(col("doc_id").as("doc_b"), col("ks").as("kb"),
      col("band").as("band_b"), col("bkey").as("bkey_b"))
      ++ extra.map { case (c, _, b) => col(c).as(b) }: _*)
    val earlierBandMatched = (0 until 7)
      .map(b => col("band") > b &&
        element_at(col("ka"), b + 1) === element_at(col("kb"), b + 1))
      .reduce(_ || _)
    val pairPred =
      if (ordered) col("doc_a") < col("doc_b") else col("doc_a") =!= col("doc_b")
    x.join(y,
      col("band") === col("band_b") && col("bkey") === col("bkey_b") &&
        pairPred && !earlierBandMatched)
  }

  /** 63-bit SimHash signature per document (bit 63 unused: the signature
    * stays a non-negative BIGINT in both engines). Bit j of a token is bit 0
    * of the j-th affine hash of its tid; each bit position accumulates
    * ±token-frequency and the signature takes the sign. Near-dup use: equal
    * or low-Hamming signatures (`bit_count(xor)`) — the signature itself is
    * the oracle-checked artifact.
    */
  /** q27's signature computation as an embeddable SELECT (no ORDER BY) —
    * q27 orders it; [[TierSeven.q59]] embeds it as its `sigs` CTE. */
  val simhashSelect: String =
    s"""WITH $tokSql,
       |cnts AS (
       |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
       |  WHERE token <> '' GROUP BY 1, 2),
       |cntid AS (SELECT doc_id, tid, cnt FROM cnts JOIN vocab USING (token)),
       |bits AS (SELECT unnest(range(63)) AS j),
       |s AS (
       |  SELECT doc_id, j,
       |         sum(cnt * (2 * ((($A0*(j+1)) % $P * tid + ($B0*(j+1)) % $P) % $P % 2) - 1)) AS acc
       |  FROM cntid CROSS JOIN bits GROUP BY 1, 2)
       |SELECT doc_id,
       |       CAST(sum(CASE WHEN acc > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS simhash
       |FROM s GROUP BY doc_id""".stripMargin

  val q27 = Q("q27_simhash",
    s"""$simhashSelect ORDER BY doc_id""") { (s, dir) =>
    simhashSigs(s, dir).orderBy("doc_id")
  }

  /** q27's Spark pipeline, unordered — (doc_id, simhash BIGINT). */
  def simhashSigs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val cnts = d.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
    val v = vocab(cnts)
    val cntid = cnts.join(broadcast(v), "token").select("doc_id", "tid", "cnt")
    // 63 bit accumulators as 63 sum-aggregate COLUMNS in one groupBy — one
    // shuffle of |cntid| rows instead of the crossJoin(63 bits) explosion.
    // acc_j = Σ cnt·(2·bit_j(tid) − 1), bit_j = (a_j·tid + b_j) mod P mod 2.
    val accCols = (0 until 63).map { j =>
      val a = (A0 * (j + 1)) % P
      val b = (B0 * (j + 1)) % P
      sum(col("cnt") * (((lit(a) * col("tid") + lit(b)) % P % 2) * 2 - 1)).as(s"acc$j")
    }
    cntid.groupBy("doc_id").agg(accCols.head, accCols.tail: _*)
      .select(col("doc_id"),
        (0 until 63).map(j => when(col(s"acc$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** Word-bigram (2-shingle) Jaccard near-dup at ≥ 0.8 — n-gram variant of
    * q23: shingling discriminates ordering that bag-of-tokens misses, so the
    * threshold can sit higher and the candidate space is far sparser.
    * Shingles are built positionally from the split array (list_transform /
    * `transform` over the index range — no window function, no per-row
    * state), so shingling is embarrassingly parallel at any scale.
    *
    * Spark plan: PPJoin-style prefix filtering. Shingles get dense ids
    * ordered rarest-first (document frequency ASC); for J ≥ 4/5 two docs
    * must share one of their first `n − ⌈4n/5⌉ + 1` rarest shingles, so the
    * candidate join runs on that ~20% prefix (of the RAREST postings — the
    * skewed hot shingles never enter the join), then candidates are
    * verified exactly with one `array_intersect` per pair. Same output as
    * the oracle's full self-join, at a fraction of the join volume — this
    * is the standard exact-set-similarity plan at scale.
    */
  val q28 = Q("q28_ngram_jaccard",
    """WITH arr AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id, unnest(list_transform(range(len(l) - 1),
      |      k -> l[k+1] || ' ' || l[k+2])) AS shingle FROM arr)),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM (
      |  SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
      |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b)
      |WHERE j >= 0.8 ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    ngramJaccardStages(s, dir)._2
  }

  /** q28's pipeline with the candidate stage exposed — `(candidates,
    * verified)` — so the PPJoin pruning invariant is spec-gated
    * (OperatorSpec, VERDICT r7 item #4): the prefix filter must emit each
    * qualifying pair exactly once and keep the candidate set within a
    * small factor of the verified output, or a hot shingle is flooding the
    * verification join and the 100 TB plan has silently degraded to
    * near-all-pairs.
    */
  private[graft] def ngramJaccardStages(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val arr = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => x =!= "").as("l"))
    // size(l) < 2 ⇒ no bigrams; guard BEFORE sequence() — sequence(0, -1)
    // descends and element_at(l, 0) throws, where the oracle's range() is
    // simply empty.
    val sh = arr.filter(size(col("l")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("l")) - 2),
          k => concat_ws(" ", element_at(col("l"), k + 1), element_at(col("l"), k + 2))))
          .as("shingle"))
      .distinct()
      .persist() // feeds the shingle-df rank AND the sid join — one corpus pass, not two
    // dense shingle ids rarest-first + sorted-sid arrays — the shared
    // sh → arrs builder (TextOps.shingleArrays: two-pass rank, never a
    // single-partition window; same frame q284 builds)
    val arrs = TextOps.shingleArrays(sh).persist()
    ngramJaccardOverArrs(arrs)
  }

  /** q28's candidate + verify stages over prebuilt rarest-first arrays —
    * the extracted face the shared-build bench sweep drives with
    * [[TierHundredTwo.BigramArtifacts.arrs]] (BenchFacesSpec pins face ≡
    * declared query). */
  private[graft] def ngramJaccardOverArrs(
      arrs: DataFrame): (DataFrame, DataFrame) = {
    // prefix-filter candidates: share one of the first n−⌈4n/5⌉+1 rarest
    // sids. posexplode keeps the position and the prefix slice itself, so
    // the join predicate can demand "no EARLIER shared prefix element"
    // (prefixes are sorted ascending; the earlier-elements slices are
    // disjoint iff this is the first shared sid) — each candidate pair
    // surfaces exactly once, no .distinct() shuffle on the join output.
    val prefix = arrs
      .select(col("doc_id"), col("n"),
        expr("slice(sids, 1, cast(n - floor((4*n + 4) / 5) + 1 as int))").as("pre"))
      .select(col("doc_id"), col("n"), col("pre"),
        posexplode(col("pre")).as(Seq("pos", "sid")))
    val xp = prefix.select(col("doc_id").as("doc_a"), col("n").as("na0"),
      col("pre").as("pa"), col("pos").as("pos_a"), col("sid"))
    val yp = prefix.select(col("doc_id").as("doc_b"), col("n").as("nb0"),
      col("pre").as("pb"), col("pos").as("pos_b"), col("sid").as("sid_b"))
    // prefix match + length filter: J ≥ 4/5 ⇒ 5·min(|A|,|B|) ≥ 4·max(|A|,|B|)
    // + PPJoin POSITIONAL filter: J ≥ 4/5 needs overlap α ≥ ⌈4(na+nb)/9⌉,
    // and at the FIRST shared element (0-based pos) the overlap is capped
    // by 1 + min(na−pos_a−1, nb−pos_b−1) = min(na−pos_a, nb−pos_b) — so
    // 9·min(na−pos_a, nb−pos_b) < 4·(na+nb) kills the candidate inside the
    // join predicate (integer compare, pure codegen), BEFORE the
    // arrays_overlap residual ever allocates its slices (And
    // short-circuits), and before array_intersect verification.
    val cand = xp.join(yp,
        col("sid") === col("sid_b") && col("doc_a") < col("doc_b")
          && col("na0") * 5 >= col("nb0") * 4 && col("nb0") * 5 >= col("na0") * 4
          && least(col("na0") - col("pos_a"), col("nb0") - col("pos_b")) * 9
             >= (col("na0") + col("nb0")) * 4
          && !arrays_overlap(
            slice(col("pa"), lit(1), col("pos_a")),
            slice(col("pb"), lit(1), col("pos_b"))))
      .select(col("doc_a"), col("doc_b"))
    val verified = cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("sids").as("sa"), col("n").as("na")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("sids").as("sb"), col("n").as("nb")), "doc_b")
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("j", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("j") >= 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
    (cand, verified)
  }

  /** Hyperplane-LSH bucketed ANN — the scale path for [[TierThree.q24]]:
    * 4 deterministic pseudo-random hyperplanes → 16 sign buckets; the query
    * only scans its own bucket (expected 1/16 of the table; at 100 TB the
    * bucket id is the partition/cluster key so a probe touches one
    * partition). Exactness traded for pruning: recall vs q24 is what the
    * ScalaTest asserts.
    */
  val q29 = Q("q29_ann_lsh",
    """WITH planes AS (
      |  SELECT p, list_transform(range(64),
      |    j -> CAST((((p+1)*2654435761 + (j+1)*40503) % 1009) - 504 AS DOUBLE)) AS r
      |  FROM (SELECT unnest(range(4)) AS p)),
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |bits AS (
      |  SELECT vec_id, p, CASE WHEN list_dot_product(e, r) >= 0 THEN 1 ELSE 0 END AS bit
      |  FROM v CROSS JOIN planes),
      |bkt AS (SELECT vec_id, CAST(sum(bit * (1 << p)) AS BIGINT) AS bucket FROM bits GROUP BY 1),
      |q AS (SELECT v.e AS qv, bkt.bucket AS qb FROM v JOIN bkt USING (vec_id) WHERE vec_id = 0)
      |SELECT vec_id, round(
      |    list_dot_product(e, qv) /
      |    (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
      |FROM v JOIN bkt USING (vec_id) CROSS JOIN q
      |WHERE bkt.bucket = qb AND vec_id <> 0
      |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
    Ann.lshTopK(s, dir, multiProbe = false)
  }

  /** Language identification by corpus-derived frequency profiles, all in
    * integer arithmetic: profile weight = per-language token count scaled by
    * 10^6 and integer-divided by the language's total token mass (so big
    * languages don't win on volume); a document's score per candidate
    * language is Σ tokcnt·weight (BIGINT); argmax with tie → language ASC.
    * Output: per true language, docs and correctly-identified docs.
    * (No floats anywhere — log-prob scoring would hash-diverge across
    * engines' libm.)
    */
  val q30 = Q("q30_language_id",
    """WITH cnts AS (
      |  SELECT doc_id, lang, token, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE token <> '' GROUP BY 1, 2, 3),
      |prof AS (
      |  SELECT lang, token, (sum(cnt) * 1000000) // (sum(sum(cnt)) OVER (PARTITION BY lang)) AS w
      |  FROM cnts GROUP BY lang, token),
      |score AS (
      |  SELECT c.doc_id, c.lang AS true_lang, p.lang AS cand, sum(c.cnt * p.w) AS s
      |  FROM cnts c JOIN prof p ON c.token = p.token GROUP BY 1, 2, 3),
      |pred AS (
      |  SELECT doc_id, true_lang, cand,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, cand ASC) AS rn
      |  FROM score)
      |SELECT true_lang AS lang, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN cand = true_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
      |FROM pred WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val cnts = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "lang", "token").agg(count(lit(1)).as("cnt"))
    val prof = cnts.groupBy("lang", "token").agg(sum("cnt").as("c"))
      .withColumn("w", expr("(c * 1000000) div sum(c) over (partition by lang)"))
      .select(col("lang").as("cand"), col("token"), col("w"))
    // profile is O(|vocab|·langs) — broadcast-sized; without the hint the
    // planner is free to shuffle BOTH sides on the skewed token key
    val score = cnts.join(broadcast(prof), "token")
      .groupBy(col("doc_id"), col("lang").as("true_lang"), col("cand"))
      .agg(sum(col("cnt") * col("w")).as("s"))
    val rank = Window.partitionBy("doc_id").orderBy(col("s").desc, col("cand").asc)
    score.withColumn("rn", row_number().over(rank)).filter(col("rn") === 1)
      .groupBy(col("true_lang").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cand") === col("true_lang"), 1L).otherwise(0L)).as("n_correct"))
      .orderBy("lang")
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Per-document quality scoring: token count, stopword ratio, mean token
    * length, whitespace ratio, and an integer quality score (0-3) from
    * pinned thresholds — the standard pre-training corpus filters
    * (length / stopword / punctuation heuristics), all codegen'd scalar
    * expressions, embarrassingly parallel.
    */
  val q31 = Q("q31_quality_score",
    s"""SELECT doc_id,
       |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
       |  round(CAST(len(list_filter(string_split(text, ' '),
       |      x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
       |    / nullif(len(list_filter(string_split(text, ' '), x -> x <> '')), 0), 6) AS stop_ratio,
       |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |    / nullif(len(list_filter(string_split(text, ' '), x -> x <> '')), 0), 6) AS avg_token_len,
       |  round(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
       |    / nullif(length(text), 0), 6) AS space_ratio,
       |  CAST((CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> '')) BETWEEN 20 AND 400 THEN 1 ELSE 0 END)
       |     + (CASE WHEN CAST(len(list_filter(string_split(text, ' '),
       |          x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
       |          / nullif(len(list_filter(string_split(text, ' '), x -> x <> '')), 0) <= 0.2 THEN 1 ELSE 0 END)
       |     + (CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |          / nullif(len(list_filter(string_split(text, ' '), x -> x <> '')), 0) BETWEEN 3 AND 8 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS quality
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // nullif both divisors on BOTH sides: Spark's non-ANSI x/0 is NULL while
    // DuckDB's IEEE float division yields inf/NaN — an empty or
    // all-whitespace doc would hash-diverge without the shared guard (NULL
    // ratios, and NULL comparisons fall to the CASE's ELSE 0 identically).
    val nullif0 = (c: Column) => when(c === 0, lit(null)).otherwise(c)
    val toks = filter(split(col("text"), " "), x => x =!= "")
    val nTok = nullif0(size(toks).cast("double"))
    val nStop = size(filter(split(col("text"), " "), x => x.isin(stopwords: _*))).cast("double")
    val noSpace = length(regexp_replace(col("text"), " ", "")).cast("double")
    val stopRatio = nStop / nTok
    val avgLen = noSpace / nTok
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        round(stopRatio, 6).as("stop_ratio"),
        round(avgLen, 6).as("avg_token_len"),
        round((length(col("text")).cast("double") - noSpace)
          / nullif0(length(col("text")).cast("double")), 6)
          .as("space_ratio"),
        qualityCol(col("text")).as("quality"))
      .orderBy("doc_id")
  }

  /** q31's 0–3 quality score as a pure per-row Column — the STATELESS form
    * a streaming ingest gate applies before the expensive screens (s22);
    * the declared q31 pins the identical arithmetic (plus the ratio
    * breakdown) against the oracle. Gates: 20–400 tokens, stopword ratio
    * ≤ 0.2, mean token length 3–8. */
  def qualityCol(text: Column): Column = {
    val nullif0 = (c: Column) => when(c === 0, lit(null)).otherwise(c)
    val toks = filter(split(text, " "), x => x =!= "")
    val nTok = nullif0(size(toks).cast("double"))
    val stopRatio =
      size(filter(split(text, " "), x => x.isin(stopwords: _*))).cast("double") / nTok
    val avgLen = length(regexp_replace(text, " ", "")).cast("double") / nTok
    (when(size(toks).between(20, 400), 1).otherwise(0)
      + when(stopRatio <= 0.2, 1).otherwise(0)
      + when(avgLen.between(3, 8), 1).otherwise(0)).cast("long")
  }

  /** Token counting three ways: whitespace tokens, a BPE-ish regex pass
    * (runs of letters / digits / single other symbols — the pre-tokenizer
    * shape real BPE vocabularies use), and the chars/4 estimate used for
    * quick corpus sizing. Pure scalar projections — the 100 TB plan is a
    * single codegen'd map stage with the projection pushed to the scan.
    */
  val q32 = Q("q32_token_count",
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
      |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        size(filter(split(col("text"), " "), x => x =!= "")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("bpe_tokens"),
        ceil(length(col("text")) / 4.0).cast("long").as("est_tokens"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting by 3-token rolling hash with mod-16 winnowing:
    * shingle hash h = (tid1·131² + tid2·131 + tid3) mod P over vocabulary
    * ids; the fingerprint artifact per doc is (min hash, distinct shingles,
    * winnowed count — hashes ≡ 0 mod 16, the ~1/16 deterministic sample a
    * plagiarism/copy detector stores). Shingles built positionally from the
    * split array (no window functions), then three broadcast-sized
    * vocabulary joins.
    */
  /** Distinct per-doc trigram rolling hashes — q33's fingerprint base and
    * q103's winnowed pair-join input: h = (tid1·131² + tid2·131 + tid3)
    * mod P over vocabulary ids, one row per distinct (doc_id, h).
    * Distinct-first so downstream aggregates stay single-shuffle (two
    * countDistinct in one agg would plan an Expand ×3 row multiplication —
    * pre-deduping keeps one narrow shuffle with identical counts). */
  private[operators] def trigramHashes(s: SparkSession, dir: String): DataFrame = {
    val t = tok(s, dir)
    val v = vocab(t).persist() // broadcast three times (t1/t2/t3 joins)
    val arr = Tables.load(s, dir, "documents")
      .select(col("doc_id"), filter(split(col("text"), " "), x => x =!= "").as("l"))
    // size(l) < 3 ⇒ no trigrams; same short-doc guard as q28 (sequence()
    // would descend and element_at(l, 0) throws).
    val sh = arr.filter(size(col("l")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("l")) - 3),
          k => concat_ws("|", element_at(col("l"), k + 1), element_at(col("l"), k + 2),
            element_at(col("l"), k + 3)))).as("sgl"))
      .select(col("doc_id"),
        split_part(col("sgl"), lit("|"), lit(1)).as("t1"),
        split_part(col("sgl"), lit("|"), lit(2)).as("t2"),
        split_part(col("sgl"), lit("|"), lit(3)).as("t3"))
    sh
      .join(broadcast(v.select(col("token").as("t1"), col("tid").as("tid1"))), "t1")
      .join(broadcast(v.select(col("token").as("t2"), col("tid").as("tid2"))), "t2")
      .join(broadcast(v.select(col("token").as("t3"), col("tid").as("tid3"))), "t3")
      .select(col("doc_id"),
        ((col("tid1") * 131 * 131 + col("tid2") * 131 + col("tid3")) % P).as("h"))
      .distinct()
  }

  val q33 = Q("q33_fingerprint",
    s"""WITH $tokSql,
       |arr AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, split_part(sgl, '|', 1) AS t1, split_part(sgl, '|', 2) AS t2,
       |         split_part(sgl, '|', 3) AS t3
       |  FROM (
       |    SELECT doc_id, unnest(list_transform(range(len(l) - 2),
       |      k -> l[k+1] || '|' || l[k+2] || '|' || l[k+3])) AS sgl FROM arr)),
       |h AS (
       |  SELECT doc_id, (v1.tid*131*131 + v2.tid*131 + v3.tid) % $P AS h
       |  FROM sh JOIN vocab v1 ON v1.token = t1
       |          JOIN vocab v2 ON v2.token = t2
       |          JOIN vocab v3 ON v3.token = t3)
       |SELECT doc_id, CAST(min(h) AS BIGINT) AS fp_min,
       |       CAST(count(DISTINCT h) AS BIGINT) AS n_shingles,
       |       CAST(count(DISTINCT CASE WHEN h % 16 = 0 THEN h END) AS BIGINT) AS n_winnowed
       |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    trigramHashes(s, dir).groupBy("doc_id")
      .agg(min("h").as("fp_min"),
        count(lit(1)).as("n_shingles"),
        count(when(col("h") % 16 === 0, lit(1))).as("n_winnowed"))
      .orderBy("doc_id")
  }

  /** Multimodal column plumbing, oracle-checkable slice: treat each
    * document's UTF-8 bytes as an opaque binary asset (the corpus ships no
    * real media; `encode(text)` stands in for image bytes — see
    * [[graft.multimodal.Multimodal]] for the typed decode/feature pipeline
    * with the stubbed codec). This query proves the binary column path:
    * byte length, content fingerprint (md5 of the bytes), and deterministic
    * fake decode metadata derived from the byte stream.
    */
  val q34 = Q("q34_multimodal_meta",
    """SELECT doc_id AS asset_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  substr(md5(text), 1, 8) AS fingerprint,
      |  CAST(octet_length(encode(text)) % 640 + 16 AS BIGINT) AS width,
      |  CAST(octet_length(encode(text)) % 480 + 16 AS BIGINT) AS height,
      |  CAST(octet_length(encode(text)) % 30 + 1 AS BIGINT) AS n_frames
      |FROM documents ORDER BY asset_id""".stripMargin) { (s, dir) =>
    val bytes = col("text").cast("binary")
    val nBytes = length(bytes).cast("long")
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id").as("asset_id"),
        nBytes.as("n_bytes"),
        substring(md5(bytes), 1, 8).as("fingerprint"),
        (nBytes % 640 + 16).as("width"),
        (nBytes % 480 + 16).as("height"),
        (nBytes % 30 + 1).as("n_frames"))
      .orderBy("asset_id")
  }

  val all: Seq[Q] = Seq(q26, q27, q28, q29, q30, q31, q32, q33, q34)
}
