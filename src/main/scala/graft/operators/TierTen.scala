package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Tier 10 — round-6 close-out: the corpus LIFECYCLE operators around the
  * dedup/filter/mix core — diffing two corpus snapshots (the incremental-
  * training question "what changed since the last crawl?"), carving the
  * deterministic train/valid/test split, profiling sources for the mixing
  * decision, and measuring cross-document boilerplate. Determinism follows
  * the established conventions: affine-modular integer hashing
  * ([[TierFour.A0]] family), integer `div` means/ratios, pinned orders,
  * content compared through sha-256 digests that both engines compute
  * identically.
  */
object TierTen {
  import TierFour.{A0, B0, P}

  /** Corpus snapshot diff — the incremental-training primitive: given the
    * PREVIOUS snapshot and the CURRENT one, classify every document as
    * added / removed / modified / unchanged and count per language. The
    * fixtures derive both snapshots deterministically from `documents`
    * (old = ids ∉ 5ℤ, new = ids ∉ 7ℤ, every 11th doc edited in new), so
    * the oracle pins all four classes.
    *
    * Scale: this is the inventory's one FULL OUTER join, and the shape is
    * what survives 100 TB — each side projects to `(doc_id, lang, digest)`
    * BEFORE the join, so the shuffle carries 32-byte sha-256 digests
    * instead of document bodies, and the join key is the id (hash
    * partition, no skew: ids are unique per side). Comparing digests
    * instead of bodies is exactly the q22 exact-dedup convention.
    */
  val q74 = Q("q74_snapshot_diff",
    """WITH old AS (
      |  SELECT doc_id, lang, sha256(text) AS h FROM documents WHERE doc_id % 5 <> 0),
      |new AS (
      |  SELECT doc_id, lang,
      |         sha256(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS h
      |  FROM documents WHERE doc_id % 7 <> 0),
      |j AS (
      |  SELECT coalesce(o.lang, n.lang) AS lang,
      |         CASE WHEN o.doc_id IS NULL THEN 'added'
      |              WHEN n.doc_id IS NULL THEN 'removed'
      |              WHEN o.h <> n.h THEN 'modified'
      |              ELSE 'unchanged' END AS status
      |  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
      |SELECT lang, status, CAST(count(*) AS BIGINT) AS n_docs
      |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("o_id"), col("lang").as("o_lang"),
        sha2(col("text"), 256).as("o_h"))
    val nw = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id").as("n_id"), col("lang").as("n_lang"),
        sha2(when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")), 256).as("n_h"))
    old.join(nw, col("o_id") === col("n_id"), "full_outer")
      .select(coalesce(col("o_lang"), col("n_lang")).as("lang"),
        when(col("o_id").isNull, "added")
          .when(col("n_id").isNull, "removed")
          .when(col("o_h") =!= col("n_h"), "modified")
          .otherwise("unchanged").as("status"))
      .groupBy("lang", "status").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "status")
  }

  /** Deterministic train/valid/test split — 98/1/1 by affine hash of
    * doc_id into 1000 buckets. Unlike q48 (flat sample) and q71 (weighted
    * rates), a SPLIT must PARTITION the corpus: every document lands in
    * exactly one split, assignments survive retries/re-runs/cluster moves
    * (pure codegen'd arithmetic, no randomness, no sort), and adding data
    * never moves an existing document between splits — the property that
    * keeps eval sets uncontaminated across corpus versions. Per-split ×
    * language counts are the sanity dashboard (the split should be
    * language-balanced because the hash ignores language).
    */
  val q75 = Q("q75_train_test_split",
    s"""WITH b AS (
       |  SELECT lang, ((doc_id % $P) * $A0 + $B0) % $P % 1000 AS bkt
       |  FROM documents),
       |s AS (
       |  SELECT lang, CASE WHEN bkt < 980 THEN 'train'
       |                    WHEN bkt < 990 THEN 'valid'
       |                    ELSE 'test' END AS split
       |  FROM b)
       |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs
       |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("lang"),
        (((col("doc_id") % P) * A0 + B0) % P % 1000).as("bkt"))
      .select(col("lang"),
        when(col("bkt") < 980, "train")
          .when(col("bkt") < 990, "valid")
          .otherwise("test").as("split"))
      .groupBy("split", "lang").agg(count(lit(1)).as("n_docs"))
      .orderBy("split", "lang")
  }

  /** Per-source corpus profile — the input to every mixing/quota decision
    * (q64/q71 consume caps and rates; THIS is where they come from): doc
    * count, total/mean size, language spread, and the within-source exact-
    * duplicate count (docs minus distinct digests — a high-dup source gets
    * down-weighted or re-crawled). Mean is integer `div` (cross-engine
    * determinism); duplicates compare sha-256 digests, never bodies.
    *
    * Scale: one partial+final aggregation by source; the two DISTINCT
    * aggregates (lang, digest) expand the input ×2 before the shuffle —
    * the standard multi-distinct plan. Output is |sources| rows.
    */
  val q76 = Q("q76_source_stats",
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars,
      |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |       CAST(count(*) - count(DISTINCT sha256(text)) AS BIGINT) AS n_exact_dups
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        expr("sum(n_chars) div count(1)").as("mean_chars"),
        countDistinct("lang").as("n_langs"),
        (count(lit(1)) - countDistinct(sha2(col("text"), 256))).as("n_exact_dups"))
      .orderBy("source")
  }

  /** Cross-document boilerplate ratio — what fraction of each document is
    * made of 8-token shingles that ALSO appear in some other document
    * (headers, footers, templates — the stuff near-dup detectors miss when
    * whole documents differ but share furniture). Per doc: distinct-shingle
    * count and the shared share in ppm (integer `div`). Complements q49
    * (repetition WITHIN a doc) and q47 (overlap with a fixed eval set);
    * this is corpus-wide overlap.
    *
    * Scale: shingle → document-frequency is one partial+final agg keyed by
    * the shingle; the per-doc rollup joins each doc's distinct shingles
    * against that df table on the shingle (hash-partitioned both times —
    * at 100 TB replace the raw-string key with a 64-bit rolling hash, the
    * q33 fingerprint, to shrink the shuffle; semantics unchanged modulo
    * hash collisions). Docs under 8 tokens carry no shingles and are
    * excluded in both engines.
    */
  val q77 = Q("q77_boilerplate",
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i + 1, i + 8), ' ') AS sh
      |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 7)) AS i
      |        FROM t WHERE len(toks) >= 8)),
      |d AS (SELECT sh, count(*) AS df FROM s GROUP BY 1)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
      |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
      |         AS boilerplate_ppm
      |FROM s JOIN d USING (sh)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val sh = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        filter(split(col("text"), " "), t => t =!= "").as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 8), i -> array_join(slice(toks, i + 1, 8), ' '))"))
        .as("sh"))
      .distinct()
      .persist() // df counts AND the per-doc rollup read it
    val df = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    sh.join(df, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        expr("sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1000000 div count(1)")
          .as("boilerplate_ppm"))
      .orderBy("doc_id")
  }

  /** Cross-split decontamination — q75's split composed with q47's trigram
    * scan, against the corpus' OWN eval splits instead of a fixed benchmark
    * list: a train-split document is contaminated when it shares any word
    * trigram with any valid/test-split document, the leak that silently
    * inflates eval scores. Output: per-language train size and contaminated
    * count (the pipeline drops or rewrites those before packing).
    *
    * Scale: train-side shingles never collect anywhere; the eval shingle
    * set is ~2 % of the corpus (the split ratio) joined on the shingle —
    * AQE broadcasts it while it fits and degrades to a shuffle semi-join
    * when it doesn't, both correct (q47 is the broadcast-pinned tiny-eval
    * variant). Two narrow aggs, no Expand (q47's two-level lesson).
    */
  val q78 = Q("q78_split_decontaminate",
    s"""WITH b AS (
       |  SELECT doc_id, lang, text, ((doc_id % $P) * $A0 + $B0) % $P % 1000 AS bkt
       |  FROM documents),
       |tr AS (SELECT doc_id, lang, text FROM b WHERE bkt < 980),
       |ev AS (SELECT doc_id, text FROM b WHERE bkt >= 980),
       |et AS (
       |  SELECT DISTINCT t FROM (
       |    SELECT unnest(list_transform(range(len(l) - 2),
       |      k -> l[k+1] || ' ' || l[k+2] || ' ' || l[k+3])) AS t
       |    FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS l FROM ev))),
       |dt AS (
       |  SELECT DISTINCT doc_id, t FROM (
       |    SELECT doc_id, unnest(list_transform(range(len(l) - 2),
       |      k -> l[k+1] || ' ' || l[k+2] || ' ' || l[k+3])) AS t
       |    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
       |          FROM tr))),
       |cont AS (SELECT DISTINCT doc_id FROM dt JOIN et USING (t))
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_train,
       |       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM cont)
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
       |FROM tr GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val withSplit = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        (((col("doc_id") % P) * A0 + B0) % P % 1000).as("bkt"))
    val train = withSplit.filter(col("bkt") < 980)
    val evalT = TextOps.trigrams(withSplit.filter(col("bkt") >= 980), "doc_id", "text")
      .select("t").distinct()
    val contaminated = TextOps.trigrams(train, "doc_id", "text")
      .join(evalT, Seq("t"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("c", lit(1))
    train.join(contaminated, Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("n_contaminated"))
      .orderBy("lang")
  }

  /** Vocabulary coverage curve — the tokenizer-design question "how many
    * vocabulary entries cover X % of all token instances?" for X ∈
    * {50, 90, 99}: rank tokens by corpus frequency (ties on the token —
    * a total order) and report the minimal covering prefix size plus the
    * instances it covers. All-integer: inclusion test is
    * `(cum − freq)·100 < pct·total` (exclusive prefix still short of the
    * target), safe to ~9·10¹⁶ instances under the ×100 scaling.
    *
    * Scale: the cumulative sum over the frequency-ranked vocabulary runs
    * through [[Cumulative.runningSum]] — the two-pass distributed prefix
    * sum, NOT a partitionless window (a web corpus has 10⁹⁺ distinct
    * tokens); the 1-row total and the 3-row target table broadcast.
    */
  val q79 = Q("q79_vocab_coverage",
    """WITH f AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE token <> '' GROUP BY 1),
      |c AS (
      |  SELECT freq, sum(freq) OVER (ORDER BY freq DESC, token) AS cum FROM f),
      |t AS (SELECT sum(freq) AS total FROM f)
      |SELECT CAST(v.pct AS BIGINT) AS pct,
      |       CAST(count(CASE WHEN (cum - freq) * 100 < v.pct * total THEN 1 END) AS BIGINT)
      |         AS n_tokens,
      |       CAST(max(CASE WHEN (cum - freq) * 100 < v.pct * total THEN cum END) AS BIGINT)
      |         AS covered
      |FROM c CROSS JOIN t CROSS JOIN (VALUES (50), (90), (99)) AS v(pct)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val freq = Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val cum = Cumulative.runningSum(s, freq,
      Seq(col("freq").desc, col("token")), col("freq"), "cum").persist() // total + thresholds
    // the global total IS the last cumulative value — one agg over the
    // cached scan, no second tokenize pass
    val total = cum.agg(max("cum").as("total"))
    val targets = s.sql("SELECT * FROM VALUES (50L), (90L), (99L) AS t(pct)")
    cum.crossJoin(broadcast(total)).crossJoin(broadcast(targets))
      .groupBy("pct")
      .agg(
        count(when((col("cum") - col("freq")) * 100 < col("pct") * col("total"), 1))
          .as("n_tokens"),
        max(when((col("cum") - col("freq")) * 100 < col("pct") * col("total"), col("cum")))
          .as("covered"))
      .orderBy("pct")
  }

  /** The trained-IVF ANN served FROM ITS PERSISTED LAYOUT — q70's exact
    * semantics (same oracle SQL), but the probe reads the store a 100 TB
    * deployment would actually serve: [[TierNine.ivfIndex]] written
    * hive-partitioned by cell, so the nearest-cell filter is a PARTITION
    * filter and a probe costs one directory of I/O regardless of corpus
    * size (AnnRecallSpec gates `numFiles = 1` on this layout). The best
    * cell needs no centroid math at probe time: query vector 0's own
    * stored assignment IS its nearest centroid — a broadcast self-semi-join
    * on the 1-row cell, fully declarative (no driver-side cell lookup).
    */
  val q80 = Q("q80_ann_ivf_store",
    TierNine.q70.oracle.get) { (s, dir) =>
    // unique dir per run (a fixed shared path would let concurrent
    // Verify/Bench runs overwrite each other's store mid-probe), swept at
    // JVM exit (the returned frame reads it lazily, so exit-time is the
    // earliest safe deletion point)
    val path = graft.sources.Warehouse.scratchDir("graft_ivf_store")
    graft.sources.Warehouse.writePartitioned(TierNine.ivfIndex(s, dir), path, "cell")
    graft.expressions.GraftFunctions.register(s)
    val store = s.read.parquet(path)
    def dot(x: String, y: String) =
      call_function("graft_dot", col(x), col(y))
    val q0 = store.filter(col("vec_id") === 0)
    store.join(broadcast(q0.select(col("cell"))), "cell")
      .crossJoin(broadcast(q0.select(col("e").as("qv"))))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(dot("e", "qv") / (sqrt(dot("e", "e")) * sqrt(dot("qv", "qv"))), 6)
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Ordered-sequence FUNNEL over the event stream — "view, then a click
    * after it, then a purchase after that" per user, the canonical product
    * funnel and the one sequence-pattern shape the inventory lacked.
    * Existence of an increasing subsequence ⟺ the GREEDY earliest chain
    * completes (for a fixed stage order), so each stage is `min(ts)` after
    * the previous stage's timestamp — no per-user event arrays, no 3-way
    * self-join (which explodes on hot users). Output: per stage, users
    * reaching it and the summed ms from funnel entry (integer epoch math).
    *
    * Scale: three user-keyed aggregations chained by user-keyed joins —
    * after the first shuffle on user_id every later join and groupBy
    * reuses that partitioning; per-stage state is one timestamp per user.
    */
  val q81 = Q("q81_funnel",
    """WITH v AS (
      |  SELECT user_id, min(ts) AS vts FROM events WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS cts
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.vts GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS pts
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.cts GROUP BY 1)
      |SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(0 AS BIGINT) AS total_ms
      |FROM v
      |UNION ALL
      |SELECT '2_click', CAST(count(*) AS BIGINT),
      |       CAST(coalesce(sum(epoch_ms(cts) - epoch_ms(vts)), 0) AS BIGINT)
      |FROM c JOIN v USING (user_id)
      |UNION ALL
      |SELECT '3_purchase', CAST(count(*) AS BIGINT),
      |       CAST(coalesce(sum(epoch_ms(pts) - epoch_ms(vts)), 0) AS BIGINT)
      |FROM p JOIN v USING (user_id)
      |ORDER BY stage""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    def stageAfter(prev: org.apache.spark.sql.DataFrame, prevTs: String,
        eventType: String, outTs: String) =
      events.filter(col("event_type") === eventType)
        .join(prev, "user_id")
        .filter(col("ts") > col(prevTs))
        .groupBy("user_id").agg(min(col("ts")).as(outTs))
    val v = events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("vts"))
    val c = stageAfter(v, "vts", "click", "cts")
    val p = stageAfter(c, "cts", "purchase", "pts")
    def stageRow(stage: String, df: org.apache.spark.sql.DataFrame, ts: String) =
      df.join(v, "user_id")
        .agg(count(lit(1)).as("n_users"),
          // NTZ → TIMESTAMP is exact under the pinned UTC session
          coalesce(sum(unix_millis(col(ts).cast("timestamp"))
            - unix_millis(col("vts").cast("timestamp"))), lit(0L)).as("total_ms"))
        .select(lit(stage).as("stage"), col("n_users"), col("total_ms"))
    v.agg(count(lit(1)).as("n_users"))
      .select(lit("1_view").as("stage"), col("n_users"), lit(0L).as("total_ms"))
      .unionAll(stageRow("2_click", c, "cts"))
      .unionAll(stageRow("3_purchase", p, "pts"))
      .orderBy("stage")
  }

  val all: Seq[Q] = Seq(q74, q75, q76, q77, q78, q79, q80, q81)
}
