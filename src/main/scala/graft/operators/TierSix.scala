package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Tier 6 — round-3 additions: the native as-of join (custom Catalyst
  * operator, q45) and corpus-analysis operators a training-data pipeline
  * runs constantly: vocabulary Zipf profile, benchmark-contamination
  * check, stratified sampling, intra-document repetition, length
  * histograms. All are single-agg / broadcast-join plans that scale
  * embarrassingly; determinism follows the Tier-3/4 conventions
  * (integer arithmetic, pinned orders, round(,6) only at the boundary).
  */
object TierSix {

  /** Native as-of join ([[graft.plans.AsOfJoin]]): same query as q42 —
    * each error event's most recent same-user purchase strictly before it
    * in the (ts, event_id) total order — but planned as the custom
    * operator instead of the union+window composition. One co-partitioned
    * merge pass, O(1) state per task (see AsOfJoinExec scaladoc); the
    * oracle is q42's, verbatim, because the semantics are pinned
    * identical ([[graft.AsofPlanSpec]] asserts row equality with q42 and
    * the plan shape).
    */
  val q45 = Q("q45_asof_native",
    """WITH u AS (
      |  SELECT event_id, user_id, ts, event_type,
      |         CASE WHEN event_type = 'purchase' THEN event_id END AS pid
      |  FROM events),
      |m AS (
      |  SELECT event_id, user_id, event_type,
      |         last_value(pid IGNORE NULLS) OVER (
      |           PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_purchase_id
      |  FROM u)
      |SELECT event_id, last_purchase_id FROM m WHERE event_type = 'error'
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    graft.plans.Asof.join(errors, purchases,
        Seq("user_id"), Seq("p_user"), Seq("ts", "event_id"), Seq("p_ts", "pid"))
      .select(col("event_id"), col("pid").as("last_purchase_id"))
      .orderBy("event_id")
  }

  /** Vocabulary Zipf profile: the top-20 tokens by frequency with
    * parts-per-million share — the first plot anyone makes of a new
    * corpus. One partial+final count agg and a broadcast 1-row total;
    * top-k is TakeOrderedAndProject, never a global sort.
    *
    * Operating bound (Int64): `cnt * 1000000` wraps once a single token's
    * corpus frequency exceeds 2^63/10⁶ ≈ 9.2e12. A 100 TB corpus holds
    * ~2e13 tokens total, so the most frequent token (a ~5% stopword ≈
    * 1e12) sits ~10× under the bound; past ~1 PB, drop the ppm factor to
    * 10³ or route the product through DECIMAL(38,0) on both engines.
    */
  val q46 = Q("q46_zipf_topk",
    """WITH tf AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE token <> '' GROUP BY 1),
      |tot AS (SELECT sum(cnt) AS tot FROM tf)
      |SELECT token, cnt, CAST((cnt * 1000000) // tot AS BIGINT) AS ppm
      |FROM tf CROSS JOIN tot
      |ORDER BY cnt DESC, token LIMIT 20""".stripMargin) { (s, dir) =>
    val tf = Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val tot = tf.agg(sum("cnt").as("tot"))
    tf.crossJoin(broadcast(tot))
      .select(col("token"), col("cnt"), expr("cnt * 1000000 div tot").as("ppm"))
      .orderBy(col("cnt").desc, col("token")).limit(20)
  }

  /** Benchmark-contamination check: which documents share word trigrams
    * with a (literal, in-query) evaluation set — the pre-training hygiene
    * scan that keeps eval data out of the training corpus. The eval side
    * is always tiny → its distinct shingles BROADCAST, and the corpus
    * side is one shingle scan + broadcast hash join: no shuffle of the
    * corpus at any scale. Counts per eval item: contaminated docs and
    * distinct (doc, trigram) hits.
    */
  val q47 = Q("q47_contamination",
    """WITH ev(eval_id, etext) AS (VALUES
      |  (0, 'data table join fast query scan row value'),
      |  (1, 'the big window agg group sort merge batch'),
      |  (2, 'spark stream filter key hash part column line')),
      |et AS (
      |  SELECT DISTINCT eval_id, t FROM (
      |    SELECT eval_id, unnest(list_transform(range(len(l) - 2),
      |      k -> l[k+1] || ' ' || l[k+2] || ' ' || l[k+3])) AS t
      |    FROM (SELECT eval_id, list_filter(string_split(etext, ' '), x -> x <> '') AS l
      |          FROM ev))),
      |dt AS (
      |  SELECT DISTINCT doc_id, t FROM (
      |    SELECT doc_id, unnest(list_transform(range(len(l) - 2),
      |      k -> l[k+1] || ' ' || l[k+2] || ' ' || l[k+3])) AS t
      |    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
      |          FROM documents)))
      |SELECT CAST(eval_id AS BIGINT) AS eval_id,
      |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |       CAST(count(*) AS BIGINT) AS n_hits
      |FROM dt JOIN et USING (t) GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    def trigrams(df: org.apache.spark.sql.DataFrame, id: String, text: String) =
      TextOps.trigrams(df, id, text)
    val ev = s.sql(
      """SELECT * FROM VALUES
        |  (0, 'data table join fast query scan row value'),
        |  (1, 'the big window agg group sort merge batch'),
        |  (2, 'spark stream filter key hash part column line') AS t(eval_id, etext)""".stripMargin)
    val et = trigrams(ev, "eval_id", "etext")
    val dt = trigrams(Tables.load(s, dir, "documents"), "doc_id", "text")
    // two-level agg instead of countDistinct+count in one (which plans an
    // Expand — ×2 row multiplication over every matched pair): first fold
    // to (eval, doc), then count docs and sum hits — narrow shuffles only
    dt.join(broadcast(et), "t")
      .groupBy(col("eval_id").cast("long").as("eval_id"), col("doc_id"))
      .agg(count(lit(1)).as("hits"))
      .groupBy("eval_id")
      .agg(count(lit(1)).as("n_docs"), sum("hits").as("n_hits"))
      .orderBy("eval_id")
  }

  /** Stratified deterministic sampling: a 10% per-language sample drawn by
    * affine hash of doc_id — no sort, no randomness, retry-stable, and the
    * same rows come out on any cluster size (the 100 TB sampling shape:
    * a codegen'd filter). Output proves the stratification: per language,
    * total vs sampled counts. `doc_id % P` BEFORE the multiply caps the
    * product at A0·(P−1) ≈ 5.7e18 < 2^63 — raw doc_id ≳ 3.4e9 (routine at
    * 100 TB) would wrap Int64 (Spark silently goes negative and biases the
    * sample; DuckDB raises). Same remedy as q54's tid.
    */
  val q48 = Q("q48_stratified_sample",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
      |       CAST(sum(CASE WHEN (2654435761 * (doc_id % 2147483647) + 40503) % 2147483647 % 100 < 10
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when((lit(2654435761L) * (col("doc_id") % 2147483647L) + 40503L) % 2147483647L % 100 < 10, 1L)
          .otherwise(0L)).as("n_sampled"))
      .orderBy("lang")
  }

  /** Intra-document repetition score: the share of a document's bigrams
    * taken by its single most repeated bigram — the standard "repetitive
    * junk" quality filter (boilerplate, keyword stuffing). Two narrow
    * aggs, shuffle key doc_id; docs with <2 tokens have no bigrams and
    * drop out on both engines.
    */
  val q49 = Q("q49_repetition_score",
    """WITH arr AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(len(l) - 1),
      |    k -> l[k+1] || ' ' || l[k+2])) AS b FROM arr),
      |c AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
      |       CAST(max(cnt) AS BIGINT) AS max_rep,
      |       round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS rep_ratio
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val bg = Tables.load(s, dir, "documents")
      .select(col("doc_id"), filter(split(col("text"), " "), x => x =!= "").as("l"))
      .filter(size(col("l")) >= 2) // guard: sequence() descends on short docs
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("l")) - 2),
          k => concat_ws(" ", element_at(col("l"), k + 1), element_at(col("l"), k + 2))))
          .as("b"))
    bg.groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_bigrams"), max("cnt").as("max_rep"),
        round(max("cnt").cast("double") / sum("cnt"), 6).as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** Corpus length histogram: fixed-width 50-char buckets (capped at
    * bucket 9) over document length — integer bucketing, one partial+final
    * agg, the cheapest possible full-corpus profile.
    */
  val q50 = Q("q50_length_histogram",
    """SELECT CAST(least(n_chars // 50, 9) AS BIGINT) AS bucket,
      |       CAST(count(*) AS BIGINT) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .groupBy(expr("least(n_chars div 50, 9)").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket")
  }

  /** Integer-scaled TF-IDF, top-5 tokens per document: tf · idf_ppm where
    * idf_ppm = (N·10⁶) div df — all-integer scoring (float `ln` would
    * hash-diverge across engines' libm; monotone in 1/df, so ranking is
    * preserved). The rank is PARTITIONED by doc_id — parallel at any scale,
    * never a global sort.
    *
    * Operating bound (Int64): idf_ppm ≤ N·10⁶ (df = 1), so tf · idf_ppm
    * stays under 2^63 while tf · N < 9.2e12 — at the 100 TB design point
    * (N ≈ 10¹¹ docs) that allows tf ≤ 92 for a corpus-unique token, and
    * rare tokens (small df) are exactly the ones with small tf, so real
    * corpora sit far inside the bound. Beyond it, shrink the ppm factor or
    * compute the product in DECIMAL(38,0) on both engines — the ranking is
    * unchanged either way because score is monotone in tf·N/df.
    */
  val q51 = Q("q51_tfidf",
    """WITH cnts AS (
      |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE token <> '' GROUP BY 1, 2),
      |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM cnts GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, token, tf, (n * 1000000) // df AS idf_ppm,
      |         tf * ((n * 1000000) // df) AS score
      |  FROM cnts JOIN dfreq USING (token) CROSS JOIN n),
      |top AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, token ASC) AS rn
      |  FROM scored)
      |SELECT doc_id, token, tf, CAST(idf_ppm AS BIGINT) AS idf_ppm,
      |       CAST(score AS BIGINT) AS score
      |FROM top WHERE rn <= 5 ORDER BY doc_id, score DESC, token""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val cnts = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = cnts.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = cnts.join(broadcast(dfreq), "token").crossJoin(broadcast(n))
      .withColumn("idf_ppm", expr("(n * 1000000) div df"))
      .withColumn("score", col("tf") * col("idf_ppm"))
    val rank = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("token").asc)
    scored.withColumn("rn", row_number().over(rank)).filter(col("rn") <= 5)
      .select(col("doc_id"), col("token"), col("tf"), col("idf_ppm"), col("score"))
      .orderBy(col("doc_id"), col("score").desc, col("token"))
  }

  /** Asymmetric containment |A∩B| / |A| ≥ 0.9 — subsumption detection (doc
    * A is mostly inside B: the near-dup relation exact Jaccard misses when
    * sizes differ). Directed output. Same adaptive physical path as q23:
    * BIGINT bitmask pairs when the vocabulary dictionary-encodes, token
    * self-join otherwise; intersections computed ONCE per unordered pair
    * and emitted in both directions.
    */
  val q52 = Q("q52_containment",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, token FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE token <> ''),
      |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS i
      |  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |dir AS (
      |  SELECT da AS contained, db AS container, i, sa.n AS nc
      |  FROM inter JOIN sz sa ON sa.doc_id = da
      |  UNION ALL
      |  SELECT db, da, i, sb.n FROM inter JOIN sz sb ON sb.doc_id = db)
      |SELECT contained, container, round(CAST(i AS DOUBLE) / nc, 6) AS containment
      |FROM dir WHERE CAST(i AS DOUBLE) / nc >= 0.9
      |ORDER BY contained, container""".stripMargin) { (s, dir) =>
    // cache the tokenize+distinct — it feeds the vocab rank and the
    // mask/tokid side (same reasoning as q23/minhashPairs)
    val t = TextOps.tok(s, dir).persist()
    val v = TextOps.vocab(t).persist() // read by the dispatch count AND the tokid join
    val tokid = TextOps.tokid(t, v)
    val undirected =
      if (TextOps.smallVocab(v)) {
        val m = TextOps.tokenMasks(tokid).persist()
        m.select(col("doc_id").as("da"), col("mask").as("ma"), col("n").as("na"))
          .join(broadcast( // explicit: cached stats must not tip this into a CartesianProduct
              m.select(col("doc_id").as("db"), col("mask").as("mb"), col("n").as("nb"))),
            col("da") < col("db") && (col("ma").bitwiseAND(col("mb")) =!= 0))
          .select(col("da"), col("db"),
            expr("cast(bit_count(ma & mb) as bigint)").as("i"),
            col("na"), col("nb"))
      } else {
        val ti = tokid.persist() // self-joined + sized: one corpus pass
        val sz = ti.groupBy("doc_id").agg(count(lit(1)).as("n"))
        ti.select(col("doc_id").as("da"), col("tid"))
          .join(ti.select(col("doc_id").as("db"), col("tid")), Seq("tid"))
          .filter(col("da") < col("db"))
          .groupBy("da", "db").agg(count(lit(1)).as("i"))
          .join(sz.select(col("doc_id").as("da"), col("n").as("na")), "da")
          .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      }
    // direction-agnostic prefilter BEFORE the persist: a pair can pass the
    // directed 0.9 filter only if i ≥ 0.9·min(|A|,|B|) — the cache then
    // holds candidate pairs, not every token-sharing pair (~n²/2 on a
    // dense corpus). Referenced twice (both union branches).
    val pairs = undirected
      .filter(col("i").cast("double") >= lit(0.9) * least(col("na"), col("nb")))
      .persist()
    val directed = pairs
      .select(col("da").as("contained"), col("db").as("container"), col("i"), col("na").as("nc"))
      .unionAll(pairs
        .select(col("db").as("contained"), col("da").as("container"), col("i"), col("nb").as("nc")))
    directed
      .filter(col("i").cast("double") / col("nc") >= 0.9)
      .select(col("contained"), col("container"),
        round(col("i").cast("double") / col("nc"), 6).as("containment"))
      .orderBy("contained", "container")
  }

  /** End-to-end dedup APPLY — the action the near-dup detectors exist for,
    * in the production ORDERING the LSH degenerate-bucket caveat
    * prescribes (TierFour q26 scaladoc): exact dedup FIRST (q22
    * semantics — one survivor per distinct text, min doc_id wins), the
    * MinHash+LSH sketch over only the distinct survivors (identical docs
    * share all 8 band keys, so running the sketch before exact dedup is
    * what creates K²/2-pair degenerate buckets), then drop the higher-id
    * member of every near-dup pair. Output: per-language corpus shrinkage
    * — survivors = docs that pass BOTH stages. The oracle embeds the
    * parameterized q26 SQL ([[TierFour.minhashSql]]) over the same
    * survivor CTE.
    */
  val q53 = Q("q53_dedup_apply",
    s"""WITH exact_surv AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
       |corpus AS (
       |  SELECT d.doc_id, d.text FROM documents d JOIN exact_surv USING (doc_id)),
       |pairs AS (${TierFour.minhashSql("corpus")}),
       |dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM exact_surv)
       |                      AND doc_id NOT IN (SELECT doc_id FROM dropped)
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    // exact stage: shuffle key is the fixed-width digest (q22's shape),
    // then a semi join brings the surviving rows (with text) back
    val exactSurv = docs
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val corpus = docs.join(exactSurv, Seq("doc_id"), "left_semi")
      .select("doc_id", "text")
    // near-dup stage over distinct survivors only; kept/dropped are
    // O(near-dup docs) — shuffle joins on doc_id, NOT broadcasts (at
    // 100 TB the drop list is itself huge; AQE still converts when it
    // measures small)
    val dropped = TierFour.minhashPairs(TextOps.tokOf(corpus))
      .select(col("doc_b").as("doc_id")).distinct()
    val kept = exactSurv.join(dropped, Seq("doc_id"), "left_anti")
    docs
      .join(kept.withColumn("kept", lit(1)), Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept").isNotNull, 1L).otherwise(0L)).as("n_survivors"))
      .orderBy("lang")
  }

  /** Count-Min sketch over token frequencies — the one sketch that can be
    * ORACLE-checked (HLL/quantile sketches are implementation-defined
    * across engines; CMS cells are sums, order-independent and exactly
    * reproducible given a shared hash family — here the engine's affine
    * family over vocabulary ids, depth 4 × width 64). Output per token:
    * true count vs sketch estimate (min over the 4 rows) — est ≥ true
    * always, equal absent collisions. At 100 TB the sketch build is one
    * partial+final agg into 256 cells; the per-token probe joins the
    * 256-row sketch broadcast.
    *
    * This is the oracle anchor for the reusable pair
    * [[graft.functions.CountMin.build]] / [[CountMin.probe]] — the query
    * composes exactly those two calls (SketchSpec covers the build-once/
    * probe-many and unseen-key shapes the oracle can't).
    */
  val q54 = Q("q54_countmin",
    """WITH tf AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS tf FROM (
      |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE token <> '' GROUP BY 1),
      |vocab AS (
      |  SELECT token, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS tid
      |  FROM tf),
      |rows_ AS (SELECT unnest(range(4)) AS j),
      |placed AS (
      |  SELECT token, tf, j,
      |         ((2654435761 * (j+1)) % 2147483647 * (tid % 2147483647)
      |          + (40503 * (j+1)) % 2147483647) % 2147483647 % 64 AS cell
      |  FROM tf JOIN vocab USING (token) CROSS JOIN rows_),
      |sketch AS (SELECT j, cell, sum(tf) AS s FROM placed GROUP BY 1, 2)
      |SELECT token, tf, CAST(min(s) AS BIGINT) AS est
      |FROM placed JOIN sketch USING (j, cell)
      |GROUP BY token, tf ORDER BY token""".stripMargin) { (s, dir) =>
    val tf = Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("tf"))
    // vocab rank over tf's tokens (already distinct) — distributed two-pass;
    // persisted because it feeds the build AND the probe
    val v = Cumulative.rowNumber(s, tf, Seq(col("token")), "tid").persist()
    val sketch = graft.functions.CountMin.build(v, col("tid"), col("tf"))
    graft.functions.CountMin.probe(v, col("tid"), sketch)
      .select(col("token"), col("tf"), col("est"))
      .orderBy("token")
  }

  val all: Seq[Q] = Seq(q45, q46, q47, q48, q49, q50, q51, q52, q53, q54)
}
