package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Tier 3 — LLM-training-data pipeline ops over `documents`/`embeddings`
  * (SURVEY.md §2.3 q22-q25; north-star addendum). The reference has none of
  * these; they are what makes the engine useful on a 100 TB text corpus.
  * Further variants (MinHash+LSH, SimHash, hyperplane-LSH ANN, language-ID,
  * quality scoring, fingerprinting) live in [[TierFour]].
  */
object TierThree {

  /** Exact deduplication: one surviving row per distinct `text`, min doc_id
    * wins, with the duplicate count. Spark groups on `sha2(text, 256)` — at
    * 100 TB the shuffle key is a fixed 64-char digest, not a multi-KB
    * document body, and the aggregate is partial+final. The oracle groups on
    * the raw text (identical result absent a SHA-256 collision).
    */
  val q22 = Q("q22_dedup_exact",
    """SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")
  }

  /** Near-duplicate pairs by exact token-set Jaccard ≥ 0.6 (doc_a < doc_b).
    * Semantics (oracle side): distinct tokens per doc → self-join on token
    * (pairs sharing NO token never materialize) → per-pair intersection
    * count → J = |∩| / (|A|+|B|−|∩|).
    *
    * The Spark plan is ADAPTIVE ([[TextOps]]): when the corpus vocabulary
    * fits in 64 bits (this corpus: 31 tokens), each doc's token set is a
    * BIGINT bitmask and the pair loop is a broadcast nested-loop with
    * codegen'd `bit_count(maskA & maskB)` + a Jaccard length prefilter
    * (J ≥ t ⇒ t·|B| ≤ |A| ≤ |B|/t) — no token-join row explosion
    * (Σ df(token)² ≈ 2·10^8 rows at sf0.1 collapses to the 1.25·10^7
    * surviving pairs). Large vocabularies fall back to the token join.
    *
    * Scale: exact all-pairs is inherently O(n²) in candidate space — the
    * 100 TB production path is [[TierFour.q26]] (MinHash+LSH pruning);
    * this exact variant is the correctness anchor the sketch is validated
    * against.
    */
  val q23 = Q("q23_near_dup_jaccard",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, token FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE token <> ''),
      |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
      |  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM (
      |  SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
      |  FROM inter
      |  JOIN sz sa ON sa.doc_id = doc_a
      |  JOIN sz sb ON sb.doc_id = doc_b)
      |WHERE j >= 0.6 ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    // t feeds the vocab rank AND the mask/self-join side — cache the
    // tokenize+distinct instead of re-running it per consumer
    val t = TextOps.tok(s, dir).persist()
    val v = TextOps.vocab(t).persist() // read by the dispatch count AND the tokid join
    val jaccardOut = (df: org.apache.spark.sql.DataFrame) => df
      .withColumn("j", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("j") >= 0.6)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
    // dispatch counts the persisted rank table (O(|vocab|) cached, not a
    // corpus rescan) — or skips even that when the session pins
    // spark.graft.vocabHint (TextOps.smallVocab)
    if (TextOps.smallVocab(v)) {
      // dictionary fast path: one BIGINT mask per doc, broadcast NLJ pairs
      val m = TextOps.tokenMasks(TextOps.tokid(t, v)).persist()
      // broadcast is EXPLICIT: the masks frame is 24 B/doc and this path
      // only dispatches on small-dictionary corpora — without the hint the
      // cached input's stats can tip the non-equi join into a
      // CartesianProduct (both sides shuffled) instead of the intended BNLJ
      val a = m.select(col("doc_id").as("doc_a"), col("mask").as("ma"), col("n").as("na"))
      val b = broadcast(
        m.select(col("doc_id").as("doc_b"), col("mask").as("mb"), col("n").as("nb")))
      jaccardOut(
        // length prefilter: J ≥ 3/5 ⇒ 5·min(|A|,|B|) ≥ 3·max(|A|,|B|)
        a.join(b, col("doc_a") < col("doc_b")
            && col("na") * 5 >= col("nb") * 3 && col("nb") * 5 >= col("na") * 3
            && (col("ma").bitwiseAND(col("mb")) =!= 0))
          .withColumn("i", expr("cast(bit_count(ma & mb) as bigint)")))
    } else {
      // generic path: PPJoin prefix-filtered candidates at J ≥ 3/5 over
      // rarest-first dense-id set arrays (the q28 machinery, round-15
      // re-source — the previous unfiltered token self-join shuffled
      // Σdf² ≈ 2·10⁹ rows into a pair aggregation at 10× scale, 899 s
      // measured; candidates + one array_intersect verify reads minutes)
      val arrs = TextOps.rarestFirstArrays(t).persist()
      jaccardOut(TextOps.ppjoinCandidates(arrs, 3, 5)
        .join(arrs.select(col("doc_id").as("doc_a"), col("sids").as("sa"),
          col("n").as("na")), "doc_a")
        .join(arrs.select(col("doc_id").as("doc_b"), col("sids").as("sb"),
          col("n").as("nb")), "doc_b")
        .withColumn("i", size(array_intersect(col("sa"), col("sb"))).cast("long")))
    }
  }

  /** Brute-force cosine top-k: the 10 nearest neighbors of vec_id=0 over
    * `embeddings.embedding` (ARRAY<FLOAT>, dim 64). Math in DOUBLE
    * (`zip_with` product + `aggregate` sum — element-order-deterministic),
    * rounded to 6 dp; ties break on vec_id ASC.
    *
    * Plan shape: the query vector is a broadcast 1-row join (no shuffle);
    * the scan side computes one fused codegen'd projection per row; the
    * top-10 is TakeOrderedAndProject (per-partition heaps, O(k) memory).
    * This is the exact baseline; the bucketed-LSH variant that prunes the
    * scan at 100 TB is [[TierFour.q29]].
    */
  val q24 = Q("q24_knn_cosine",
    """WITH q AS (
      |  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id, round(
      |    list_dot_product(embedding::DOUBLE[], qv) /
      |    (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
      |     sqrt(list_dot_product(qv, qv))), 6) AS cos
      |FROM embeddings, q WHERE vec_id <> 0
      |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
    graft.expressions.GraftFunctions.register(s)
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
    def dot(x: String, y: String) = call_function("graft_dot", col(x), col(y))
    emb.filter(col("vec_id") =!= 0)
      .join(broadcast(q))
      .withColumn("cos", dot("v", "qv") / (sqrt(dot("v", "v")) * sqrt(dot("qv", "qv"))))
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Per-language corpus statistics: document count, mean length, distinct
    * vocabulary. Two aggregation granularities (per-doc and per-token)
    * joined on lang — both partial+final; `n_chars` is integral so the avg
    * is an exact-int sum divided once (deterministic across engines).
    */
  val q25 = Q("q25_text_stats",
    """WITH docs AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |         round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars
      |  FROM documents GROUP BY lang),
      |vocab AS (
      |  SELECT lang, CAST(count(DISTINCT token) AS BIGINT) AS n_tokens FROM (
      |    SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE token <> '' GROUP BY lang)
      |SELECT docs.lang, n_docs, avg_chars, n_tokens
      |FROM docs JOIN vocab ON docs.lang = vocab.lang
      |ORDER BY docs.lang""".stripMargin) { (s, dir) =>
    val d = Tables.load(s, dir, "documents")
    val docs = d.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("avg_chars"))
    val vocab = d.select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("lang").agg(countDistinct(col("token")).as("n_tokens"))
    docs.join(vocab, "lang").orderBy("lang")
  }

  val all: Seq[Q] = Seq(q22, q23, q24, q25)
}
