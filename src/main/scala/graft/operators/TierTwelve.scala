package graft.operators

import graft.Q
import graft.sources.Warehouse
import org.apache.spark.sql.functions._

/** Tier 12 (round 7): index lifecycle under sustained ingest — the
  * appendable IVF vector store served end to end.
  */
object TierTwelve {

  /** The trained-IVF ANN served from a store built INCREMENTALLY — q70's
    * exact semantics (same oracle SQL), but the store is [[IvfStore]]:
    * the quantizer is trained once on the corpus (the oracle's own
    * training set), a THIRD of the vectors are laid out at build time,
    * and the rest arrive as two ledgered appends assigned against the
    * frozen centroids — then the probe (nearest-cell partition filter +
    * exact cosine over the probed cell) must reproduce the one-shot
    * answer bit for bit. This is the q80 store-equivalence convention
    * extended to the APPEND path: serving from an incrementally-grown
    * store changes nothing a user can observe.
    *
    * Scale: each append moves only the batch (assign against a broadcast
    * centroid table, append one file per touched cell); the probe reads
    * one cell directory at any corpus size. [[IvfStore.compact]] bounds
    * the file accumulation (IvfStoreSpec).
    */
  val q92 = Q("q92_ann_ivf_append", TierNine.q70.oracle.get) { (s, dir) =>
    val path = Warehouse.scratchDir("graft_ivf_append")
    val emb = TierNine.embOf(s, dir)
    IvfStore.build(s, emb.filter(col("vec_id") % 3 === 0), path,
      TierNine.lloydCentroids(s, dir))
    IvfStore.append(s, path, emb.filter(col("vec_id") % 3 === 1),
      batchId = Some(0L))
    IvfStore.append(s, path, emb.filter(col("vec_id") % 3 === 2),
      batchId = Some(1L))
    // the query vector: one bounded driver read (the probe API takes a
    // vector, as a serving layer would)
    val q0 = emb.filter(col("vec_id") === 0).head.getSeq[Double](1).toSeq
    IvfStore.probe(s, path, q0, k = 10, nprobe = 1, excludeId = Some(0L))
  }

  /** Exact-phrase containment FROM THE POSITIONAL INDEX — the
    * contamination-check primitive ("is this eval text in my corpus,
    * verbatim?") q47/q78 approximate with trigram shingles, now answered
    * through [[LexIndex]]'s persisted posting lists: positions ride the
    * postings, so the probe is a bucket-pruned scan of the phrase terms'
    * buckets + one broadcast slot join — document bodies are never read
    * at query time (the plan gate in LexIndexSpec). The oracle recomputes
    * phrase starts declaratively over the corpus; the index path must
    * match it hit for hit.
    *
    * Scale: the index side scales with the probed terms' posting lists
    * (not the corpus); the (doc, start) alignment group is a hash
    * aggregation over positions of those lists only. The declared query
    * pays the one-time positional build only because the driver runs it
    * cold (q87's economics).
    */
  val q93 = Q("q93_phrase_probe",
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |p AS (SELECT doc_id, unnest(range(1, len(toks))) AS i, toks FROM t)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS hits
      |FROM p WHERE toks[i] = 'window' AND toks[i + 1] = 'hash'
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val name = LexIndex.scratchName(s, "lexidx_q93")
    LexIndex.build(
      graft.Tables.load(s, dir, "documents").select("doc_id", "text"), name)
    LexIndex.phraseProbe(s, name, Seq("window", "hash"))
  }

  /** SORTED-NEIGHBORHOOD near-dup detection (Hernández & Stolfo's SNM,
    * SIGMOD'95) — the SORT-based member of the dedup family, complementing
    * the hash-based ones (q26 MinHash bands, q59 Hamming pigeonhole):
    * sort the corpus by signature, then compare each document only to its
    * `w = 5` rank successors. Where LSH recall depends on band collisions,
    * SNM recall depends on sort locality (identical and near-identical
    * signatures sort adjacent) — the classic cheap screen when the corpus
    * is already sorted, or re-sorted once, by a fingerprint.
    *
    * Scale: the global rank is [[Cumulative.rowNumber]]'s two-pass
    * distributed prefix count (range-partition + per-partition offsets —
    * NO single-partition window), and the neighborhood compare is `w`
    * rank-adjacency EQUI-joins (rank+k = rank, expressed as one explode
    * of k = 1..5 then a hash join on the computed rank key): every stage
    * partitions by rank, nothing is all-pairs, and w bounds the join
    * fan-out per row at any corpus size.
    */
  val q94 = Q("q94_sorted_neighborhood",
    s"""WITH sigs AS (${TierFour.simhashSelect}),
       |r AS (
       |  SELECT doc_id, simhash,
       |         row_number() OVER (ORDER BY simhash, doc_id) AS rk
       |  FROM sigs)
       |SELECT least(a.doc_id, b.doc_id) AS doc_a,
       |       greatest(a.doc_id, b.doc_id) AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM r a JOIN r b ON b.rk BETWEEN a.rk + 1 AND a.rk + 5
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val ranked = Cumulative.rowNumber(s, TierFour.simhashSigs(s, dir),
      Seq(col("simhash"), col("doc_id")), "rk").persist() // both window sides read it
    val left = ranked.select(col("doc_id").as("id_a"), col("simhash").as("sig_a"),
        explode(sequence(lit(1L), lit(5L))).as("off"), col("rk"))
      .withColumn("rk_b", col("rk") + col("off"))
    val right = ranked.select(col("doc_id").as("id_b"),
      col("simhash").as("sig_b"), col("rk").as("rk_b"))
    left.join(right, "rk_b")
      .withColumn("hamming",
        expr("cast(bit_count(sig_a ^ sig_b) as bigint)"))
      .filter(col("hamming") <= 3)
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Lexical kNN — top-10 most similar documents to document 0 by
    * INTEGER tf·idf overlap: `score(q,d) = Σ_{t ∈ q∩d} tf_q·tf_d·idf_ppm`
    * with q51's monotone ppm idf. This is document-at-a-time retrieval
    * with the QUERY being a whole document (the "more like this" /
    * semantic-dedup-seed shape), all-integer so both engines agree bit
    * for bit; per-term products stay well inside Int64
    * (tf_q·tf_d·10⁶·n/df ≤ 10¹² at fixture tf — the BM25 dispatch's
    * decimal remedy applies past that).
    *
    * Scale: the query side is ONE document's term vector — a broadcast —
    * so the corpus side is the posting lists of the query's terms only
    * (the inverted-index access path, declaratively), then one doc-keyed
    * partial+final sum and a top-k heap. Never all-pairs.
    */
  val q95 = Q("q95_lexical_knn",
    """WITH toks AS (
      |  SELECT doc_id, token FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE token <> ''),
      |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |       FROM toks GROUP BY 1, 2),
      |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |qt AS (SELECT token, tf AS tfq FROM tf WHERE doc_id = 0)
      |SELECT d.doc_id,
      |       CAST(sum(qt.tfq * d.tf * ((n * 1000000) // df)) AS BIGINT) AS score
      |FROM tf d JOIN qt USING (token) JOIN dfreq USING (token) CROSS JOIN tot
      |WHERE d.doc_id <> 0
      |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) { (s, dir) =>
    val toks = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val tot = graft.Tables.load(s, dir, "documents").agg(count(lit(1)).as("n"))
    val qt = tf.filter(col("doc_id") === 0)
      .select(col("token"), col("tf").as("tfq"))
    tf.join(broadcast(qt), "token")
      .join(broadcast(dfreq.join(broadcast(qt.select("token")), "token")), "token")
      .crossJoin(broadcast(tot))
      .filter(col("doc_id") =!= 0)
      .withColumn("s_t", col("tfq") * col("tf") * expr("(n * 1000000) div df"))
      .groupBy("doc_id").agg(sum("s_t").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
  }

  /** Exact-phrase DECONTAMINATION report — which corpus documents contain
    * any of a set of verbatim eval phrases, and which phrases hit: the
    * apply side of [[q93]] (q78 decontaminates by shingle overlap; this
    * is the exact-match complement every released-benchmark check runs).
    * ONE positional index build serves ALL phrase probes (the
    * amortization the per-query cold build hides), and each doc reports
    * a phrase BITMASK (bit i = phrase i present).
    *
    * Scale: per phrase, a bucket-pruned postings scan of that phrase's
    * terms; the mask union is a doc-keyed sum over the tiny hit sets.
    */
  val q96 = Q("q96_phrase_decontaminate",
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |p AS (SELECT doc_id, unnest(range(1, len(toks))) AS i, toks FROM t),
      |h1 AS (SELECT DISTINCT doc_id FROM p
      |       WHERE toks[i] = 'window' AND toks[i + 1] = 'hash'),
      |h2 AS (SELECT DISTINCT doc_id FROM p
      |       WHERE toks[i] = 'spark' AND toks[i + 1] = 'window'),
      |m AS (
      |  SELECT doc_id, 1 AS mask FROM h1
      |  UNION ALL SELECT doc_id, 2 AS mask FROM h2)
      |SELECT doc_id, CAST(sum(mask) AS BIGINT) AS phrases
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val name = LexIndex.scratchName(s, "lexidx_q96")
    LexIndex.build(
      graft.Tables.load(s, dir, "documents").select("doc_id", "text"), name)
    val phrases = Seq(Seq("window", "hash"), Seq("spark", "window"))
    phrases.zipWithIndex.map { case (ph, i) =>
        LexIndex.phraseProbe(s, name, ph)
          .select(col("doc_id"), lit(1L << i).as("mask"))
      }
      .reduce(_ unionAll _)
      .groupBy("doc_id").agg(sum("mask").as("phrases"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(q92, q93, q94, q95, q96)
}
