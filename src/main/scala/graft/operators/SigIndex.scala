package graft.operators

import graft.sources.Warehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash signature index — the INCREMENTAL shape of near-dup
  * detection. A growing corpus doesn't re-sketch itself per batch: the
  * detector's per-document state (band postings + verification payloads)
  * is written ONCE as a bucketed table, and each new batch is screened by
  * (1) sketching ONLY the batch and (2) bucket-joining its postings
  * against the index — the corpus side is a scan, never recomputed
  * (SigIndexSpec gates the executed plan: bucketed postings scan, zero
  * Exchange on the index side, no corpus re-tokenization).
  *
  * The signature MODEL is frozen at build time, like a tokenizer or an
  * embedding checkpoint: the vocabulary (token → tid rank) is persisted
  * with the index, batch tokens outside it are dropped (they cannot hash
  * consistently with corpus signatures), and batch signatures are computed
  * in the frozen token space. Rebuild the index to absorb vocabulary
  * drift. [[graft.operators.TierEight.q60]] oracle-checks the whole
  * build+probe composition against DuckDB computing the same frozen-vocab
  * pipeline declaratively.
  *
  * Layout per [[Warehouse.writeBucketed]]: `<name>_postings` is bucketed
  * by the probe's exact equi-join keys `(band, bkey)` — bucket keys that
  * only partially overlap the join keys make the planner decline the
  * bucketed scan and shuffle both sides — so only the O(batch·bands)
  * probe postings shuffle; at 100 TB the index side is the corpus and
  * never moves. Verification
  * payloads ride the postings (q26's zero-attach-join pattern) on the
  * ≤64-token bitmask path; the generic path stores per-doc token arrays
  * as a separate `<name>_docsets` table bucketed by doc_id.
  */
object SigIndex {

  /** Drop `table` AND its warehouse directory — see [[Warehouse.dropStale]]
    * (the definition moved there when compaction needed it too). */
  private[operators] def dropStale(spark: SparkSession, table: String): Unit =
    Warehouse.dropStale(spark, table)

  /** A per-run UNIQUE index name, its table directories swept at JVM
    * exit — [[graft.operators.LexIndex.scratchName]]'s convention for the
    * signature-index flavor: declared queries that build a throwaway index
    * per run (q60/q98) must not share a fixed name, or two concurrent
    * Verify/Bench runs race (one run's [[build]] sweeps the other's tables
    * mid-probe). */
  def scratchName(spark: SparkSession, prefix: String): String = {
    val name = prefix + "_" + java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong())
    Seq("postings", "vocab", "docsets")
      .foreach(t => Warehouse.sweepTableAtExit(spark, s"${name}_$t"))
    name
  }

  private def postingsOf(tokid: DataFrame, small: Boolean): DataFrame = {
    val bkeys = TierFour.bandKeys(tokid)
    if (small)
      bkeys.join(TextOps.tokenMasks(tokid), "doc_id")
        .select(col("doc_id"), col("ks"), col("mask"), col("n"),
          posexplode(col("ks")).as(Seq("band", "bkey")))
    else
      bkeys.select(col("doc_id"), col("ks"),
        posexplode(col("ks")).as(Seq("band", "bkey")))
  }

  /** Sketch `docs` (any `(doc_id, text)` frame) and persist the signature
    * index as catalog tables `<name>_postings` / `<name>_vocab` (plus
    * `<name>_docsets` on the generic large-vocabulary path). Pays the
    * corpus sketch + one bucketing shuffle once; every later [[probe]]
    * reads the postings bucket-aligned. */
  def build(docs: DataFrame, name: String, buckets: Int = 32): Unit = {
    val spark = docs.sparkSession
    val t = TextOps.tokOf(docs.select("doc_id", "text")).persist()
    val v = TextOps.vocab(t).persist() // tokid, the dispatch count, the vocab table
    val tokid = TextOps.tokid(t, v).persist()
    val small = TextOps.smallVocab(v)
    Seq("postings", "vocab", "docsets").foreach(t => dropStale(spark, s"${name}_$t"))
    Warehouse.writeBucketed(postingsOf(tokid, small), s"${name}_postings",
      buckets, "band", "bkey")
    v.write.mode("overwrite").format("parquet").saveAsTable(s"${name}_vocab")
    if (!small)
      Warehouse.writeBucketed(TextOps.tokenArrays(tokid), s"${name}_docsets",
        buckets, "doc_id")
    t.unpersist()
    tokid.unpersist()
    v.unpersist()
  }

  /** Merge an already-probed batch INTO the index — the second half of the
    * incremental loop (probe the arrivals, then absorb them so the next
    * batch sees them as corpus). Signatures are computed in the FROZEN
    * vocabulary (exactly as [[probe]] hashed them — the index stays
    * internally consistent; tokens outside the frozen vocab drop, rebuild
    * to absorb drift). `buckets` must match the [[build]] value. Batch
    * doc_ids must be new (appending an existing id duplicates its
    * postings).
    *
    * Scale: appends only the batch's postings — one file per touched
    * bucket, no corpus rewrite, bucketed probes stay shuffle-free on the
    * index side ([[Warehouse.appendBucketed]]).
    */
  def append(spark: SparkSession, name: String, newDocs: DataFrame,
      buckets: Int = 32): Unit = {
    val v = spark.table(s"${name}_vocab")
    val small = !spark.catalog.tableExists(s"${name}_docsets")
    val tokid = TextOps.tokid(
      TextOps.tokOf(newDocs.select("doc_id", "text")), v).persist()
    Warehouse.appendBucketed(postingsOf(tokid, small), s"${name}_postings",
      buckets, "band", "bkey")
    if (!small)
      Warehouse.appendBucketed(TextOps.tokenArrays(tokid), s"${name}_docsets",
        buckets, "doc_id")
    tokid.unpersist()
    // the write invalidates the relation cache of ITS OWN session
    // (newDocs.sparkSession) — which is a DIFFERENT session when called
    // from foreachBatch (streams run on a cloned session). Refresh on the
    // caller's session too, or its next probe reads a stale pre-append
    // file listing and silently misses every appended document
    // (SigIndexSpec s18 pins this).
    spark.catalog.refreshTable(s"${name}_postings")
    if (!small) spark.catalog.refreshTable(s"${name}_docsets")
  }

  /** Compact the index after sustained incremental ingest — each
    * [[append]] leaves one file per touched bucket (per table), so a
    * long-lived probe-then-append loop degrades toward a file-open-bound
    * scan. Rewrites `<name>_postings` (and `<name>_docsets` on the
    * large-vocabulary path) to one sorted file per bucket
    * ([[Warehouse.compactBucketed]]) once the postings exceed
    * `maxFilesPerBucket` files per bucket on average; pass 0 to force.
    * Cheap to call from the ingest loop every batch: below the threshold
    * it reads only a file listing. Returns whether a rewrite happened.
    * Probes before and after are bit-identical (SigIndexSpec pins it) —
    * compaction moves bytes, never semantics. `buckets` must match the
    * [[build]] value. */
  def compact(spark: SparkSession, name: String, buckets: Int = 32,
      maxFilesPerBucket: Int = 4): Boolean = {
    val postings = s"${name}_postings"
    if (spark.table(postings).inputFiles.length <= buckets.toLong * maxFilesPerBucket)
      return false
    Warehouse.compactBucketed(spark, postings, buckets, "band", "bkey")
    val docsets = s"${name}_docsets"
    if (spark.catalog.tableExists(docsets))
      Warehouse.compactBucketed(spark, docsets, buckets, "doc_id")
    true
  }

  /** Screen a new batch against the persisted index: near-dup pairs
    * `(doc_a, doc_b, jaccard)` (canonical doc_a < doc_b, Jaccard ≥ 0.6)
    * where at least one side is a batch document — batch-vs-corpus from
    * the index bucket join, batch-vs-batch from the q26 self-join. Batch
    * doc_ids must be disjoint from the corpus (they are NEW documents).
    * Union of this with the corpus' own pair set ≡ a full recompute over
    * corpus ∪ batch in the frozen token space (SigIndexSpec proves it). */
  def probe(spark: SparkSession, name: String, newDocs: DataFrame): DataFrame = {
    val v = spark.table(s"${name}_vocab")
    val small = !spark.catalog.tableExists(s"${name}_docsets")
    // frozen-model tokenization: inner join against the persisted
    // vocabulary drops unseen tokens (they have no consistent tid)
    val tokid = TextOps.tokid(
      TextOps.tokOf(newDocs.select("doc_id", "text")), v).persist()
    val newPost = postingsOf(tokid, small).persist()
    val idx = spark.table(s"${name}_postings")
    val verified =
      if (small) {
        val payload = Seq(("mask", "ma", "mb"), ("n", "na", "nb"))
        TierFour.bandJoinPairs(newPost, idx, ordered = false, payload)
          .unionByName(
            TierFour.bandJoinPairs(newPost, newPost, ordered = true, payload))
          .withColumn("i", expr("cast(bit_count(ma & mb) as bigint)"))
      } else {
        val cand = TierFour.bandJoinPairs(newPost, idx, ordered = false, Nil)
          .unionByName(
            TierFour.bandJoinPairs(newPost, newPost, ordered = true, Nil))
          .select(col("doc_a"), col("doc_b"))
        // corpus sets come from the bucketed docsets table — still no
        // corpus recompute; batch sets from the batch tokid
        val sets = spark.table(s"${name}_docsets")
          .unionByName(TextOps.tokenArrays(tokid))
        cand
          .join(sets.select(col("doc_id").as("doc_a"), col("tids").as("ta"),
            col("n").as("na")), "doc_a")
          .join(sets.select(col("doc_id").as("doc_b"), col("tids").as("tb"),
            col("n").as("nb")), "doc_b")
          .withColumn("i", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      }
    verified
      .withColumn("j", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("j") >= 0.6)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        round(col("j"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }
}
