package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Output-side table management — the layout half of the 100 TB story.
  * Operators decide how data is COMPUTED; these writers decide how it is
  * LAID OUT so the next job never pays for this job's shuffle again:
  *
  *  - [[writePartitioned]]: hive-style directory partitioning. A reader
  *    filtering on the partition column scans only matching directories
  *    (partition pruning — `PartitionFilters` in the scan, asserted in
  *    WarehouseSpec). The right split for low-cardinality columns a corpus
  *    is always filtered by (lang, source, date).
  *  - [[writeBucketed]]: hash-bucketed + sorted table. Joins/aggregations
  *    on the bucket key are co-located — NO Exchange at query time
  *    (asserted in ScaleTechniqueSpec). The right shape for the high-
  *    cardinality join keys (doc_id, user_id): pay one shuffle at write
  *    time, never again.
  *
  * Readers pin schemas explicitly — schema inference is a full extra pass
  * over the data at scale, and silently drifts when a malformed file
  * appears. The reference's only source is Kafka bytes + explicit Jackson
  * mapping (Tweet.java:10-21); these are the batch equivalents with the
  * same pinned-schema discipline ([[graft.streaming.TweetPipelines.tweetSchema]]).
  */
object Warehouse {

  /** Parquet, hive-partitioned by `partitionCols` (left-to-right directory
    * nesting). Overwrites the target path. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Parquet table, hash-bucketed and sorted by the bucket column(s) into
    * `buckets` buckets, registered as `table` in the session catalog
    * (bucketing metadata lives in the catalog, not the files —
    * `spark.table(table)` to read with bucket awareness). Joins whose
    * equi-keys match the bucket keys exactly read the table shuffle-free;
    * the planner declines the bucketed scan when the keys only partially
    * overlap, so bucket by the FULL join key set of the intended probe. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      bucketCol: String, moreCols: String*): Unit = {
    import org.apache.spark.sql.functions.col
    // repartition by the bucket keys first: `HashPartitioning` and the
    // bucket id share the same murmur3+pmod, so each task holds exactly
    // its own bucket and writes ONE file — without it every input task
    // writes a file per bucket it touches (measured r15: a 32-bucket
    // SigIndex build left 192 postings files; small files cost the write
    // AND every later bucket-pruned probe — guide §6). Callers that are
    // already partitioned this way (compactBucketed) collapse the extra
    // Exchange via CollapseRepartition.
    df.repartition(buckets, (bucketCol +: moreCols).map(col): _*)
      .write.mode("overwrite")
      .bucketBy(buckets, bucketCol, moreCols: _*).sortBy(bucketCol, moreCols: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Append rows to an existing bucketed table. The bucket spec MUST match
    * the original [[writeBucketed]] (same count + columns — Spark refuses
    * mismatched specs); each append adds one file per touched bucket, and
    * bucketed reads stay shuffle-free (a bucket's files are concatenated
    * into its partition). Within-bucket SORT order is per-file after an
    * append — fine for the hash joins this layout serves; rebuild
    * ([[writeBucketed]]) if a merge-sort reader ever needs one run. */
  def appendBucketed(df: DataFrame, table: String, buckets: Int,
      bucketCol: String, moreCols: String*): Unit =
    df.write.mode("append")
      .bucketBy(buckets, bucketCol, moreCols: _*).sortBy(bucketCol, moreCols: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Drop `table` AND its warehouse directory. The catalog is in-memory
    * (session-scoped) but the warehouse directory persists — a later
    * session's `saveAsTable` fails with LOCATION_ALREADY_EXISTS on a
    * location whose table entry died with the previous session, so a
    * rebuild must sweep both. */
  def dropStale(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** Rewrite a bucketed table in place under the SAME bucket spec — the
    * maintenance half of [[appendBucketed]]'s economics. Sustained
    * incremental ingest leaves one file per touched bucket per batch; after
    * 10⁴ micro-batches a probe reads 10⁴ files per bucket and the scan is
    * file-open-bound. Compaction repartitions by the bucket key(s) —
    * `HashPartitioning` and the bucket id share the same murmur3+pmod, so
    * each bucket lands whole in exactly one task — and rewrites one sorted
    * file per bucket, restoring the within-bucket sort that per-file
    * appends degrade. The swap is the dict-replacement convention: the
    * rewrite materializes fully under a temp name (its plan READS the table
    * it replaces), then the old table moves aside and the new one renames
    * in — at every step a complete table exists under some name. A crash
    * mid-swap can strand a `_cpt_*` table but never lose data; true
    * multi-step atomicity is a transactional table format's job
    * (Delta/Iceberg in production), not plain parquet's. */
  def compactBucketed(spark: SparkSession, table: String, buckets: Int,
      bucketCol: String, moreCols: String*): Unit = {
    import org.apache.spark.sql.functions.col
    val tmp = s"${table}_cpt_tmp"
    val old = s"${table}_cpt_old"
    Seq(tmp, old).foreach(t => dropStale(spark, t))
    val keys = (bucketCol +: moreCols).map(col)
    // autoBucketedScan must be OFF for the rewrite: with it on, the planner
    // drops the repartition Exchange (the bucketed table's partitioning
    // satisfies it) but ALSO downgrades the scan to a plain file scan
    // (no join consumes the partitioning), so tasks pack arbitrary files
    // and each writes one file per bucket it happens to hold — the rewrite
    // then COPIES the fragmentation instead of fixing it (measured: 152
    // files in → 139 out). With the bucketed scan pinned on, the read is
    // one partition per bucket, the repartition is a no-op, and each task
    // writes exactly its own bucket: `buckets` files, zero shuffle.
    val autoScan = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(autoScan)
    try {
      spark.conf.set(autoScan, "false")
      writeBucketed(spark.table(table).repartition(buckets, keys: _*),
        tmp, buckets, bucketCol, moreCols: _*)
    } finally spark.conf.set(autoScan, prev)
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    dropStale(spark, old)
    spark.catalog.refreshTable(table)
  }

  /** True when `dir` exists on the warehouse filesystem — the narrow
    * "is there a ledger yet" probe the at-least-once replay guards need
    * (ADVICE r14: a `try read catch { _ => false }` also swallows real
    * I/O failures, making a re-delivered batch look fresh and
    * double-appending its output; probing existence first lets every
    * OTHER failure propagate so Spark retries the batch). */
  def dirExists(spark: SparkSession, dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  /** Fold a parquet DIRECTORY (not a catalog table) to a single file with
    * rows preserved exactly — the ledger-compaction discipline: every
    * ledger-writing ingest operator ([[graft.operators.IvfStore]],
    * [[graft.streaming.SemanticAdmit]]) appends one tiny file per
    * micro-batch and re-reads the whole directory per replay check, so
    * after 10⁴ batches the at-least-once guard is file-open-bound.
    * Same swap convention as [[compactBucketed]]: materialize fully under
    * `<dir>_cpt_tmp`, move the old directory aside, rename in, drop —
    * a crash mid-swap strands a `_cpt_*` directory but never loses a
    * row. No-op (false) when the directory is missing or already a
    * single file. */
  def foldToOneFile(spark: SparkSession, dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return false
    if (spark.read.parquet(dir).inputFiles.length <= 1) return false
    val tmp = new org.apache.hadoop.fs.Path(dir + "_cpt_tmp")
    val old = new org.apache.hadoop.fs.Path(dir + "_cpt_old")
    Seq(tmp, old).foreach(p => if (fs.exists(p)) fs.delete(p, true))
    spark.read.parquet(dir).coalesce(1).write.parquet(tmp.toString)
    require(fs.rename(path, old), s"rename $dir -> $old failed")
    require(fs.rename(tmp, path), s"rename $tmp -> $dir failed")
    fs.delete(old, true)
    true
  }

  /** Parquet with a per-file ROW CAP — the export-side shard control: a
    * training-data drop wants files sized for its consumers (loader
    * workers, object-store part limits), independent of this job's
    * partition count. `maxRecordsPerFile` makes Spark roll to a new file
    * within a task once the cap hits, so output file sizes are bounded
    * WITHOUT a repartition (no extra shuffle; small partitions still
    * produce small files — pair with a coalesce/repartition upstream when
    * a floor matters too, that one IS a shuffle decision). WarehouseSpec
    * pins cap-compliance and row conservation. */
  def writeSharded(df: DataFrame, path: String, maxRecordsPerFile: Long): Unit = {
    // Spark treats a non-positive cap as "no limit" — fail fast instead of
    // silently writing an uncapped drop under a capped contract
    require(maxRecordsPerFile > 0, s"maxRecordsPerFile must be > 0, got $maxRecordsPerFile")
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .parquet(path)
  }

  /** A scratch directory recursively deleted at JVM exit — for declared
    * queries that materialize a per-run store (q80/q92): a bare
    * `createTempDirectory` leaks one store copy per invocation (Bench's
    * min-of-two passes = two per run), and the returned frame is LAZY, so
    * deletion can't happen before the caller consumes it — exit-time is
    * the earliest safe point. One small hook per call, bounded by
    * queries × passes per JVM. */
  def scratchDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rec(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rec))
        f.delete(): Unit
      }
      rec(dir.toFile)
    }))
    dir.toString
  }

  /** Register a catalog table's warehouse DIRECTORY for recursive
    * deletion at JVM exit — the table-name analogue of [[scratchDir]]
    * for per-run uniquely-named indexes: the in-memory catalog entry
    * dies with the session, but the directory would accumulate in the
    * shared warehouse run over run. Registering a name that never
    * materializes is a no-op. */
  def sweepTableAtExit(spark: SparkSession, table: String): Unit = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val base =
      if (wh.contains(":/")) new java.io.File(java.net.URI.create(wh.replace(" ", "%20")))
      else new java.io.File(wh)
    val target = new java.io.File(base, table.toLowerCase)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rec(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rec))
        f.delete(): Unit
      }
      rec(target)
    }))
  }

  /** CSV with a pinned schema; malformed rows land in a null-columns row
    * (PERMISSIVE) rather than failing the job — filter or count them
    * explicitly (SourceFormatSpec pins the behavior). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** JSON-lines with a pinned schema (no inference pass). */
  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)
}
