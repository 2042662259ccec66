package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: every declared query against
  * `SPARK_GRAFT_SF_DIR` (default sf0.1), one JSON line on stdout.
  *
  * Method: one untimed warm-up pass (JIT + code cache + parquet footer
  * cache), then two timed passes, min per entry, plus a third pass over
  * the entries still reading >5 s (min-of-3 — slow entries dominate the
  * total and swing the most under co-tenant load; VERDICT r14 #6). The
  * 1-min system loadavg at start and end lands in the JSON so a
  * cross-round swing is attributable to the box vs the code. Each query
  * is forced through a `noop` write so the FULL plan materializes on
  * executors — `count()` would let Catalyst prune projections and
  * under-measure scan/compute cost.
  *
  * SHARED-ARTIFACTS SWEEP (VERDICT r12 #1): the two report families
  * that share a detector — the MinHash dedup reports over
  * [[graft.operators.Dedup.artifacts]] and the embedding near-dup-graph
  * consumers over [[graft.operators.TierNineteen.celledArtifacts]] —
  * — plus the bigram-shingle set-similarity family over
  * [[graft.operators.TierHundredTwo.BigramArtifacts]] (r15) —
  * are measured the way a production pipeline runs them: the shared
  * build is timed ONCE per pass as its own entry (`a01_…`/`a02_…`/`a03_…`,
  * included in the total), and each consumer runs through its extracted
  * face from [[graft.operators.SharedFaces]] (BenchFacesSpec pins every
  * face ≡ its declared query bit for bit, so the measured plans are the
  * production plans). `Verify`'s oracle sweep stays self-contained per
  * query — each declared query still trains its own detector there, so
  * its DuckDB oracle mirrors the whole chain. Set `SPARK_GRAFT_SHARED=0`
  * to time every query self-contained (the pre-round-13 behavior).
  */
object Bench {
  /** One shared-artifact build of the sweep: its own timed entry, the
    * faces timed over it, and how to build, materialize and drop it. */
  private final class SharedBuild[A](val entry: String,
      val faces: Seq[(String, (SparkSession, String, A) => DataFrame)],
      val build: () => A)(val warm: A => Unit, val release: A => Unit)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.localSession("graft-bench")
    val sharedMode = sys.env.getOrElse("SPARK_GRAFT_SHARED", "1") != "0"

    // queries persist() small shared intermediates; drop them so a timed
    // plan never reads an earlier pass's cache. clearCache only empties the SQL
    // cache manager — localCheckpoint blocks (Components' per-round
    // truncation) are plain persisted RDDs in the block manager; drop
    // those too or they accumulate across the suite's 3 passes. The
    // System.gc() nudge: a session that has executed 40+ heavy queries
    // carries dead shuffle files / broadcasts whose cleanup is triggered
    // by driver GC (ContextCleaner holds weak refs); without it later
    // timed queries absorb the cleanup + memory pressure of earlier ones
    // (measured: q23 2.96 s solo vs 9.28 s late in the full suite).
    def deepClean(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }

    def timedWrite(name: String)(plan: => DataFrame): Double = {
      val t0 = System.nanoTime()
      try plan.write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    def exec(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      deepClean()
      timedWrite(name)(fn(spark, sfDir))
    }

    // face timing: keep the shared handle's blocks (`keep`) warm — that
    // is the point of the sweep — but drop everything ELSE (the previous
    // face's own pinned intermediates and checkpoint leaves) so each face
    // still starts cold on its own work
    def execFace(name: String, keep: Set[Int])(plan: => DataFrame): Double = {
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keep(id)) rdd.unpersist(blocking = false) }
      System.gc()
      timedWrite(name)(plan)
    }

    // dev-loop filter: SPARK_GRAFT_ONLY=q23,q26 times just those queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(n: String): Boolean = only.forall(f => f.exists(n.startsWith))

    // the shared builds: each row's timed build entry, the
    // selected faces it feeds, and its artifact's build / warm / release
    def faces[A](fs: Seq[(String, A)]): Seq[(String, A)] =
      if (sharedMode) fs.filter(p => selected(p._1)) else Nil
    def docs = Tables.load(spark, sfDir, "documents")
    val shared: Seq[SharedBuild[_]] = Seq(
      new SharedBuild("a01_dedup_artifacts_build", faces(operators.SharedFaces.dedup),
        () => operators.Dedup.artifacts(docs))(_.warm(), _.release()),
      new SharedBuild("a02_celled_artifacts_build", faces(operators.SharedFaces.celled),
        () => operators.TierNineteen.celledArtifacts(docs.select("doc_id", "text")))(
        _.warm(), _.release()),
      new SharedBuild("a03_bigram_artifacts_build", faces(operators.SharedFaces.bigram),
        () => operators.TierHundredTwo.bigramArtifacts(docs))(_.warm(), _.release()))
    val faceNames = shared.flatMap(_.faces.map(_._1)).toSet
    val plain = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => selected(n) && !faceNames(n) }

    // one shared build inside a pass: clean, time build + warm (the whole
    // build cost lands in its own entry and none of it on the first face),
    // snapshot its blocks as `keep`, run the faces, release
    def runShared[A](b: SharedBuild[A], sub: String => Boolean): Seq[(String, Double)] = {
      val sel = b.faces.filter(p => sub(p._1))
      if (sel.isEmpty && (b.faces.isEmpty || !sub(b.entry))) return Nil
      deepClean()
      var art: Option[A] = None
      val t0 = System.nanoTime()
      val tBuild = try {
        art = Some(b.build())
        b.warm(art.get)
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ${b.entry} failed: ${e.getMessage}")
        -1.0
      }
      val built = if (sub(b.entry)) Seq(b.entry -> tBuild) else Nil
      val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val timed = sel.map { case (n, f) => n -> execFace(n, keep)(f(spark, sfDir, art.get)) }
      art.foreach(b.release)
      built ++ timed
    }

    // sub: restrict a pass to a name subset (the min-of-3 re-run for
    // slow entries — VERDICT r14 #6). A face subset still pays its
    // shared-artifact build (that IS the production cost structure);
    // the build's own entry is recorded only when itself selected.
    def runPass(sub: String => Boolean = _ => true): Seq[(String, Double)] =
      plain.collect { case (n, f) if sub(n) => n -> exec(n, f) } ++
        shared.flatMap(b => runShared(b, sub))

    // 1-min system loadavg at pass boundaries (VERDICT r14 #6): co-tenant
    // load is the dominant cross-round noise source; recording it makes a
    // 20% swing attributable to the box vs the code
    def load1: Double = math.round(java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage * 100) / 100.0
    val loadStart = load1

    // SPARK_GRAFT_PASSES=1 → ONE cold timed pass, no warm-up (the scale
    // probe's mode: at 10× data a multi-pass suite costs hours and the
    // growth FACTOR, not the absolute floor, is the measurement)
    val singlePass = sys.env.get("SPARK_GRAFT_PASSES").contains("1")
    val results = (if (singlePass) runPass()
    else {
      runPass() // warm-up, untimed
      // min of two timed cold-cache passes: the machine shares cores with
      // other tenants and single-shot timings swing ±50%; the min is the
      // least-interfered measurement of the same work
      val p1 = runPass().toMap
      val p2 = runPass().map { case (n, b) =>
        val a = p1.getOrElse(n, -1.0)
        n -> (if (b >= 0 && (a < 0 || b < a)) b else a)
      }
      // min-of-3 for slow entries (VERDICT r14 #6): >5 s entries dominate
      // the total AND swing the most under co-tenancy; one extra pass over
      // just those buys the attribution without tripling the suite
      val slow = p2.collect { case (n, v) if v > 5.0 => n }.toSet
      val p3 = if (slow.isEmpty) Map.empty[String, Double]
        else runPass(slow).toMap
      p2.map { case (n, v) =>
        val c = p3.getOrElse(n, -1.0)
        n -> (if (c >= 0 && (v < 0 || c < v)) c else v)
      }
    }).sortBy(_._1)
    val loadEnd = load1
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","load1_start":$loadStart,"load1_end":$loadEnd,"queries":$qs,"sf":"$sfDir"}"""
    // compact summary BEFORE AND AFTER the full per-query line (VERDICT
    // r14 #2): the per-query line is ~10 KB at 280 queries; the driver's
    // capture has kept a stdout TAIL some rounds and a truncated head
    // others — a short self-contained record on each side parses
    // whichever end survives, and names the artifact file that always
    // holds the full map
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    val summary = s"""{"metric":"total","value":$total,"unit":"sec","n_entries":${results.size},"load1_start":$loadStart,"load1_end":$loadEnd,"artifact":"$outPath","sf":"$sfDir"}"""
    println(summary)
    println(line)
    println(summary)
    // stdout shares the pipe with sbt/Spark noise and the driver's tail
    // capture truncated round 6's line mid-stream (BENCH_r06 lost q01-q31);
    // a file copy makes the capture path irrelevant. Default lands in the
    // sbt working directory (BENCH_LAST.json) when the env var is unset.
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
