package graft.expressions

import graft.functions.{Bloom, CountMin}
import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's SQL surface — every sketch/dedup probe the Scala API
  * exposes, registered by name so a pure-SQL session can call it
  * ([[GraftFunctions.register]] imperatively, [[GraftExtensions]] via
  * `spark.sql.extensions`).
  *
  * Design rule: ONE definition per probe. Scalar builders receive the
  * analyzer's unresolved child expressions, wrap them as Columns
  * ([[GraftSqlBridge.column]]), compose the SAME Scala function the
  * DataFrame API uses ([[Bloom.mightContainCol]], [[CountMin.estCol]]),
  * and unwrap ([[GraftSqlBridge.expression]]) — so the SQL and Scala
  * paths cannot drift, and everything stays inside whole-stage codegen
  * (the compositions are built-in functions; the one native expression,
  * [[DotProduct]], has `doGenCode`). Size parameters (bits/hashes,
  * depth/width) must be INT literals: they shape the expression TREE
  * (unrolled hash rows), not row-time values.
  */
object SqlSurface {

  private def c(e: Expression): Column = GraftSqlBridge.column(e)
  private def uncol(col: Column): Expression = GraftSqlBridge.expression(col)

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an INT literal (it shapes the expression tree), got $other")
  }

  private def arity(fn: String, exprs: Seq[Expression], allowed: Int*): Unit =
    if (!allowed.contains(exprs.length)) throw new IllegalArgumentException(
      s"$fn expects ${allowed.mkString(" or ")} arguments, got ${exprs.length}")

  /** (name, usage, builder) for every scalar function. */
  val scalars: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      "graft_dot(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) - dot product (codegen'd)",
      exprs => { arity("graft_dot", exprs, 2); DotProduct(exprs.head, exprs(1)) }),

    ("graft_hamming",
      "graft_hamming(a BIGINT, b BIGINT) - Hamming distance between bit signatures",
      exprs => {
        arity("graft_hamming", exprs, 2)
        uncol(bit_count(c(exprs.head).bitwiseXOR(c(exprs(1)))).cast("bigint"))
      }),

    ("graft_bloom_maybe",
      "graft_bloom_maybe(words ARRAY<BIGINT>, id BIGINT[, bits INT, hashes INT])" +
        " - Bloom membership over a packed filter (default 512 bits, 3 hashes)",
      exprs => {
        arity("graft_bloom_maybe", exprs, 2, 4)
        val bits = if (exprs.length == 4) intLit(exprs(2), "graft_bloom_maybe", "bits") else 512
        val hashes = if (exprs.length == 4) intLit(exprs(3), "graft_bloom_maybe", "hashes") else 3
        uncol(Bloom.mightContainCol(c(exprs.head), c(exprs(1)), bits, hashes))
      }),

    ("graft_cm_est",
      "graft_cm_est(cells ARRAY<BIGINT>, id BIGINT[, depth INT, width INT])" +
        " - Count-Min point estimate over a dense-packed sketch (default 4x64)",
      exprs => {
        arity("graft_cm_est", exprs, 2, 4)
        val depth = if (exprs.length == 4) intLit(exprs(2), "graft_cm_est", "depth") else 4
        val width = if (exprs.length == 4) intLit(exprs(3), "graft_cm_est", "width") else 64
        uncol(CountMin.estCol(c(exprs.head), c(exprs(1)), depth, width))
      }),

    ("graft_simhash",
      "graft_simhash(text STRING) - per-row 63-bit ingest SimHash signature" +
        " (native codegen'd expression; xxhash64-keyed, vocabulary-free)",
      exprs => {
        arity("graft_simhash", exprs, 1)
        SimHash(exprs.head)
      }),

    ("graft_quality",
      "graft_quality(text STRING) - q31's 0-3 document quality score" +
        " (TierFour.qualityCol: length / stopword / token-length gates)",
      exprs => {
        arity("graft_quality", exprs, 1)
        uncol(graft.operators.TierFour.qualityCol(c(exprs.head)))
      }),

    ("graft_quantize_int8",
      "graft_quantize_int8(vec ARRAY<DOUBLE>) - symmetric per-vector int8" +
        " codes, round(127*v/max|v|) (native codegen'd expression)",
      exprs => {
        arity("graft_quantize_int8", exprs, 1)
        QuantizeInt8(exprs.head)
      }),

    ("graft_classifier_score",
      "graft_classifier_score(text STRING, weights ARRAY<BIGINT>) - hashed-" +
        "feature linear classifier score (native codegen'd; weights must be" +
        " a foldable array with power-of-two length - a model parameter" +
        " baked into the plan, like the sketch size arguments)",
      exprs => {
        arity("graft_classifier_score", exprs, 2)
        ClassifierScore(exprs.head,
          longArrayLit(exprs(1), "graft_classifier_score", "weights"))
      }))

  /** A model-parameter array argument: must fold to ARRAY<BIGINT> at
    * analysis time (it shapes the expression tree, like [[intLit]]). */
  private def longArrayLit(e: Expression, fn: String, arg: String): Seq[Long] = {
    val ok = e.resolved && e.foldable && (e.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (!ok) throw new IllegalArgumentException(
      s"$fn: $arg must be a foldable ARRAY<BIGINT> (a model parameter that shapes the plan), got $e")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a.toLongArray().toSeq
      case _ => throw new IllegalArgumentException(s"$fn: $arg evaluated to null")
    }
  }

  private def strLit(e: Expression, fn: String, arg: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a STRING literal naming a table/view, got $other")
  }

  /** (name, usage, builder) for every table-valued function — whole-plan
    * operators, reachable as `SELECT … FROM graft_xxx('view_name')`. The
    * argument names a table/view visible to the ACTIVE session; the builder
    * runs at analysis time on the driver, so `SparkSession.active` is the
    * session analyzing the query. */
  val tables: Seq[(String, String, Seq[Expression] => LogicalPlan)] = Seq(
    ("graft_simhash_pairs",
      "graft_simhash_pairs(sigs STRING) - banded Hamming<=3 pair join over a" +
        " (doc_id, simhash) table/view (TierSeven.hammingPairs)",
      exprs => {
        val view = exprs match {
          case Seq(Literal(s: UTF8String, StringType)) => s.toString
          case _ => throw new IllegalArgumentException(
            "graft_simhash_pairs expects one STRING literal naming a (doc_id, simhash) table/view")
        }
        val spark = SparkSession.active
        GraftSqlBridge.analyzed(
          graft.operators.TierSeven.hammingPairs(spark.table(view)))
      }),

    ("graft_cross_doc_strip",
      "graft_cross_doc_strip(docs STRING) - cross-document repeated-span" +
        " strip (keep-first-occurrence) over a (doc_id, text) table/view" +
        " (TierFourteen.stripForeignSpans)",
      exprs => {
        val view = exprs match {
          case Seq(Literal(s: UTF8String, StringType)) => s.toString
          case _ => throw new IllegalArgumentException(
            "graft_cross_doc_strip expects one STRING literal naming a (doc_id, text) table/view")
        }
        val spark = SparkSession.active
        GraftSqlBridge.analyzed(
          graft.operators.TierFourteen.stripForeignSpans(spark.table(view)))
      }),

    ("graft_gopher_flags",
      "graft_gopher_flags(docs STRING) - Gopher/MassiveText integer rule" +
        " battery over a (doc_id, text) table/view: per-doc admission flags" +
        " (TierFifteen.gopherFlags)",
      exprs => {
        val view = exprs match {
          case Seq(Literal(s: UTF8String, StringType)) => s.toString
          case _ => throw new IllegalArgumentException(
            "graft_gopher_flags expects one STRING literal naming a (doc_id, text) table/view")
        }
        val spark = SparkSession.active
        GraftSqlBridge.analyzed(
          graft.operators.TierFifteen.gopherFlags(spark.table(view)))
      }),

    ("graft_span_corrupt",
      "graft_span_corrupt(docs STRING) - T5-style deterministic span" +
        " corruption over a (doc_id, text) table/view: (input, target)" +
        " denoising pairs with numbered sentinels (TierSeventeen.spanCorrupt)",
      exprs => {
        val view = exprs match {
          case Seq(Literal(s: UTF8String, StringType)) => s.toString
          case _ => throw new IllegalArgumentException(
            "graft_span_corrupt expects one STRING literal naming a (doc_id, text) table/view")
        }
        val spark = SparkSession.active
        GraftSqlBridge.analyzed(
          graft.operators.TierSeventeen.spanCorrupt(spark.table(view)))
      }),

    ("graft_hash_embed",
      "graft_hash_embed(docs STRING, vocab STRING) - feature-hashed" +
        " signed-count 8-dim doc embedding over a (doc_id, text) table/view" +
        " against a FROZEN (token, tid) vocab-rank table/view" +
        " (TierSixteen.hashEmbed; out-of-vocab tokens drop)",
      exprs => {
        val views = exprs.map {
          case Literal(s: UTF8String, StringType) => s.toString
          case other => throw new IllegalArgumentException(
            "graft_hash_embed expects STRING literals naming (doc_id, text) docs" +
              " and (token, tid) vocab views, got " + other)
        }
        if (views.length != 2) throw new IllegalArgumentException(
          "graft_hash_embed expects exactly two view names (docs, vocab)")
        val spark = SparkSession.active
        GraftSqlBridge.analyzed(graft.operators.TierSixteen.hashEmbed(
          spark.table(views.head), spark.table(views(1))))
      }),

    ("graft_scrub_rare",
      "graft_scrub_rare(docs STRING, rare STRING) - fold tokens of the" +
        " frozen rare set into <unk> over a (doc_id, text) table/view" +
        " (TierEighteen.scrubRare; rare names a (token) table/view)",
      exprs => {
        val views = exprs.map {
          case Literal(s: UTF8String, StringType) => s.toString
          case other => throw new IllegalArgumentException(
            "graft_scrub_rare expects STRING literals naming (doc_id, text) docs" +
              " and (token) rare views, got " + other)
        }
        if (views.length != 2) throw new IllegalArgumentException(
          "graft_scrub_rare expects exactly two view names (docs, rare)")
        val spark = SparkSession.active
        GraftSqlBridge.analyzed(graft.operators.TierEighteen.scrubRare(
          spark.table(views.head), spark.table(views(1))))
      }),

    ("graft_dsir_score",
      "graft_dsir_score(docs STRING, weights STRING[, unseen INT]) - score a" +
        " (doc_id, text) table/view against FROZEN per-token DSIR importance" +
        " weights (token, lr_ppm) (TierTwentyOne.dsirApply); tokens outside" +
        " the model score `unseen` ppm (default 0)",
      exprs => {
        arity("graft_dsir_score", exprs, 2, 3)
        val views = exprs.take(2).map {
          case Literal(s: UTF8String, StringType) => s.toString
          case other => throw new IllegalArgumentException(
            "graft_dsir_score expects STRING literals naming (doc_id, text) docs" +
              " and (token, lr_ppm) weights views, got " + other)
        }
        val unseen =
          if (exprs.length == 3) intLit(exprs(2), "graft_dsir_score", "unseen") else 0
        val spark = SparkSession.active
        GraftSqlBridge.analyzed(graft.operators.TierTwentyOne.dsirApply(
          spark.table(views.head), spark.table(views(1)), unseen.toLong))
      }),

    ("graft_phrase_probe",
      "graft_phrase_probe(index STRING, term STRING, ...) - per-document" +
        " exact-phrase hit counts from a persisted positional inverted index" +
        " (LexIndex.phraseProbe); first argument names the index, the rest" +
        " are the phrase's terms in order",
      exprs => {
        val strs = exprs.map {
          case Literal(s: UTF8String, StringType) => s.toString
          case other => throw new IllegalArgumentException(
            "graft_phrase_probe expects STRING literals (index name, then phrase terms), got " + other)
        }
        if (strs.length < 2) throw new IllegalArgumentException(
          "graft_phrase_probe expects an index name and at least one phrase term")
        GraftSqlBridge.analyzed(
          graft.operators.LexIndex.phraseProbe(SparkSession.active, strs.head, strs.tail))
      }),

    ("graft_ivf_probe",
      "graft_ivf_probe(path STRING, query ARRAY<DOUBLE>[, k INT, nprobe INT])" +
        " - top-k cosine neighbors of `query` from a partitioned IVF vector" +
        " store (IvfStore.probe); k defaults 10, nprobe 1",
      exprs => {
        arity("graft_ivf_probe", exprs, 2, 3, 4)
        val path = exprs.head match {
          case Literal(s: UTF8String, StringType) => s.toString
          case other => throw new IllegalArgumentException(
            "graft_ivf_probe: path must be a STRING literal, got " + other)
        }
        val query = doubleArrayLit(exprs(1), "graft_ivf_probe", "query")
        val k = if (exprs.length >= 3) intLit(exprs(2), "graft_ivf_probe", "k") else 10
        val nprobe = if (exprs.length >= 4) intLit(exprs(3), "graft_ivf_probe", "nprobe") else 1
        GraftSqlBridge.analyzed(
          graft.operators.IvfStore.probe(SparkSession.active, path, query, k, nprobe))
      }),

    // The graph-engine twins (round-10, carried round-8 advice #5). Like
    // graft_ivf_probe, the iterative engine runs EAGERLY at analysis time
    // on the driver; the spliced plan reads the final checkpointed rank /
    // distance frame. Each twin returns the engine's `Run.once` — the
    // single-shot auto-release form: execute the SELECT once and keep the
    // output (ExpressionSpec pins that the release fires through the SQL
    // path).
    ("graft_pagerank",
      "graft_pagerank(edges STRING[, iters INT[, eps INT]]) - integer" +
        " fixed-point PageRank (nid, rank_fp) over a directed (src, dst)" +
        " edge table/view (Graph.pageRank; duplicates deduped on entry;" +
        " eps = integer L1 early-stop threshold, omit to run `iters` rounds)",
      exprs => {
        arity("graft_pagerank", exprs, 1, 2, 3)
        val view = strLit(exprs.head, "graft_pagerank", "edges")
        val iters =
          if (exprs.length >= 2) intLit(exprs(1), "graft_pagerank", "iters") else 3
        val eps =
          if (exprs.length >= 3) Some(intLit(exprs(2), "graft_pagerank", "eps").toLong)
          else None
        GraftSqlBridge.analyzed(
          graft.operators.Graph.pageRank(SparkSession.active.table(view), iters, eps).once)
      }),

    ("graft_weighted_pagerank",
      "graft_weighted_pagerank(edges STRING[, iters INT[, eps INT]]) -" +
        " integer fixed-point PageRank with PROPORTIONAL rank split over a" +
        " pre-aggregated (src, dst, w) edge table/view" +
        " (Graph.weightedPageRank)",
      exprs => {
        arity("graft_weighted_pagerank", exprs, 1, 2, 3)
        val view = strLit(exprs.head, "graft_weighted_pagerank", "edges")
        val iters =
          if (exprs.length >= 2) intLit(exprs(1), "graft_weighted_pagerank", "iters") else 3
        val eps =
          if (exprs.length >= 3)
            Some(intLit(exprs(2), "graft_weighted_pagerank", "eps").toLong)
          else None
        GraftSqlBridge.analyzed(graft.operators.Graph.weightedPageRank(
          SparkSession.active.table(view), iters, eps).once)
      }),

    ("graft_trust",
      "graft_trust(nodes STRING, edges STRING[, iters INT[, eps INT]]) -" +
        " seeded TrustRank (nid, rank_fp) over a (nid, tele BOOLEAN) node" +
        " universe and directed (src, dst) edges (Graph.trust; teleport and" +
        " dangling mass land only on tele nodes; parallel edges weight the" +
        " split — symmetrize/dedupe upstream as the semantics require)",
      exprs => {
        arity("graft_trust", exprs, 2, 3, 4)
        val nodes = strLit(exprs.head, "graft_trust", "nodes")
        val edges = strLit(exprs(1), "graft_trust", "edges")
        val iters = if (exprs.length >= 3) intLit(exprs(2), "graft_trust", "iters") else 2
        val eps =
          if (exprs.length >= 4) Some(intLit(exprs(3), "graft_trust", "eps").toLong)
          else None
        val spark = SparkSession.active
        GraftSqlBridge.analyzed(graft.operators.Graph.trust(
          spark.table(nodes), spark.table(edges), iters, eps).once)
      }),

    ("graft_bfs",
      "graft_bfs(edges STRING, sources STRING[, max_hops INT]) - exact" +
        " multi-source hop distances (nid, d) over directed (src, dst)" +
        " edges from a (nid) source table/view (Graph.bfs; omit max_hops" +
        " to run until the frontier empties — the whole reachable set)",
      exprs => {
        arity("graft_bfs", exprs, 2, 3)
        val edges = strLit(exprs.head, "graft_bfs", "edges")
        val sources = strLit(exprs(1), "graft_bfs", "sources")
        val maxHops =
          if (exprs.length >= 3) Some(intLit(exprs(2), "graft_bfs", "max_hops")) else None
        val spark = SparkSession.active
        GraftSqlBridge.analyzed(graft.operators.Graph.bfs(
          spark.table(edges), spark.table(sources), maxHops).once)
      }),

    ("graft_hits",
      "graft_hits(edges STRING[, iters INT]) - HITS hubs & authorities" +
        " (nid, hub_fp, auth_fp) at 1e9 fixed-point scale over a directed" +
        " (src, dst) edge table/view (Graph.hits; duplicates deduped;" +
        " alternating L1-normalized fixed point)",
      exprs => {
        arity("graft_hits", exprs, 1, 2)
        val view = strLit(exprs.head, "graft_hits", "edges")
        val iters = if (exprs.length >= 2) intLit(exprs(1), "graft_hits", "iters") else 2
        GraftSqlBridge.analyzed(
          graft.operators.Graph.hits(SparkSession.active.table(view), iters).once)
      }),

    ("graft_kcore",
      "graft_kcore(edges STRING, k INT[, max_rounds INT]) - k-core" +
        " membership (nid) of a (src, dst) edge table/view by iterative" +
        " degree peel (Graph.kcore; duplicates deduped on entry; pass symmetrized edges" +
        " for undirected semantics; stops at the fixpoint or after max_rounds, default 10)",
      exprs => {
        arity("graft_kcore", exprs, 2, 3)
        val view = strLit(exprs.head, "graft_kcore", "edges")
        val k = intLit(exprs(1), "graft_kcore", "k")
        val rounds =
          if (exprs.length >= 3) intLit(exprs(2), "graft_kcore", "max_rounds") else 10
        GraftSqlBridge.analyzed(
          graft.operators.Graph.kcore(SparkSession.active.table(view), k, rounds).once)
      }),

    ("graft_sssp",
      "graft_sssp(edges STRING, sources STRING[, max_rounds INT]) -" +
        " multi-source shortest-path costs (nid, d) over a (src, dst," +
        " w BIGINT>=0) edge table/view from a (nid) source table/view" +
        " (Graph.sssp Bellman-Ford; stops at the fixpoint or after" +
        " max_rounds, default 10)",
      exprs => {
        arity("graft_sssp", exprs, 2, 3)
        val edges = strLit(exprs.head, "graft_sssp", "edges")
        val sources = strLit(exprs(1), "graft_sssp", "sources")
        val rounds =
          if (exprs.length >= 3) intLit(exprs(2), "graft_sssp", "max_rounds") else 10
        val spark = SparkSession.active
        GraftSqlBridge.analyzed(graft.operators.Graph.sssp(
          spark.table(edges), spark.table(sources), rounds).once)
      }),

    ("graft_lpa",
      "graft_lpa(edges STRING[, max_rounds INT]) - synchronous label-" +
        "propagation communities (nid, label) over a (src, dst) edge" +
        " table/view (Graph.lpa; duplicates deduped on entry; mode-of-neighbors, ties to the smaller" +
        " label; stops on a no-op round or after max_rounds, default 5)",
      exprs => {
        arity("graft_lpa", exprs, 1, 2)
        val edges = strLit(exprs.head, "graft_lpa", "edges")
        val rounds =
          if (exprs.length >= 2) intLit(exprs(1), "graft_lpa", "max_rounds") else 5
        GraftSqlBridge.analyzed(
          graft.operators.Graph.lpa(SparkSession.active.table(edges), rounds).once)
      }),

    // round-11 analytics twins (r10 VERDICT #8)
    ("graft_running_max",
      "graft_running_max(table STRING, sort_cols STRING, value STRING" +
        "[, out STRING[, exclusive INT]]) - scale-safe running maximum of" +
        " `value` over the total order given by the comma-separated" +
        " `sort_cols` (Cumulative.runningMax: one PrefixScan plan node —" +
        " range partition, per-partition max, each partition's carry-in" +
        " from the earlier ones; no SinglePartition window). exclusive=1" +
        " reports the PRE-row high-water mark (Long.MinValue identity on the first row, so" +
        " `value > out` is the q164 record test)",
      exprs => {
        arity("graft_running_max", exprs, 3, 4, 5)
        val view = strLit(exprs.head, "graft_running_max", "table")
        val sorts = strLit(exprs(1), "graft_running_max", "sort_cols")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(sorts.nonEmpty, "graft_running_max: sort_cols must name >= 1 column")
        val value = strLit(exprs(2), "graft_running_max", "value")
        val out =
          if (exprs.length >= 4) strLit(exprs(3), "graft_running_max", "out")
          else "running_max"
        val exclusive =
          if (exprs.length >= 5) intLit(exprs(4), "graft_running_max", "exclusive") != 0
          else false
        val spark = SparkSession.active
        GraftSqlBridge.analyzed(graft.operators.Cumulative.runningMax(
          spark, spark.table(view), sorts.map(org.apache.spark.sql.functions.col),
          org.apache.spark.sql.functions.col(value), out, exclusive = exclusive))
      }),

    ("graft_ewma",
      "graft_ewma(grid STRING) - exact-integer EWMA control chart" +
        " (event_type, day_idx, cnt, ewma, flag) over a (event_type," +
        " day_idx, cnt) table/view (TierFiftySix.ewmaChart: e <- (7e+x)" +
        " div 8, 20% relative tripwire vs the PRE-update EWMA; per-type" +
        " sequential fold — the q197/s40 shared-step engine)",
      exprs => {
        arity("graft_ewma", exprs, 1)
        val grid = strLit(exprs.head, "graft_ewma", "grid")
        GraftSqlBridge.analyzed(graft.operators.TierFiftySix.ewmaChart(
          SparkSession.active.table(grid)))
      }),

    ("graft_cusum",
      "graft_cusum(grid STRING) - exact-integer CUSUM control chart" +
        " (event_type, day_idx, cnt, sp, sn, alarm) over a (event_type," +
        " day_idx, cnt) table/view (TierFiftyNine.cusumChart: one-sided" +
        " sums vs the frozen per-type floor-mean, slack mu/20, alarm" +
        " mu/3 — the q201 persistent-shift detector)",
      exprs => {
        arity("graft_cusum", exprs, 1)
        val grid = strLit(exprs.head, "graft_cusum", "grid")
        GraftSqlBridge.analyzed(graft.operators.TierFiftyNine.cusumChart(
          SparkSession.active.table(grid)))
      }),

    ("graft_holt",
      "graft_holt(grid STRING) - exact-integer Holt linear chart" +
        " (event_type, day_idx, cnt, level, trend, flag) over a" +
        " (event_type, day_idx, cnt) table/view" +
        " (TierSeventyNine.holtChart: l <- (x + 7(l+b)) div 8," +
        " b <- ((l'-l) + 3b) div 4, 20% relative tripwire vs the" +
        " pre-update forecast l+b — the q237/s45 shared-step engine," +
        " completing the graft_ewma/graft_cusum chart family)",
      exprs => {
        arity("graft_holt", exprs, 1)
        val grid = strLit(exprs.head, "graft_holt", "grid")
        GraftSqlBridge.analyzed(graft.operators.TierSeventyNine.holtChart(
          SparkSession.active.table(grid)))
      }),

    ("graft_acf",
      "graft_acf(grid STRING) - lag-1..7 autocorrelation of daily counts" +
        " (event_type, lag, n_pairs, acf_ppm) over a (event_type," +
        " day_idx, cnt) table/view (TierEightyThree.acfChart: frozen" +
        " full-series integer mean, dev = n*x - S, truncating division" +
        " — the q245 engine, completing the chart-family twins)",
      exprs => {
        arity("graft_acf", exprs, 1)
        val grid = strLit(exprs.head, "graft_acf", "grid")
        GraftSqlBridge.analyzed(graft.operators.TierEightyThree.acfChart(
          SparkSession.active.table(grid)))
      }),

    ("graft_dataset_card",
      "graft_dataset_card(docs STRING) - per-source corpus card (source," +
        " n_docs, n_tokens, tok_per_doc, ttr_ppm, n_langs, short_docs)" +
        " over a (source, lang, text) table/view" +
        " (TierEightyFour.cardOver — the q247 engine)",
      exprs => {
        arity("graft_dataset_card", exprs, 1)
        val docs = strLit(exprs.head, "graft_dataset_card", "docs")
        GraftSqlBridge.analyzed(graft.operators.TierEightyFour.cardOver(
          SparkSession.active.table(docs)))
      }),

    ("graft_burstiness",
      "graft_burstiness(docs STRING) - Church-Gale term burstiness" +
        " (token, cf, df, burst_ppm) over a (doc_id, text) table/view" +
        " (TierEightyFour.burstinessOver — the q248 engine; ordering" +
        " burst DESC, token ASC)",
      exprs => {
        arity("graft_burstiness", exprs, 1)
        val docs = strLit(exprs.head, "graft_burstiness", "docs")
        GraftSqlBridge.analyzed(graft.operators.TierEightyFour.burstinessOver(
          SparkSession.active.table(docs)))
      }),

    ("graft_window_funnel",
      "graft_window_funnel(events STRING, window_sec INT, step1, step2, ...)" +
        " - chained-window funnel (stage, step, users, conv_ppm) over a" +
        " (user_id, event_type, ts) table/view: each step must land" +
        " within window_sec of the previous completion, greedy-earliest" +
        " witness (TierEightyFive.funnelOver — the q249 engine)",
      exprs => {
        if (exprs.length < 3) throw new IllegalArgumentException(
          "graft_window_funnel expects (events, window_sec, step1[, step2 ...])" +
            s", got ${exprs.length} arguments")
        val view = strLit(exprs.head, "graft_window_funnel", "events")
        val winUs = intLit(exprs(1), "graft_window_funnel", "window_sec")
          .toLong * 1000000L
        val steps = exprs.drop(2).zipWithIndex.map { case (e, i) =>
          strLit(e, "graft_window_funnel", s"step${i + 1}") }
        GraftSqlBridge.analyzed(graft.operators.TierEightyFive.funnelOver(
          SparkSession.active.table(view), steps, winUs))
      }),

    ("graft_mann_kendall",
      "graft_mann_kendall(grid STRING) - tie-corrected Mann-Kendall trend" +
        " test (event_type, n_days, s_stat, var18, z_r6) over a" +
        " (event_type, day_idx, cnt) table/view" +
        " (TierEightySix.mannKendallOver — the q251 engine: S and 18*Var" +
        " exact Int64, continuity-corrected z)",
      exprs => {
        arity("graft_mann_kendall", exprs, 1)
        val grid = strLit(exprs.head, "graft_mann_kendall", "grid")
        GraftSqlBridge.analyzed(graft.operators.TierEightySix.mannKendallOver(
          SparkSession.active.table(grid)))
      }),

    ("graft_page_hinkley",
      "graft_page_hinkley(grid STRING) - Page-Hinkley running-mean drift" +
        " chart (event_type, day_idx, cnt, mean_run, ph, alarm) over a" +
        " (event_type, day_idx, cnt) table/view (TierNinety.phChart:" +
        " M accumulates x - floor-running-mean - mu/50, PH = M - min M," +
        " alarm above mu/4 — the q260/s48 shared-step engine, completing" +
        " the graft_ewma/_cusum/_holt/_acf chart family)",
      exprs => {
        arity("graft_page_hinkley", exprs, 1)
        val grid = strLit(exprs.head, "graft_page_hinkley", "grid")
        GraftSqlBridge.analyzed(graft.operators.TierNinety.phChart(
          SparkSession.active.table(grid)))
      }),

    ("graft_kendall_tau",
      "graft_kendall_tau(groups STRING) - Kendall tau-b rank association" +
        " (n_groups, concordant, discordant, ties_x, ties_y, tau_r6)" +
        " over a (gk, x, y) table/view (TierEightySix.kendallTauOver —" +
        " the q252 engine: sign-comparison concordance, group-by ties)",
      exprs => {
        arity("graft_kendall_tau", exprs, 1)
        val g = strLit(exprs.head, "graft_kendall_tau", "groups")
        GraftSqlBridge.analyzed(graft.operators.TierEightySix.kendallTauOver(
          SparkSession.active.table(g)))
      }),

    ("graft_spearman",
      "graft_spearman(groups STRING) - Spearman rho rank correlation" +
        " (n_groups, sxy, sxx, syy, rho_r6) over a (gk, x, y) table/view" +
        " (TierNinety.spearmanOver — the q259 engine: Pearson over exact" +
        " doubled average ranks, tie-correct)",
      exprs => {
        arity("graft_spearman", exprs, 1)
        val g = strLit(exprs.head, "graft_spearman", "groups")
        GraftSqlBridge.analyzed(graft.operators.TierNinety.spearmanOver(
          SparkSession.active.table(g)))
      }),

    ("graft_ks",
      "graft_ks(arms STRING) - two-sample Kolmogorov-Smirnov D between" +
        " arm 0 and arm 1 (n_a, n_b, d_num, d_ppm) over an (arm, cents)" +
        " table/view (TierNinetySeven.ksOver — the q273 engine: exact" +
        " integer cross-multiplied CDF gap, empty arm -> -1)",
      exprs => {
        arity("graft_ks", exprs, 1)
        val a = strLit(exprs.head, "graft_ks", "arms")
        GraftSqlBridge.analyzed(graft.operators.TierNinetySeven.ksOver(
          SparkSession.active.table(a)))
      }),

    ("graft_wasserstein",
      "graft_wasserstein(arms STRING) - 1-D Wasserstein (earth mover's)" +
        " distance between arm 0 and arm 1 (n_a, n_b, w1_num, w1_c2) over" +
        " an (arm, cents) table/view (TierNinetySeven.wassersteinOver —" +
        " the q274 engine: exact integral of the integer CDF gap over the" +
        " value spine, empty arm -> -1)",
      exprs => {
        arity("graft_wasserstein", exprs, 1)
        val a = strLit(exprs.head, "graft_wasserstein", "arms")
        GraftSqlBridge.analyzed(graft.operators.TierNinetySeven.wassersteinOver(
          SparkSession.active.table(a)))
      }),

    ("graft_lorenz",
      "graft_lorenz(units STRING) - Lorenz decile concentration table" +
        " (decile, n_users, mass, cum_share_ppm) over a (user_id, cents)" +
        " table/view (TierNinetyEight.lorenzDecilesOver — the q275" +
        " engine: two-pass distributed rank + prefix sum, exact ppm)",
      exprs => {
        arity("graft_lorenz", exprs, 1)
        val u = strLit(exprs.head, "graft_lorenz", "units")
        GraftSqlBridge.analyzed(graft.operators.TierNinetyEight.lorenzDecilesOver(
          SparkSession.active.table(u)))
      }),

    ("graft_gini_stump",
      "graft_gini_stump(docs STRING[, topk INT]) - one-token decision" +
        " stump table (token, n_with, gini_ppm) over a (doc_id, text," +
        " cls) table/view: the topk [default 20] document-frequency" +
        " tokens scored by count-weighted Gini impurity, best first" +
        " (TierNinetyNine.giniStumpOver — the q278 engine)",
      exprs => {
        arity("graft_gini_stump", exprs, 1, 2)
        val view = strLit(exprs.head, "graft_gini_stump", "docs")
        val topk = if (exprs.length >= 2)
          intLit(exprs(1), "graft_gini_stump", "topk") else 20
        val docs = SparkSession.active.table(view)
        val tok = docs.select(col("doc_id"), explode(
            filter(split(col("text"), " "), x => x =!= "")).as("token"))
          .distinct()
        val cands = tok.groupBy("token")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("df"))
          .orderBy(col("df").desc, col("token").asc).limit(topk)
          .select("token")
        GraftSqlBridge.analyzed(graft.operators.TierNinetyNine.giniStumpOver(
          docs.select(col("doc_id"), col("cls")), tok, cands))
      }),

    ("graft_hellinger",
      "graft_hellinger(docs STRING) - per-group Bhattacharyya/Hellinger" +
        " distance from the leave-one-out rest (grp, n_tok, bc_scaled," +
        " bc_r6, hellinger_r6) over a (grp, text) table/view" +
        " (TierEightySeven.hellingerOver on the whitespace tokens —" +
        " the q253 engine; scaled-integer BC sum, order-free)",
      exprs => {
        arity("graft_hellinger", exprs, 1)
        val docs = strLit(exprs.head, "graft_hellinger", "docs")
        val tk = SparkSession.active.table(docs)
          .select(col("grp"), explode(
            filter(split(col("text"), " "), x => x =!= "")).as("token"))
        GraftSqlBridge.analyzed(graft.operators.TierEightySeven.hellingerOver(tk))
      }),

    ("graft_allocation",
      "graft_allocation(weights STRING, seats INT) - Hamilton" +
        " largest-remainder apportionment (source, w_chars, base_seats," +
        " extra, seats) over a (source, w) table/view; sum(seats) =" +
        " seats exactly (TierEightyNine.allocate — the q258 engine)",
      exprs => {
        arity("graft_allocation", exprs, 2)
        val w = strLit(exprs.head, "graft_allocation", "weights")
        val seats = intLit(exprs(1), "graft_allocation", "seats").toLong
        GraftSqlBridge.analyzed(graft.operators.TierEightyNine.allocate(
          SparkSession.active.table(w), seats))
      }),

    ("graft_readability",
      "graft_readability(docs STRING) - FORCAST readability grade per" +
        " source (source, n_docs, n_words, mono_words, mono_ppm," +
        " grade_milli) over a (source, doc_id, text) table/view" +
        " (TierEightyNine.readabilityOver on the whitespace tokens —" +
        " the q257 engine; no sentence-boundary dependence)",
      exprs => {
        arity("graft_readability", exprs, 1)
        val docs = strLit(exprs.head, "graft_readability", "docs")
        val tk = SparkSession.active.table(docs)
          .select(col("source"), col("doc_id"), explode(
            filter(split(col("text"), " "), x => x =!= "")).as("token"))
        GraftSqlBridge.analyzed(graft.operators.TierEightyNine.readabilityOver(tk))
      }),

    ("graft_near_dup_pairs",
      "graft_near_dup_pairs(docs STRING, thr_ppm INT[, probe2 INT[, k INT]])" +
        " - celled semantic near-dup pairs (doc_a, doc_b, c) over a" +
        " (doc_id, text) table/view at cosine >= thr_ppm/1e6" +
        " (TierNineteen.celledEmbedPairsOf: Lloyd cells trained on the" +
        " 8-dim hash embeds, own + runner-up probe when probe2=1 [default]," +
        " exact-cosine verify — the q121-family PRODUCTION pair source" +
        " q143/q148/q186/q188/q190 declare)",
      exprs => {
        arity("graft_near_dup_pairs", exprs, 2, 3, 4)
        val view = strLit(exprs.head, "graft_near_dup_pairs", "docs")
        val thr = intLit(exprs(1), "graft_near_dup_pairs", "thr_ppm") / 1e6
        val probe2 =
          if (exprs.length >= 3) intLit(exprs(2), "graft_near_dup_pairs", "probe2") != 0
          else true
        val k = if (exprs.length >= 4) intLit(exprs(3), "graft_near_dup_pairs", "k") else 8
        val spark = SparkSession.active
        GraftSqlBridge.analyzed(graft.operators.TierNineteen.celledEmbedPairsOf(
          spark.table(view).select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("text")), thr, probe2, k))
      }),

    ("graft_mutual_nn",
      "graft_mutual_nn(docs STRING[, probe2 INT[, k INT]]) - reciprocal" +
        " nearest neighbors (vec_id, nn_id, cos) over a (doc_id, text)" +
        " table/view: each doc's top-1 celled-kNN neighbor" +
        " (TierNineteen.celledNnOf, 6-dp-rounded cosine rank), kept only" +
        " when mutual — q145's candidate set as a table function",
      exprs => {
        arity("graft_mutual_nn", exprs, 1, 2, 3)
        val view = strLit(exprs.head, "graft_mutual_nn", "docs")
        val probe2 =
          if (exprs.length >= 2) intLit(exprs(1), "graft_mutual_nn", "probe2") != 0
          else true
        val k = if (exprs.length >= 3) intLit(exprs(2), "graft_mutual_nn", "k") else 8
        val spark = SparkSession.active
        import org.apache.spark.sql.functions.col
        val nn = graft.operators.TierNineteen.celledNnOf(
          spark.table(view).select(col("doc_id"), col("text")), probe2, k)
        GraftSqlBridge.analyzed(
          nn.as("x").join(nn.as("y"),
              col("y.vec_id") === col("x.nn_id") && col("y.nn_id") === col("x.vec_id"))
            .filter(col("x.vec_id") < col("x.nn_id"))
            .select(col("x.vec_id").as("vec_id"), col("x.nn_id").as("nn_id"),
              col("x.cos").as("cos")))
      }),

    ("graft_pq_search",
      "graft_pq_search(embeddings STRING, query ARRAY<DOUBLE>[, k INT" +
        "[, shortlist INT]]) - product-quantization search over a" +
        " (vec_id, embedding DOUBLE[64]) table/view: per-subspace" +
        " codebooks trained in place (the q150 trainer), ADC shortlist" +
        " (default 100), exact re-rank to (vec_id, dist) top-k (default" +
        " 10) — TierThirtyThree.pqSearch, the q151 two-stage shape; a" +
        " query drawn from the table ranks itself first at dist 0",
      exprs => {
        arity("graft_pq_search", exprs, 2, 3, 4)
        val view = strLit(exprs.head, "graft_pq_search", "embeddings")
        val query = doubleArrayLit(exprs(1), "graft_pq_search", "query")
        val k = if (exprs.length >= 3) intLit(exprs(2), "graft_pq_search", "k") else 10
        val short =
          if (exprs.length >= 4) intLit(exprs(3), "graft_pq_search", "shortlist") else 100
        val spark = SparkSession.active
        val emb = spark.table(view)
          .select(org.apache.spark.sql.functions.col("vec_id"),
            org.apache.spark.sql.functions.col("embedding")
              .cast("array<double>").as("e"))
        GraftSqlBridge.analyzed(
          graft.operators.TierThirtyThree.pqSearch(emb, query, k, short))
      }),

    ("graft_srm",
      "graft_srm(events STRING) - sample-ratio-mismatch gate (n_users," +
        " n_a, n_b, chi2_ppm, srm_flag) over any table/view with a" +
        " user_id column: per-arm distinct-user chi-square vs the 50/50" +
        " assignment-hash expectation, alarm bit cross-multiplied in" +
        " integers (TierSixtySix.srmReport — the q215 pre-readout" +
        " integrity gate; a fire voids every downstream readout)",
      exprs => {
        arity("graft_srm", exprs, 1)
        val view = strLit(exprs.head, "graft_srm", "events")
        val spark = SparkSession.active
        GraftSqlBridge.analyzed(
          graft.operators.TierSixtySix.srmReport(spark, spark.table(view)))
      }),

    ("graft_join_size",
      "graft_join_size(table STRING, key STRING) - exact self-join size" +
        " prediction (n_keys, n_rows, predicted_rows, max_key_rows," +
        " top1_share_ppm) for `table` joined to itself on `key`, WITHOUT" +
        " running the join: sum over keys of cnt^2 from one keyed count" +
        " (TierSixtyFive.joinSizeReport — the q213 run-it-first gate" +
        " before any candidate self-join; DECIMAL(38,0) envelopes)",
      exprs => {
        arity("graft_join_size", exprs, 2)
        val view = strLit(exprs.head, "graft_join_size", "table")
        val key = strLit(exprs(1), "graft_join_size", "key")
        val spark = SparkSession.active
        GraftSqlBridge.analyzed(graft.operators.TierSixtyFive.joinSizeReport(
          spark, spark.table(view), key))
      }),

    ("graft_trend_fit",
      "graft_trend_fit(grid STRING) - exact-integer OLS per group" +
        " (event_type, n_days, slope_ppm, icept_ppm, r2_ppm) over a" +
        " (event_type, x, y) table/view: six Int64 scalars per group" +
        " partial+final, BigInt driver closure, truncating division" +
        " (TierSixtyThree.trendFitDf — the q210 engine; constant series" +
        " reports r2 = 10^6)",
      exprs => {
        arity("graft_trend_fit", exprs, 1)
        val grid = strLit(exprs.head, "graft_trend_fit", "grid")
        GraftSqlBridge.analyzed(graft.operators.TierSixtyThree.trendFitDf(
          SparkSession.active.table(grid)))
      }),

    ("graft_ivm_fold",
      "graft_ivm_fold(deltas STRING) - additive IVM fold (user_id," +
        " n_net, revenue_net_c) over a (user_id, m, cents) change" +
        " table/view: per-key net multiplicity and net cents, keys at" +
        " the GROUP IDENTITY (both nets zero) deleted" +
        " (TierSixtyThree.ivmFold — the q209 maintained view; compose" +
        " with yesterday's snapshot via TierSixtyThree.maintain)",
      exprs => {
        arity("graft_ivm_fold", exprs, 1)
        val view = strLit(exprs.head, "graft_ivm_fold", "deltas")
        GraftSqlBridge.analyzed(graft.operators.TierSixtyThree.ivmFold(
          SparkSession.active.table(view)))
      }),

    ("graft_co_pairs",
      "graft_co_pairs(table STRING, key STRING, item STRING[, salts" +
        " INT]) - salted within-key co-occurrence self-join (k, ia, ib)" +
        " over any table/view: every ordered pair of distinct `item`s" +
        " sharing a `key`, the left leg salted hash(item) mod salts" +
        " (default 8), the right leg replicated — a whale key's d^2 pair" +
        " rows spread salts-way instead of landing in one join task" +
        " (Skew.saltedCoPairs — the declared production shape for" +
        " q146/q154/q182's co-occurrence expansions)",
      exprs => {
        arity("graft_co_pairs", exprs, 3, 4)
        val view = strLit(exprs.head, "graft_co_pairs", "table")
        val key = strLit(exprs(1), "graft_co_pairs", "key")
        val item = strLit(exprs(2), "graft_co_pairs", "item")
        val salts =
          if (exprs.length >= 4) intLit(exprs(3), "graft_co_pairs", "salts") else 8
        val spark = SparkSession.active
        import org.apache.spark.sql.functions.col
        GraftSqlBridge.analyzed(graft.operators.Skew.saltedCoPairs(
          spark.table(view), col(key), col(item), salts))
      }),

    ("graft_k_anonymity",
      "graft_k_anonymity(table STRING, c1 STRING, c2 STRING[, k INT]) -" +
        " k-anonymity audit (c1, c2, n_rows, k_anonymous, suppress_ppm)" +
        " over any table/view: group sizes of the quasi-identifier pair," +
        " k >= 5 (default) anonymity flag, and the corpus share a" +
        " k-anonymous release would suppress" +
        " (TierSeventySix.kAnonymityOver — q232's metadata-privacy gate)",
      exprs => {
        arity("graft_k_anonymity", exprs, 3, 4)
        val view = strLit(exprs.head, "graft_k_anonymity", "table")
        val c1 = strLit(exprs(1), "graft_k_anonymity", "c1")
        val c2 = strLit(exprs(2), "graft_k_anonymity", "c2")
        val k = if (exprs.length >= 4) intLit(exprs(3), "graft_k_anonymity", "k") else 5
        GraftSqlBridge.analyzed(graft.operators.TierSeventySix.kAnonymityOver(
          SparkSession.active.table(view), c1, c2, k.toLong))
      }),

    ("graft_l_diversity",
      "graft_l_diversity(table STRING, c1 STRING, c2 STRING, sensitive" +
        " STRING[, l INT]) - l-diversity audit (c1, c2, n_rows," +
        " l_distinct, l_diverse) over any table/view: per quasi-" +
        "identifier group the distinct count of the sensitive column," +
        " flagged at l >= 3 (default) — a k-anonymous group can still be" +
        " sensitive-concentrated (TierSeventyNine.lDiversityOver —" +
        " q238's companion gate to graft_k_anonymity)",
      exprs => {
        arity("graft_l_diversity", exprs, 4, 5)
        val view = strLit(exprs.head, "graft_l_diversity", "table")
        val c1 = strLit(exprs(1), "graft_l_diversity", "c1")
        val c2 = strLit(exprs(2), "graft_l_diversity", "c2")
        val sens = strLit(exprs(3), "graft_l_diversity", "sensitive")
        val l = if (exprs.length >= 5) intLit(exprs(4), "graft_l_diversity", "l") else 3
        GraftSqlBridge.analyzed(graft.operators.TierSeventyNine.lDiversityOver(
          SparkSession.active.table(view), c1, c2, sens, l.toLong))
      }),

    ("graft_resample",
      "graft_resample(table STRING, key STRING, weight STRING[, slots" +
        " INT]) - systematic weighted resample (key, weight, mult) over" +
        " any table/view: slots (default 1024) training draws" +
        " proportional to `weight`, deterministically — two-pass prefix" +
        " sum in key order, fixed stride, mult = boundary crossings" +
        " (TierSeventySeven.resampleOver — q233's PPS epoch oversample)",
      exprs => {
        arity("graft_resample", exprs, 3, 4)
        val view = strLit(exprs.head, "graft_resample", "table")
        val key = strLit(exprs(1), "graft_resample", "key")
        val w = strLit(exprs(2), "graft_resample", "weight")
        val slots =
          if (exprs.length >= 4) intLit(exprs(3), "graft_resample", "slots") else 1024
        GraftSqlBridge.analyzed(graft.operators.TierSeventySeven.resampleOver(
          SparkSession.active.table(view), key, w, slots.toLong))
      }),

    ("graft_run_lengths",
      "graft_run_lengths(table STRING, pos STRING, key STRING) - per-key" +
        " run-length report (key, n_rows, n_runs, max_run, clump_ppm)" +
        " over any pre-positioned table/view: gaps-and-islands of" +
        " consecutive positions sharing a key — the interleave/clumping" +
        " audit (TierSeventySeven.runLengthsOver — q234's engine; the" +
        " O(1)-state live twin is streaming.RunMonitor/s44)",
      exprs => {
        arity("graft_run_lengths", exprs, 3)
        val view = strLit(exprs.head, "graft_run_lengths", "table")
        val pos = strLit(exprs(1), "graft_run_lengths", "pos")
        val key = strLit(exprs(2), "graft_run_lengths", "key")
        GraftSqlBridge.analyzed(graft.operators.TierSeventySeven.runLengthsOver(
          SparkSession.active.table(view), pos, key))
      }))

  /** The ARRAY<DOUBLE> twin of [[longArrayLit]] — a query vector is an
    * analysis-time plan parameter for the table functions (the probe's
    * centroid ranking runs on the driver before the plan exists). */
  private def doubleArrayLit(e: Expression, fn: String, arg: String): Seq[Double] = {
    val ok = e.resolved && e.foldable && (e.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, _) => true
      case _ => false
    })
    if (!ok) throw new IllegalArgumentException(
      s"$fn: $arg must be a foldable ARRAY<DOUBLE> (an analysis-time plan parameter), got $e")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a.toDoubleArray().toSeq
      case _ => throw new IllegalArgumentException(s"$fn: $arg evaluated to null")
    }
  }
}
