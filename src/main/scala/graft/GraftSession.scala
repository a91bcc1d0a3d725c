package graft

import graft.functions.SimHash64
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.CatalystBridge

/**
 * Session bootstrap: registers graft's native Catalyst expressions and the
 * [[graft.pipeline.SortLocalRelation]] optimizer rule via the public
 * `SparkSessionExtensions` API and applies the scale-oriented
 * defaults (AQE, skew handling, sized shuffle partitions).
 *
 * Usable two ways:
 *  - `GraftSession.builder(appName = ...)` for a local session sized to
 *    the machine (`SPARK_GRAFT_CPUS` overrides the core count);
 *  - `--conf spark.sql.extensions=graft.GraftExtensions` on a real cluster.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import graft.functions._
  import org.apache.spark.sql.catalyst.expressions.Literal

  /** Extract a literal Int argument (SQL-side parameters like band counts
    * must be constants — they size driver-built structures). */
  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, _)  => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Sorts over a small driver-held result run on the driver (no job).
    ext.injectOptimizerRule(_ => graft.pipeline.SortLocalRelation)

    def inject(name: String, builder: Seq[Expression] => Expression,
               clazz: Class[_]): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        builder))

    // Every graft native expression, callable from CUSTOM SQL stages —
    // the reference's escape hatch thereby reaches the training-data
    // primitives: e.g.
    //   SELECT a.doc_id, b.doc_id FROM t a JOIN t b
    //   ON simhash64(hashed_tokens(a.text)) = simhash64(hashed_tokens(b.text))
    inject("simhash64", cs => SimHash64(cs.head), classOf[SimHash64])
    inject("hashed_tokens", cs => HashedTokens(cs.head), classOf[HashedTokens])
    inject("hashed_shingles", cs => HashedShingles(cs(0),
      intArg(cs(1), "hashed_shingles", 1)), classOf[HashedShingles])
    inject("quality_metrics", cs => QualityMetrics(cs.head), classOf[QualityMetrics])
    inject("repetition_metrics", cs => RepetitionMetrics(cs(0),
      intArg(cs(1), "repetition_metrics", 1)), classOf[RepetitionMetrics])
    inject("gopher_keep", cs => GopherKeep(cs(0),
      intArg(cs(1), "gopher_keep", 1), intArg(cs(2), "gopher_keep", 2)),
      classOf[GopherKeep])
    inject("string_shingles", cs => StringShingles(cs(0),
      intArg(cs(1), "string_shingles", 1)), classOf[StringShingles])
    inject("nfc_normalize", cs => NfcNormalize(cs.head), classOf[NfcNormalize])
    inject("deflate_size", cs => DeflateSize(cs.head), classOf[DeflateSize])
    inject("minhash_sig", cs => MinHashSig(cs(0),
      intArg(cs(1), "minhash_sig", 1)), classOf[MinHashSig])
    inject("winnowed_fingerprints", cs => WinnowedFps(cs(0),
      intArg(cs(1), "winnowed_fingerprints", 1),
      intArg(cs(2), "winnowed_fingerprints", 2)), classOf[WinnowedFps])
    inject("hyperplane_sig", cs => HyperplaneSig(cs(0),
      intArg(cs(1), "hyperplane_sig", 1)), classOf[HyperplaneSig])
    inject("band_keys", cs => BandKeys(cs(0),
      intArg(cs(1), "band_keys", 1), intArg(cs(2), "band_keys", 2)),
      classOf[BandKeys])
    inject("native_dot", cs => NativeDot(cs(0), cs(1)), classOf[NativeDot])
    inject("native_cosine", cs => NativeCosine(cs(0), cs(1)), classOf[NativeCosine])
    inject("native_l2_distance", cs => NativeL2Distance(cs(0), cs(1)),
      classOf[NativeL2Distance])

    // Composed-expression functions (pure Column chains, no custom
    // Expression class): the builder applies the composition and hands
    // Catalyst the resulting tree — same codegen as the DataFrame path.
    def injectComposed(name: String, f: Column => Column): Unit =
      inject(name, cs => {
        if (cs.length != 1) throw new IllegalArgumentException(
          s"$name expects exactly 1 argument, got ${cs.length}")
        CatalystBridge.resolvedExpression(f(CatalystBridge.column(cs.head)))
      }, classOf[GraftExtensions])
    injectComposed("canonical_url", graft.operators.Web.canonicalUrl)
    injectComposed("extract_html_text", graft.operators.Web.extractText)
    inject("script_profile", cs => ScriptProfile(cs.head), classOf[ScriptProfile])
    inject("simpson_chars", cs => SimpsonChars(cs.head), classOf[SimpsonChars])
    inject("simpson_tokens", cs => SimpsonTokens(cs.head), classOf[SimpsonTokens])
    inject("dsir_buckets", cs => DsirBuckets(cs(0),
      intArg(cs(1), "dsir_buckets", 1)), classOf[DsirBuckets])
    // aggregate function: the analyzer wraps a bare AggregateFunction
    // in its AggregateExpression, so the builder returns it directly
    inject("topk_pairs", cs => TopKPairs(
      org.apache.spark.sql.catalyst.expressions.Cast(cs(0),
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.catalyst.expressions.Cast(cs(1),
        org.apache.spark.sql.types.LongType),
      intArg(cs(2), "topk_pairs", 2)), classOf[TopKPairs])
  }
}

object GraftSession {

  /** `simhash64` as a Column function — works on any session (the Catalyst
    * expression is attached directly; SQL-name registration additionally
    * happens in sessions built with [[GraftExtensions]]). */
  def simhash64(c: Column): Column =
    CatalystBridge.column(SimHash64(CatalystBridge.expression(c)))

  /** Cores a local session runs on: `SPARK_GRAFT_CPUS` when the
    * deployment sets it, else every core the JVM sees. The one place a
    * core count is decided; [[builder]] sizes `master` and the shuffle
    * partitions from it. */
  private def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A local session sized to [[cores]] (pass `master` and
    * `shufflePartitions` to size it otherwise), with graft's native
    * expressions registered and the scale-oriented defaults applied. */
  def builder(
      master: String = s"local[$cores]",
      shufflePartitions: Int = cores,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      // Sized for local[N]; on a 1000-executor cluster AQE coalescing makes
      // the initial number a ceiling, not a fixed cost. The AQE coalescing
      // floor stays at Spark's 1 MB default: a 64 KB floor parallelized
      // byte-small compute-heavy reduce stages (q_basket_rules' 1.9 MB
      // pair-explosion stage) but measured a NET loss — the extra tiny
      // tasks taxed the many window/agg queries more than the few
      // CPU-bound stages gained (OPTIMIZATION_r10.md).
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Codegen class cache (static conf, default 100 entries): one
      // iterative query (pageRank = ~25 stages and their broadcast
      // builds) plus its warmup can exceed 100 generated classes, so a
      // repeat run recompiles EVERYTHING — measured 20+ s of serialized
      // Janino compiles on q_graph_pagerank's first run and, whenever
      // the LRU thrashed, on later runs too (the r10 driver board read
      // 29 s for a 5.6 s steady-state query). Driver-side memory only
      // (~tens of KB per entry); at cluster scale compile time is noise
      // against data time, but the cache hit keeps repeated interactive
      // plans cheap there too.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Cached-table columnar compression OFF: the IMR build otherwise
      // runs a per-value compression-scheme stats pass (RLE candidate
      // scan = boxed equality per cell — jstack'd 12 task threads in
      // CompressibleColumnBuilder.gatherCompressibilityStats during the
      // graph setup; ~14 s summed task CPU per cached |E| string frame
      // at sf0.1). The operators' caches are short-lived per-query
      // frames, re-read a handful of times and freed — CPU, not memory,
      // is their binding constraint.
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      // Split even small files across all cores: a single-file scan
      // otherwise pins compute-heavy per-row expressions (shingling,
      // hashing) to ONE task regardless of cluster size.
      .config("spark.sql.files.minPartitionNum", shufflePartitions.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.ts is parquet TIMESTAMP(NANOS) — see Ingest.loadDir
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
