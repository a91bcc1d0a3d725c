package graft

import graft.model._
import graft.operators.{Ann, Dedup}
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.functions.TimeFunctions.epochMicros
import graft.pipeline.PipelineExecutor
import graft.sources.Ingest
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Driver contract: one `queries` entry per implemented operator from
 * SURVEY.md §2 (plus the training-data extensions), each with a DuckDB
 * oracle SQL where the semantics are SQL-expressible.
 *
 * Relational queries run through the real engine path — Stage ADT →
 * StageCompiler → PipelineExecutor — not hand-written DataFrame code, so
 * the correctness gate exercises the same code a user of the stage algebra
 * would (reference: ui/src/sqlGenerator.ts:6-124, ui/src/App.tsx:551-662).
 *
 * Float-determinism policy: SUM/AVG over doubles are order-dependent and
 * will not hash-match an oracle, so headline aggregates cast to
 * DECIMAL(18,2) before summing (exact, associative) and compute AVG as
 * CAST(sum_decimal AS DOUBLE) / count (both sides then do the identical
 * IEEE division). MIN/MAX/COUNT are exact as-is.
 */
object SparkEntry {

  // ---------------------------------------------------------------- helpers

  /** Per-(session, dir) table cache — parquet footer inference is a Spark
    * job; don't repeat it for each of the ~30 gate queries. */
  private val tableCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Map[String, DataFrame]]

  private[graft] def executor(spark: SparkSession, dir: String): PipelineExecutor = {
    val tables = tableCache.getOrElseUpdate((spark, dir), Ingest.loadDir(spark, dir))
    val ex = new PipelineExecutor(spark)
    tables.foreach { case (n, df) => ex.register(n, df) }
    ex
  }

  /** Run stages through the pipeline executor over the testdata tables. */
  private def pipe(stages: Stage*)(spark: SparkSession, dir: String): DataFrame =
    executor(spark, dir).run(stages.toSeq)

  /** Round-robin-spread a SMALL unsplittable scan across the cluster.
    * The driver's testdata parquet is written as ONE row group per
    * file, and parquet cannot split below row-group granularity:
    * whatever `files.minPartitionNum` asks for, every row lands in one
    * split, so every pre-shuffle per-row expression (shingling,
    * hashing, the covariance d²-explode, decimal moment products) runs
    * on ONE task (measured: q_dedup_substring spent 1.78 s of 3.38 s
    * in a single-task window-digest scan; q_embed_covariance ran its
    * whole 10M-cell explode serially). Guide §2.5: an unsplittable
    * input is repartitioned immediately after the read, to
    * `defaultParallelism` tasks: a width-only A/B at fixed 32 cores
    * read linkage_score 1.85/2.73/3.16 s at widths 32/16/8 — the
    * linkage probe wants the full machine. Engages only while the
    * relation's stats size is at most 64 MB: a production-scale input
    * has many row groups, splits naturally, and must never pay a
    * corpus shuffle here — the spread shuffle is by construction
    * bounded by that threshold. Applied PER GATE, only where a
    * single-task scan stage measurably dominates (the covariance/PCA
    * d²-explode, the substring window-digest pass) — a blanket spread
    * of the docs/embeddings helpers was tried and measurably TAXED the
    * many light consumers (the exchange costs more than the 1-task scan
    * it parallelizes; A/B/C/D experiments in OPTIMIZATION_r10.md). */
  private def spread(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= (64L << 20))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Subject table for the survival gates: one row per user with
    * duration = whole days (µs delta DIV 86400000000 — exact integer
    * division, engine-identical) from first event to first purchase,
    * censored at the last observed event when the user never purchases;
    * grouped by user-id parity so the two curves are comparable. */
  private def survivalSubjects(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        min(epochMicros(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase", epochMicros(col("ts"))))
          .as("tp"),
        max(epochMicros(col("ts"))).as("tmax"))
      .select(
        when(col("user_id") % 2 === 0, lit("even")).otherwise(lit("odd"))
          .as("grp0"),
        expr("CAST((coalesce(tp, tmax) - t0) DIV 86400000000 AS DOUBLE)")
          .as("dur"),
        col("tp").isNotNull.as("ev"))

  /** [[survivalSubjects]] with durations in fractional SECONDS
    * (µs delta / 10⁶, an exact double for deltas < 2⁵³ µs) — the
    * wide-range gate's continuous-duration shape: nearly every
    * subject is a distinct 6-dp event time. */
  private def survivalSubjectsSeconds(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        min(epochMicros(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase", epochMicros(col("ts"))))
          .as("tp"),
        max(epochMicros(col("ts"))).as("tmax"))
      .select(
        when(col("user_id") % 2 === 0, lit("even")).otherwise(lit("odd"))
          .as("grp0"),
        (coalesce(col("tp"), col("tmax")) - col("t0")).cast("double")
          ./(lit(1000000.0)).as("dur"),
        col("tp").isNotNull.as("ev"))

  /** Shared shape of the basket gates: baskets = users, items = the
    * props.k JSON tag. */
  private def basketGate(events: DataFrame, cap: Option[Long]): DataFrame =
    graft.operators.Basket.associationRules(
        events.select(col("user_id"),
          get_json_object(col("props"), "$.k").as("item")),
        "user_id", "item", minSupport = 0.25, maxBasketSize = cap)
      .orderBy("antecedent", "consequent")

  /** Shared shape of the four attribution gates: conversions are
    * purchase events, channels are the other event types, event_id
    * breaks same-timestamp ties. */
  private def attributionGate(events: DataFrame, model: String): DataFrame =
    graft.operators.Attribution.credit(
        events.select(
          col("user_id"), epochMicros(col("ts")).as("t_us"), col("event_id"),
          col("event_type").as("channel"),
          (col("event_type") === "purchase").as("is_conv")),
        "user_id", "t_us", "event_id", "channel", "is_conv", model)
      .orderBy("channel")

  /** Deterministic (score, label) pairs for the classifier-audit gates:
    * score = 37·doc_id mod 101 scaled to [0, 1] plus a 0.15 bump for
    * English docs (ties + class separation), label = lang = 'en'. */
  private def scoredDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      round((col("doc_id") * 37 % 101).cast("double") / lit(100.0) +
        when(col("lang") === "en", lit(0.15)).otherwise(lit(0.0)), 6)
        .as("score"),
      (col("lang") === "en").as("label"))

  /** Deterministic pairwise-comparison stream for the arena gates:
    * each event pits item `event_id % 7` against `(event_id div 7) % 7`
    * (self-matches dropped); the lower-numbered item wins unless
    * `event_id % 3 == 0` (a 1-in-3 upset), so strengths decrease in
    * item id with every matchup observed both ways. */
  private def arenaComparisons(s: SparkSession, d: String): DataFrame = {
    val base = executor(s, d).table("events")
      .select(col("event_id"), (col("event_id") % 7).as("a"),
        (expr("event_id div 7") % 7).as("b"))
      .filter(col("a") =!= col("b"))
    base.select(
      when(col("event_id") % 3 > 0, least(col("a"), col("b")))
        .otherwise(greatest(col("a"), col("b"))).as("w"),
      when(col("event_id") % 3 > 0, greatest(col("a"), col("b")))
        .otherwise(least(col("a"), col("b"))).as("l"))
  }

  /** Tie-aware arena stream: `(a, b, outcome)` with outcome for side a
    * — 0.5 (tie) when `event_id % 6 == 0`, else side a wins 2 of 3
    * (`event_id % 3 > 0`), b the rest. */
  private def arenaTies(s: SparkSession, d: String): DataFrame =
    executor(s, d).table("events")
      .select(col("event_id"), (col("event_id") % 7).as("a"),
        (expr("event_id div 7") % 7).as("b"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        when(col("event_id") % 6 === 0, lit(0.5))
          .when(col("event_id") % 3 > 0, lit(1.0))
          .otherwise(lit(0.0)).as("outcome"))

  /** (pred, gold) pairs for the generation-eval gates: every 7th document
    * is the prediction; the reference alternates between the document
    * itself (doc_id % 14 == 0 — exact match) and the NEXT document
    * (partial overlap), so F1/BLEU exercise both regimes. Inner join
    * drops a trailing doc whose successor doesn't exist — mirrored by
    * the oracle's JOIN. */
  private def evalPairs(s: SparkSession, d: String): DataFrame = {
    val ds = docs(s, d)
    ds.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("id"), col("text").as("pred"),
        when(col("doc_id") % 14 === 0, col("doc_id"))
          .otherwise(col("doc_id") + 1).as("__gid"))
      .join(ds.select(col("doc_id").as("__gid"), col("text").as("gold")),
        Seq("__gid"))
      .select("id", "pred", "gold")
  }

  private def st(n: Int): String = s"stage_$n"

  /** Synthetic pHash corpus for the hamming-dedup gates: 64-bit hashes
    * from two independent 31-bit multiplicative halves (every 16-bit
    * chunk varies — see the q_dedup_phash scaladoc for why that's
    * load-bearing), plus a Hamming-2 twin (bits 0,2 flipped) per doc. */
  private def phashCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select(col("doc_id").as("id"),
      (((col("doc_id") * lit(2654435761L)) % lit(2147483647L)) * lit(4294967296L) +
        (col("doc_id") * lit(40503L)) % lit(2147483647L)).as("fp"))
    base.unionByName(base.select((col("id") + lit(1000000L)).as("id"),
      col("fp").bitwiseXOR(lit(5L)).as("fp")))
  }

  /** Mixed JSON/prose corpus for the structured-data gate: even ids get
    * a concat-constructed JSON object (identical string on the DuckDB
    * side by the same concatenation), odd ids a guaranteed-invalid
    * prose payload. */
  private def jsonMixed(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit("{\"id\": "), col("doc_id"), lit(", \"lang\": \""),
          col("lang"), lit("\"}")))
        .otherwise(concat(lit("not-json: "), col("text"))).as("payload"))

  /** documents re-shaped as conversation turns for the SFT gates:
    * conv = doc_id div 4, turn = doc_id mod 4, roles alternate by id
    * parity — a deterministic conversation-log stand-in. */
  private def sftTurns(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      expr("doc_id div 4").as("conv_id"),
      pmod(col("doc_id"), lit(4)).as("turn"),
      when(pmod(col("doc_id"), lit(2)) === 0, lit("user"))
        .otherwise(lit("assistant")).as("role"),
      col("text").as("content"))

  /** Per-JVM-scoped tmp dir for export round-trip gates: two concurrent
    * driver/test runs on one machine must not clobber each other's
    * export mid-read (same name per JVM keeps repeated bench runs from
    * accumulating garbage dirs). */
  private def exportDir(spark: SparkSession, name: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"${name}_${spark.sparkContext.applicationId}").getPath

  // -------------------------------------------------------------- flagship

  /** Flagship: chained JOIN → FILTER → GROUP → SORT pipeline on sf0.001
    * with implicit previous-result chaining (ui/src/App.tsx:567-592). */
  def entry(spark: SparkSession): DataFrame =
    chainedPipeline(spark, "/root/testdata/sf0.001")

  private def chainedPipeline(spark: SparkSession, dir: String): DataFrame =
    pipe(
      JoinStage(st(1), "join orders to customers", "INNER",
        "orders", "customer", "o_custkey", "c_custkey"),
      FilterStage(st(2), "keep big orders", None,
        Seq(FilterCondition("o_totalprice", ">", "1000"))),
      GroupStage(st(3), "orders per segment", None,
        Seq("c_mktsegment"),
        Seq(Aggregation("count", "*", Some("n_orders")),
          Aggregation("sum", "CAST(o_totalprice AS DECIMAL(18,2))", Some("revenue_dec")))),
      // Exact decimal sum, then back to DOUBLE per the float-determinism
      // convention (decimal stringification is not canonical across engines).
      SelectStage(st(4), "double-cast revenue", None, Seq(
        "c_mktsegment", "n_orders", "CAST(revenue_dec AS DOUBLE) AS revenue")),
      SortStage(st(5), "largest segments first", None,
        Seq(SortKey("n_orders", "DESC"), SortKey("c_mktsegment", "ASC")))
    )(spark, dir)

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -------- FILTER (ui/src/sqlGenerator.ts:39-62)
    "q_filter_gt" -> ((s, d) => pipe(
      FilterStage(st(1), "quantity filter", Some("lineitem"),
        Seq(FilterCondition("l_quantity", ">", "30"))),
      SelectStage(st(2), "project", None,
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")))(s, d)),

    "q_filter_andor" -> ((s, d) => pipe(
      FilterStage(st(1), "mixed AND/OR with SQL precedence", Some("lineitem"), Seq(
        FilterCondition("l_returnflag", "=", "A"),
        FilterCondition("l_quantity", ">", "30", Some("AND")),
        FilterCondition("l_linestatus", "=", "F", Some("OR")),
        FilterCondition("l_discount", "<", 0.05, Some("AND")))),
      SelectStage(st(2), "project", None,
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
          "l_quantity", "l_discount")))(s, d)),

    "q_filter_in" -> ((s, d) => pipe(
      FilterStage(st(1), "region keys in list", Some("nation"),
        Seq(FilterCondition("n_regionkey", "IN", "(1, 2)"))))(s, d)),

    "q_filter_notin" -> ((s, d) => pipe(
      FilterStage(st(1), "nation keys not in list", Some("supplier"),
        Seq(FilterCondition("s_nationkey", "NOT IN", "(0, 1, 2, 3)"))))(s, d)),

    "q_filter_like" -> ((s, d) => pipe(
      FilterStage(st(1), "name pattern", Some("part"),
        Seq(FilterCondition("p_name", "LIKE", "%a%"))),
      SelectStage(st(2), "project", None, Seq("p_partkey", "p_name")))(s, d)),

    "q_filter_range" -> ((s, d) => pipe(
      FilterStage(st(1), "range + inequality", Some("lineitem"), Seq(
        FilterCondition("l_quantity", ">=", "10"),
        FilterCondition("l_quantity", "<=", "20", Some("AND")),
        FilterCondition("l_returnflag", "!=", "N", Some("AND")))),
      SelectStage(st(2), "project", None,
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")))(s, d)),

    "q_filter_date" -> ((s, d) => pipe(
      FilterStage(st(1), "shipped after date", Some("lineitem"),
        Seq(FilterCondition("l_shipdate", ">", "1996-01-01"))),
      SelectStage(st(2), "project", None,
        Seq("l_orderkey", "l_linenumber", "l_shipdate")))(s, d)),

    // Adversarial literal-coercion parity (SURVEY §7.3, the known
    // cross-engine cliff): whitespace-padded numerics, Infinity, and a
    // fractional string against a BIGINT column — which DuckDB ROUNDS
    // ('13.5' matches 14), the rule StageCompiler now reproduces via an
    // explicit decimal round. Oracle-checked against DuckDB verbatim.
    "q_filter_coerce" -> ((s, d) => pipe(
      FilterStage(st(1), "padded / special / fractional literals", Some("events"), Seq(
        FilterCondition("value", ">", " 42 "),
        FilterCondition("value", "<", "Infinity", Some("AND")),
        FilterCondition("user_id", "=", "13.5", Some("OR")),
        FilterCondition("value", ">=", ".5", Some("AND")))),
      SelectStage(st(2), "project", None,
        Seq("event_id", "user_id", "value")))(s, d)),

    // Scientific notation, NaN ordering (NaN sorts greatest in BOTH
    // engines), sign prefix, and trailing-point literals.
    "q_filter_coerce_special" -> ((s, d) => pipe(
      FilterStage(st(1), "sci / NaN / signed literals", Some("events"), Seq(
        FilterCondition("value", ">", "1e2"),
        FilterCondition("value", "!=", "NaN", Some("AND")),
        FilterCondition("value", ">=", "+4", Some("OR")),
        FilterCondition("value", "<=", "5.", Some("AND")))),
      SelectStage(st(2), "project", None,
        Seq("event_id", "user_id", "value")))(s, d)),

    // -------- JOIN ×4 types (ui/src/sqlGenerator.ts:8-26)
    "q_join_inner" -> ((s, d) => pipe(
      JoinStage(st(1), "orders to customers", "INNER",
        "orders", "customer", "o_custkey", "c_custkey"),
      SelectStage(st(2), "project", None,
        Seq("o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment")))(s, d)),

    "q_join_left" -> ((s, d) => pipe(
      JoinStage(st(1), "customers with optional orders", "LEFT",
        "customer", "orders", "c_custkey", "o_custkey"),
      SelectStage(st(2), "project", None,
        Seq("c_custkey", "c_name", "o_orderkey", "o_totalprice")))(s, d)),

    "q_join_right" -> ((s, d) => pipe(
      JoinStage(st(1), "orders right-joined to customers", "RIGHT",
        "orders", "customer", "o_custkey", "c_custkey"),
      SelectStage(st(2), "project", None,
        Seq("o_orderkey", "o_totalprice", "c_custkey", "c_name")))(s, d)),

    "q_join_full" -> ((s, d) => pipe(
      JoinStage(st(1), "customers full outer orders", "FULL OUTER",
        "customer", "orders", "c_custkey", "o_custkey"),
      SelectStage(st(2), "project", None,
        Seq("c_custkey", "c_name", "o_orderkey", "o_totalprice")))(s, d)),

    // Same-key join: SELECT stages alias both keys to `custkey`, then the
    // JOIN dedups the key column keeping the LEFT side (sqlGenerator.ts:21;
    // DuckDB `l.*, r.* EXCLUDE (k)` does NOT coalesce — see StageCompiler).
    "q_join_samekey_full" -> ((s, d) => pipe(
      SelectStage(st(1), "orders keyed", Some("orders"),
        Seq("o_custkey AS custkey", "o_orderkey", "o_totalprice")),
      SelectStage(st(2), "customers keyed", Some("customer"),
        Seq("c_custkey AS custkey", "c_name")),
      JoinStage(st(3), "same-key full outer", "FULL OUTER",
        "result_stage_1_select", "result_stage_2_select", "custkey", "custkey"))(s, d)),

    // -------- UNION / UNION ALL (ui/src/sqlGenerator.ts:28-37)
    "q_union" -> ((s, d) => pipe(
      SelectStage(st(1), "segment pairs a", Some("customer"),
        Seq("c_mktsegment", "c_nationkey")),
      SelectStage(st(2), "segment pairs b", Some("customer"),
        Seq("c_mktsegment", "c_nationkey")),
      UnionStage(st(3), "distinct union", "UNION",
        Seq("result_stage_1_select", "result_stage_2_select")))(s, d)),

    "q_union_all" -> ((s, d) => pipe(
      SelectStage(st(1), "segment pairs a", Some("customer"),
        Seq("c_mktsegment", "c_nationkey")),
      SelectStage(st(2), "segment pairs b", Some("customer"),
        Seq("c_mktsegment", "c_nationkey")),
      UnionStage(st(3), "bag union", "UNION ALL",
        Seq("result_stage_1_select", "result_stage_2_select")))(s, d)),

    // N-way union (reference accepts ≥2 tables, sqlGenerator.ts:29-30)
    "q_union3" -> ((s, d) => pipe(
      SelectStage(st(1), "nation region keys", Some("nation"),
        Seq("n_regionkey AS k")),
      SelectStage(st(2), "customer nation keys", Some("customer"),
        Seq("c_nationkey AS k")),
      SelectStage(st(3), "supplier nation keys", Some("supplier"),
        Seq("s_nationkey AS k")),
      UnionStage(st(4), "3-way distinct union",
        "UNION", Seq("result_stage_1_select", "result_stage_2_select",
          "result_stage_3_select")))(s, d)),

    // -------- GROUP (TPC-H Q1 shape, ui/src/sqlGenerator.ts:64-81)
    // Decimal sums are exact/associative; the projection casts them to
    // DOUBLE and the trailing sort pins a total order — the two hash-
    // robustness rules every green multi-row aggregate follows (round-1
    // q_group failed the driver hash without them).
    "q_group" -> ((s, d) => pipe(
      GroupStage(st(1), "pricing summary", Some("lineitem"),
        Seq("l_returnflag", "l_linestatus"),
        Seq(
          Aggregation("sum", "CAST(l_quantity AS DECIMAL(18,2))", Some("sum_qty_dec")),
          Aggregation("sum", "CAST(l_extendedprice AS DECIMAL(18,2))", Some("sum_base_dec")),
          Aggregation("min", "l_extendedprice", Some("min_price")),
          Aggregation("max", "l_extendedprice", Some("max_price")),
          Aggregation("count", "*", Some("count_order")))),
      SelectStage(st(2), "double-cast sums", None, Seq(
        "l_returnflag", "l_linestatus",
        "CAST(sum_qty_dec AS DOUBLE) AS sum_qty",
        "CAST(sum_base_dec AS DOUBLE) AS sum_base_price",
        "min_price", "max_price", "count_order")),
      SortStage(st(3), "deterministic order", None,
        Seq(SortKey("l_returnflag", "ASC"), SortKey("l_linestatus", "ASC"))))(s, d)),

    // -------- AGGREGATE global (ui/src/sqlGenerator.ts:108-119)
    "q_aggregate" -> ((s, d) => pipe(
      AggregateStage(st(1), "order grand totals", Some("orders"), Seq(
        Aggregation("sum", "CAST(o_totalprice AS DECIMAL(18,2))", Some("total_revenue_dec")),
        Aggregation("count", "*", Some("n_orders")),
        Aggregation("min", "o_totalprice", Some("min_price")),
        Aggregation("max", "o_totalprice", Some("max_price")))),
      // Exact decimal sum, then back to DOUBLE: decimal output types
      // hash-diverge on trailing-zero stringification across engines.
      SelectStage(st(2), "double-cast total", None, Seq(
        "CAST(total_revenue_dec AS DOUBLE) AS total_revenue",
        "n_orders", "min_price", "max_price")))(s, d)),

    // -------- SELECT projection w/ expression passthrough (sqlGenerator.ts:83-90)
    "q_select" -> ((s, d) => pipe(
      SelectStage(st(1), "projection with expressions", Some("part"),
        Seq("p_partkey", "p_name", "upper(p_brand) AS brand_uc",
          "p_retailprice * 1.1 AS inflated")))(s, d)),

    // -------- SORT multi-column (sqlGenerator.ts:92-99); unique total order
    "q_sort" -> ((s, d) => pipe(
      SortStage(st(1), "multi-column sort", Some("part"),
        Seq(SortKey("p_size", "DESC"), SortKey("p_retailprice", "ASC"),
          SortKey("p_partkey", "ASC"))))(s, d)),

    // -------- CUSTOM SQL escape hatch (sqlGenerator.ts:101-106)
    "q_custom" -> ((s, d) => pipe(
      CustomStage(st(1), "join + group + sort in raw SQL", sqlCustom))(s, d)),

    "q_custom_events" -> ((s, d) => pipe(
      CustomStage(st(1), "hourly event rollup", sqlEvents))(s, d)),

    // CUSTOM with DuckDB's `* EXCLUDE (col)` — runs natively in the DuckDB
    // oracle and through the EXCEPT dialect rewrite in Spark.
    "q_custom_exclude" -> ((s, d) => pipe(
      CustomStage(st(1), "key-deduped join via EXCLUDE", sqlExclude))(s, d)),

    // CUSTOM with window functions (reference's stage algebra has no OVER
    // anywhere — SURVEY §2.6 — so analytic queries arrive through the
    // escape hatch; both engines parse this SQL verbatim). Top-3 orders
    // per market segment: rank ties broken on the unique key, total
    // ORDER BY — deterministic by construction.
    "q_custom_window" -> ((s, d) => pipe(
      CustomStage(st(1), "top orders per segment via window", sqlWindow))(s, d)),

    // -------- chained pipeline with implicit input resolution
    "q_pipeline" -> ((s, d) => chainedPipeline(s, d)),

    // Representative chains promoted from PipelineFuzzSpec's random
    // pipeline space (r9 directive #5) so the multi-stage compiler path
    // gets a TRUE DuckDB differential, not just the in-engine
    // SQL-render one: join→filter→group→select→sort, ...
    "q_pipeline_fuzz1" -> ((s, d) => pipe(
      JoinStage(st(1), "orders with customers", JoinType.Left,
        "orders", "customer", "o_custkey", "c_custkey"),
      FilterStage(st(2), "big or building", None, Seq(
        FilterCondition("o_totalprice", ">", 50000),
        FilterCondition("c_mktsegment", "=", "BUILDING", Some("OR")))),
      GroupStage(st(3), "by segment/status", None,
        Seq("c_mktsegment", "o_orderstatus"), Seq(
          Aggregation("sum", "CAST(o_totalprice AS DECIMAL(18,2))",
            Some("f1_sum_dec")),
          Aggregation("count", "*", Some("f1_n")))),
      SelectStage(st(4), "double-cast sum", None, Seq(
        "c_mktsegment", "o_orderstatus",
        "CAST(f1_sum_dec AS DOUBLE) AS f1_sum", "f1_n")),
      SortStage(st(5), "deterministic order", None, Seq(
        SortKey("c_mktsegment", "ASC"), SortKey("o_orderstatus", "ASC"))))
      (s, d)),

    // ...union(distinct)→filter(IN + range)→select→sort, ...
    "q_pipeline_fuzz2" -> ((s, d) => pipe(
      UnionStage(st(1), "self-union distinct", "UNION",
        Seq("customer", "customer")),
      FilterStage(st(2), "segment slice", None, Seq(
        FilterCondition("c_acctbal", ">=", 0),
        FilterCondition("c_mktsegment", "IN",
          "('BUILDING', 'AUTOMOBILE')", Some("AND")))),
      SelectStage(st(3), "narrow", None,
        Seq("c_custkey", "c_mktsegment", "c_acctbal")),
      SortStage(st(4), "deterministic order", None, Seq(
        SortKey("c_custkey", "ASC"))))
      (s, d)),

    // ...and join→filter(LIKE + OR)→global aggregate.
    "q_pipeline_fuzz3" -> ((s, d) => pipe(
      JoinStage(st(1), "customers with nations", JoinType.Inner,
        "customer", "nation", "c_nationkey", "n_nationkey"),
      FilterStage(st(2), "A-nations or small balances", None, Seq(
        FilterCondition("n_name", "LIKE", "A%"),
        FilterCondition("c_acctbal", "<", 1000, Some("OR")))),
      AggregateStage(st(3), "grand totals", None, Seq(
        Aggregation("count", "*", Some("f3_n")),
        Aggregation("min", "c_custkey", Some("f3_min")),
        Aggregation("max", "n_name", Some("f3_maxname")),
        Aggregation("sum", "CAST(c_acctbal AS DECIMAL(18,2))",
          Some("f3_bal_dec")))),
      SelectStage(st(4), "double-cast sum", None, Seq(
        "f3_n", "f3_min", "f3_maxname",
        "CAST(f3_bal_dec AS DOUBLE) AS f3_bal")))
      (s, d)),

    // LOAD fallback tier: manual all-VARCHAR parse (ui/src/App.tsx:417-420)
    // vs DuckDB's all_varchar read of the same fixture.
    "q_load_csv_fallback" -> ((s, _) =>
      Ingest.csvFallback(s, csvFixture)),

    // RFC-4180 quoting parity (SURVEY §2.3: the reference's parser is
    // quote-aware): embedded commas, doubled quotes, empty→NULL fields.
    "q_load_csv_quoted" -> ((s, _) =>
      Ingest.csv(s, quotedFixture).selectExpr(
        "CAST(id AS BIGINT) AS id", "label", "quoted", "maybe_null")),

    // Image-payload table source (ui/src/App.tsx:812-835): deterministic
    // inline payload → DataFrame; oracle = the same rows as SQL VALUES.
    // Covers typed columns, lowercase normalization, literal-NULL cells,
    // and unparseable-cell → NULL.
    "q_load_image_payload" -> ((s, _) =>
      Ingest.fromImagePayload(s,
        Seq(Ingest.ImageColumn("Product_ID", "INTEGER"),
          Ingest.ImageColumn("Price", "DOUBLE"),
          Ingest.ImageColumn("Sold_On", "DATE"),
          Ingest.ImageColumn("Label")),
        Seq(
          Seq("1", "9.99", "2024-01-05", "widget"),
          Seq("2", "NULL", "2024-02-10", "gadget"),
          Seq("x", "1.5", "not a date", "gizmo")))),

    // -------- LOAD: CSV ingest parity vs DuckDB read_csv_auto (SURVEY
    // §7.3 risk #1). Both engines infer schema from the same committed
    // fixture; integer WIDTH is normalized in the projection (Spark
    // infers the narrowest int type, DuckDB always BIGINT — SURVEY says
    // normalize, values are what parity means) and the date column is
    // cast explicitly so the gate is robust to date-inference defaults.
    "q_load_csv" -> ((s, _) => {
      // The real LOAD path: bind via Ingest (the ingest-time side of a
      // LOAD stage, ui/src/App.tsx:354-459) then run a LOAD + SELECT
      // pipeline — LOAD validates the binding and is skipped at exec
      // (ui/src/App.tsx:681-682), SELECT projects through the executor.
      val ex = new PipelineExecutor(s)
      val (name, df) = Ingest.loadCsvTable(s, csvFixture)
      ex.register(name, df)
      ex.run(Seq(
        LoadStage(st(1), "bind the uploaded csv", name, "parts_fixture.csv"),
        SelectStage(st(2), "width-normalized projection", Some(name), Seq(
          "CAST(id AS BIGINT) AS id", "name", "CAST(size AS BIGINT) AS size",
          "CAST(price AS DOUBLE) AS price", "CAST(created AS DATE) AS created"))))
    }),

    // -------- LOAD: JSONL ingest (engine extra beyond the reference's
    // sources — THE training-data interchange format). Parity vs DuckDB
    // read_json_auto on the same committed fixture: sparse fields → NULL,
    // JSON-escaped multi-line titles, unicode. `created` is cast
    // explicitly (DuckDB infers DATE from ISO strings, Spark's JSON
    // reader keeps VARCHAR — same normalization convention as
    // q_load_csv's int widths).
    "q_load_jsonl" -> ((s, _) =>
      Ingest.jsonl(s, jsonlFixture).selectExpr(
        "id", "title", "score", "flag", "lang",
        "CAST(created AS DATE) AS created")),

    // Nested parity: struct dot-access through a NULL struct and array
    // flattening. nullif(...,'') maps Spark's array_join('' on empty
    // array) onto DuckDB's string_agg-style NULL-on-empty.
    "q_load_jsonl_nested" -> ((s, _) =>
      Ingest.jsonl(s, jsonlFixture).selectExpr(
        "id", "meta.source AS meta_source", "meta.tokens AS meta_tokens",
        "nullif(array_join(tags, ','), '') AS tags_csv")),

    // -------- EXPORT: JSONL round-trip (Writer.jsonl → Ingest.jsonl).
    // Spark writes the documents table as sharded JSONL (explicit nulls,
    // JSON-escaped newlines in text) and reads it back; the oracle reads
    // the ORIGINAL parquet — equality proves the export is lossless.
    "q_export_jsonl" -> ((s, d) => {
      val out = exportDir(s, "graft_export_jsonl")
      graft.sources.Writer.jsonl(docs(s, d), out, shards = 4)
      Ingest.jsonl(s, out).selectExpr(
        "doc_id", "text", "lang", "source", "n_chars")
    }),

    // Write-audit-publish: stage documents to a hidden dir, audit the
    // STAGED FILES with row-local expectations, publish by rename, read
    // the published dir back — equality with the parquet-reading oracle
    // proves the staged/published data is the input, byte-faithfully,
    // and that the audit sits between write and visibility.
    "q_export_wap" -> ((s, d) => {
      val out = exportDir(s, "graft_export_wap")
      val E = graft.operators.Expect
      graft.sources.Writer.writeAuditPublish(docs(s, d), out, Seq(
        E.notNull("doc_id"), E.notNull("text"),
        E.oneOf("lang", Seq("en", "fr", "de", "es", "ja", "zh"))))
      s.read.parquet(out).selectExpr(
        "doc_id", "text", "lang", "source", "n_chars")
    }),

    // ORC interchange: write the documents table as ORC, read it back —
    // equality against the parquet-reading oracle proves losslessness
    // (Spark-native columnar alternative where a consumer requires ORC).
    "q_export_orc" -> ((s, d) => {
      val out = exportDir(s, "graft_export_orc")
      docs(s, d).write.mode("overwrite").orc(out)
      s.read.orc(out).selectExpr(
        "doc_id", "text", "lang", "source", "n_chars")
    }),

    // Hive-partitioned layout + partition-pruned read-back: the write
    // converges each lang's rows on one task (no small-file explosion)
    // and the filtered re-read scans ONLY lang=en directories
    // (PartitionFilters, spec-asserted) — the 100 TB output contract.
    "q_export_partitioned" -> ((s, d) => {
      val out = exportDir(s, "graft_export_part")
      graft.sources.Writer.writePartitioned(
        docs(s, d).select(col("doc_id"), col("source"), col("lang")),
        out, partitionBy = Seq("lang"), sortWithin = Seq("doc_id"))
      s.read.parquet(out).filter(col("lang") === "en")
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy("doc_id")
    }),

    // Schema-evolution ingest: an "early" shard written before two
    // columns existed and a "late" shard with the full schema, read back
    // as one table via mergeSchema — early rows carry NULLs in the added
    // columns; the oracle CASE-emulates the evolution over the original.
    "q_load_parquet_merge" -> ((s, d) => {
      val base = exportDir(s, "graft_merge")
      val d0 = docs(s, d)
      d0.filter(col("doc_id") % 2 === 0).select("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$base/early")
      d0.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$base/late")
      Ingest.parquetMerged(s, Seq(s"$base/early", s"$base/late"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    }),

    // ======== training-data extensions (SURVEY §7.1 step 8) ========

    // Salted two-phase aggregation on a genuinely skewed key (lineitem has
    // 3 distinct return flags — each key is ~1/3 of the corpus): results
    // must equal a plain GROUP BY, which is exactly what the DuckDB oracle
    // asserts. Decimal partials keep the sums exact through both phases.
    "q_skew_agg" -> ((s, d) => {
      import graft.operators.Skew
      val li = executor(s, d).table("lineitem")
      Skew.saltedAggregate(li, Seq("l_returnflag"), Seq(
          Skew.SaltedAgg("sum", "CAST(l_quantity AS DECIMAL(18,2))", "sum_qty_dec"),
          Skew.SaltedAgg("count", "*", "n_rows"),
          Skew.SaltedAgg("min", "l_extendedprice", "min_price"),
          Skew.SaltedAgg("max", "l_extendedprice", "max_price"),
          Skew.SaltedAgg("avg", "l_linenumber", "avg_linenum")), buckets = 32)
        .selectExpr("l_returnflag", "CAST(sum_qty_dec AS DOUBLE) AS sum_qty",
          "n_rows", "min_price", "max_price", "avg_linenum")
        .orderBy("l_returnflag")
    }),

    // Exact dedup: survivors = min doc_id per identical text.
    "q_dedup_exact" -> ((s, d) => Dedup.exactDedup(docs(s, d), "doc_id", "text")),

    // Duplication report over docs ∪ exact twins (known 50% dup mass):
    // the decide-before-you-dedup audit numbers.
    "q_dedup_report" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("text"))
      val twins = d0.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        col("text"))
      Dedup.duplicationReport(d0.unionByName(twins), "doc_id", "text")
    }),

    // Exact-dup group digest (md5 matches DuckDB's md5 for the oracle).
    "q_dedup_groups" -> ((s, d) => Dedup.exactGroups(docs(s, d), "doc_id", "text")
      .orderBy("content_hash")),

    // MinHash-LSH near-dup candidate pairs (no SQL oracle: xxhash64-based).
    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minhashPairs(docs(s, d), "doc_id", "text", shingleN = 3,
        numHashes = 64, bands = 16, threshold = 0.5).orderBy("id_a", "id_b")),

    // MinHash at threshold 1.0 over docs ∪ exact twins: identical shingle
    // SETS produce identical signatures, so every band collides — LSH
    // recall is exactly 1, the exact-verify keeps only set-identical
    // pairs, and the whole path becomes DuckDB-oracle-checkable (the
    // string-shingle oracle finds the same pairs; hash collisions aside,
    // set equality is representation-independent).
    "q_dedup_minhash_exact" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("text"))
      val twins = d0.select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
      Dedup.minhashPairs(d0.unionByName(twins), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 1.0)
        .orderBy("id_a", "id_b")
    }),

    // SimHash near-dup pairs via the native simhash64 expression.
    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(docs(s, d), "doc_id", "text", maxHamming = 8)
        .orderBy("id_a", "id_b")),

    // SimHash recall-1 gate: over docs ∪ exact twins, every twin pair has
    // hamming 0 and shares all four 16-bit chunks, so the pipeline MUST
    // recover exactly one (i, i+1e6) row per doc. The projection keeps
    // only twin pairs — natural hamming-0 collisions (possible for
    // near-dups whose counter signs all agree) stay out of the oracle'd
    // set; the probabilistic surface remains q_dedup_simhash (rows-only).
    "q_dedup_simhash_twins" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("text"))
      val twins = d0.select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
      Dedup.simhashPairs(d0.unionByName(twins), "doc_id", "text", maxHamming = 0)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .orderBy("id_a")
    }),

    // Token-window chunking (embedding/RAG preprocessing): 32-token
    // windows with 8-token overlap; chunk counts and window contents are
    // exact integer/slice arithmetic → full SQL oracle.
    "q_text_chunks" -> ((s, d) =>
      graft.operators.Chunk.chunkByTokens(docs(s, d), "doc_id", "text",
        maxTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_index")),

    // Corpus curation report: per-(lang, source) doc counts, token
    // totals, and mean quality — the monitoring aggregate over the text
    // battery. AVG of rounded doubles goes through DECIMAL(9,6) partial
    // sums (exact, associative) per the float-determinism policy.
    "q_corpus_stats" -> ((s, d) =>
      docs(s, d).select(col("lang"), col("source"),
          TF.tokenCount(col("text")).cast("long").as("n_tokens"),
          TF.qualityScore(col("text")).as("quality"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          (sum(col("quality").cast("decimal(9,6)")).cast("double") /
            count(lit(1))).as("avg_quality"))
        .orderBy("lang", "source")),

    // n-gram containment pairs (quote/subset duplication that Jaccard
    // misses) — same inverted-index engine, asymmetric overlap formula.
    "q_dedup_containment" -> ((s, d) =>
      Dedup.ngramContainmentPairs(docs(s, d), "doc_id", "text",
        n = 3, threshold = 0.6).orderBy("id_a", "id_b")),

    // ExactSubstr dedup (Lee et al., ACL'22): pairs sharing a verbatim
    // ≥30-char run, with the longest-run length from diagonal islands.
    // The one dedup mode the set-based family can't express — a long
    // quote inside two otherwise-different docs has near-zero Jaccard
    // but a 100+-char max_run_chars here.
    "q_dedup_substring" -> ((s, d) =>
      // spread: the windowed-digest pass ran 1.78 s on ONE task
      Dedup.substringDupSpans(spread(docs(s, d)), "doc_id", "text",
          minLen = 30)
        .orderBy("id_a", "id_b")),

    // The ExactSubstr TRANSFORM (Lee et al. ACL'22 §4.1): every ≥30-char
    // span occurring twice keeps its global first occurrence (min
    // (id, pos)) and is cut everywhere else; overlapping delete windows
    // merge so a duplicated run is removed as one span. Oracle rebuilds
    // the exact cleaned text in DuckDB — the cut positions, the interval
    // merge, and the reconstruction fold must all agree char-for-char.
    "q_dedup_substring_remove" -> ((s, d) =>
      Dedup.removeDupSubstrings(
        spread(docs(s, d)).select(col("doc_id"), col("text")),
        "doc_id", "text", minLen = 30)
        .orderBy("doc_id")),

    // Normalized-exact dedup over docs ∪ case/punctuation-perturbed twins
    // (UPPER + trailing ' !!'): every twin normalizes to its original's
    // key, so survivors = the min-id representative per normalized text.
    "q_dedup_normalized" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("text"))
      val twins = d0.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(upper(col("text")), lit(" !!")).as("text"))
      Dedup.exactDedupNormalized(d0.unionByName(twins), "doc_id", "text")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // Incremental dedup of an arriving batch against history: the batch
    // is 50 exact copies of history docs ∪ 50 edited descendants — the
    // bloom pre-filter routes them, the exact confirm removes false
    // positives, and survivors are exactly the edited rows (closed-form
    // oracle: the bloom's FPs cannot survive the confirm join, so the
    // probabilistic structure is invisible in the result).
    "q_dedup_incremental" -> ((s, d) => {
      val history = docs(s, d).select(col("doc_id"), col("text"))
      val copies = history.filter(col("doc_id") < 50)
      val edited = copies.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(col("text"), lit(" revised edition")).as("text"))
      Dedup.incrementalDedup(copies.unionByName(edited), history,
        "doc_id", "text", expectedHistoryItems = 10000L)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // MinHash with signature-agreement confirm (the verify path whose
    // cost is independent of document size): over docs ∪ exact twins,
    // twin signatures agree at all k positions → estimate exactly 1.0;
    // the projection keeps twin pairs only (a natural near-dup pair can
    // deterministically reach estimate 1.0 with probability j^k — those
    // stay out of the oracle'd set, cf. q_dedup_simhash_twins).
    "q_dedup_minhash_estimate" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("text"))
      val twins = d0.select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
      Dedup.minhashPairsEstimated(d0.unionByName(twins), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 1.0)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .orderBy("id_a")
    }),

    // Exact n-gram Jaccard pairs via inverted shingle index.
    "q_dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),

    // Threshold-sweep curve over a low-cutoff pair table: pairs kept and
    // docs touched at each candidate dedup threshold — the read-before-
    // you-cut audit of where boilerplate chains fuse into mega-clusters.
    // 2-gram shingles at cutoff 0.1: the corpus curve is bimodal (a
    // shared-vocab band in [0.1, 0.15) plus exact twins at 1.0), so the
    // four thresholds produce a genuinely decreasing curve. The sweep
    // runs on a BOUNDED deterministic sample (doc_id < 600 — the whole
    // corpus at the oracle SF): that is the real methodology — you
    // sweep thresholds on a sample, then run the chosen cutoff at
    // scale — and it caps the deliberately-hot 2-gram index (low n +
    // low threshold is Σf²-quadratic by construction; the production
    // knob for full-corpus runs is maxShingleFreq).
    "q_dedup_sweep" -> ((s, d) =>
      Dedup.thresholdSweep(
          Dedup.ngramJaccardPairs(
            docs(s, d).filter(col("doc_id") < 600), "doc_id", "text",
            n = 2, threshold = 0.1),
          "id_a", "id_b", "jaccard", Seq(0.1, 0.12, 0.15, 0.5))
        .orderBy("threshold")),

    // Winnowing-fingerprint near-dup pairs — fingerprint sets are ~1/w of
    // the shingle count, so the inverted-index cost shrinks ~w²× vs exact
    // n-gram Jaccard (rows-only: xxhash64-based).
    "q_dedup_winnow" -> ((s, d) =>
      Dedup.winnowJaccardPairs(docs(s, d), "doc_id", "text",
        k = 3, w = 4, threshold = 0.35).orderBy("id_a", "id_b")),

    // Connected components over the exact-duplicate pair graph: docs ∪
    // twins edges come from md5-digest equality (complete graph per
    // text-equality class), so every component's label is the class's
    // minimum doc_id — a window-min over text partitions in the oracle.
    // Gates the iterative min-label-propagation loop (the pairs→clusters
    // step of dedup) with a closed-form answer.
    "q_dedup_components" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("text"))
      val twins = d0.select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
      val keyed = d0.unionByName(twins).withColumn("__digest", md5(col("text")))
      val pairs = keyed.as("a").join(keyed.as("b"),
          col("a.__digest") === col("b.__digest") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      Dedup.connectedComponents(pairs).orderBy("id")
    }),

    // Same pair graph through the O(log d) alternating star-contraction
    // algorithm (Kiveris SoCC'14) — pins that the two CC algorithms are
    // interchangeable on the same closed-form oracle.
    "q_dedup_components_star" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("text"))
      val twins = d0.select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
      val keyed = d0.unionByName(twins).withColumn("__digest", md5(col("text")))
      val pairs = keyed.as("a").join(keyed.as("b"),
          col("a.__digest") === col("b.__digest") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      Dedup.connectedComponentsStar(pairs).orderBy("id")
    }),

    // Adversarial-diameter CC: a PATH over all doc_ids (doc k ↔ next id
    // ascending — the substring-dup-chain shape), diameter = |docs|-1 ≫
    // the default maxIter=20, so this gate exercises the automatic
    // min-label → star-contraction escalation end to end. Closed form:
    // one component labeled by the global minimum id. (The window chain
    // builder is test scaffolding, not the operator under test.)
    "q_dedup_components_chain" -> ((s, d) => {
      val ids = docs(s, d).select(col("doc_id"))
      // bounded-window: test-scaffold — gate-local diameter-chain fixture builder, documented non-production
      val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      val pairs = ids
        .withColumn("__next", lead(col("doc_id"), 1).over(w))
        .filter(col("__next").isNotNull)
        .select(col("doc_id").as("id_a"), col("__next").as("id_b"))
      // maxIter=4 (vs default 20): the escalation is the thing under
      // test; paying 20 fruitless min-label rounds first only adds
      // fixed per-round job overhead to the gate
      Dedup.connectedComponents(pairs, maxIter = 4).orderBy("id")
    }),

    // Scalable edit-distance similarity join (record linkage): q-gram
    // count-filter + length-filter candidates from an inverted positional
    // gram index, then exact levenshtein confirm. The filter is
    // result-invisible by the Gravano count bound, so the brute-force
    // cross-join oracle checks the whole pipeline end-to-end.
    "q_fuzzy_pairs" -> ((s, d) =>
      graft.operators.FuzzyJoin.editDistancePairs(
        executor(s, d).table("supplier"), "s_suppkey", "s_name", maxDist = 2)
        .orderBy("id_a", "id_b")),

    // Typo-tolerant lookup of a dirtied probe table against the canonical
    // table (deterministic injected typo: 'Supplier#' → 'Suplier#', ed 1).
    "q_fuzzy_lookup" -> ((s, d) => {
      val sup = executor(s, d).table("supplier")
      val probes = sup.select(col("s_suppkey").as("p_id"),
        regexp_replace(col("s_name"), "Supplier#", "Suplier#").as("p_name"))
      graft.operators.FuzzyJoin.editDistanceLookup(
        probes, "p_id", "p_name", sup, "s_suppkey", "s_name", maxDist = 1)
        .orderBy("probe_id", "ref_id")
    }),

    // Deterministic content-hash train/test split (anti-leakage: exact
    // duplicates always land on the same side) — md5 is engine-portable,
    // so the exact assignment is oracle-checked, not just the counts.
    "q_split" -> ((s, d) =>
      graft.operators.Split.hashSplit(
        docs(s, d).select(col("doc_id"), col("text")), "text", 0.8)
        .select(col("doc_id"), col("split"))),

    // Distribution drift between the corpus and a filtered snapshot
    // (doc_id % 3 pruned): per-language detail and the JS divergence.
    "q_drift_detail" -> ((s, d) =>
      graft.operators.Drift.categoricalDetail(
          docs(s, d).select("lang"),
          docs(s, d).filter(col("doc_id") % 3 =!= 0).select("lang"),
          "lang")
        // NULL is a legal category level; DuckDB's ORDER BY puts NULLs
        // last while Spark defaults to first — pin NULLS LAST on both.
        .orderBy(col("value").asc_nulls_last)),

    "q_drift_js" -> ((s, d) =>
      graft.operators.Drift.jsDivergence(
          docs(s, d).select("lang"),
          docs(s, d).filter(col("doc_id") % 3 =!= 0).select("lang"),
          "lang")),

    // Embedding drift: the distribution of cosine-to-own-label-centroid,
    // full corpus vs the even-id half — Centroids ∘ Drift composition
    // (an embedding-space shift shows up here before any label flips).
    "q_drift_embedding" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), col("label"),
        VF.asDouble(col("embedding")).as("v"))
      val scored = graft.operators.Centroids.cosineToCentroid(e, "vec_id", "v", "label")
      graft.operators.Drift.numericJs(
        scored.select(col("vec_id"), col("cosine")),
        scored.filter(col("vec_id") % 2 === 0).select(col("cosine")),
        "cosine", lo = -1.0, hi = 1.0, nBins = 20)
    }),

    // Numeric drift over the length distribution vs a "short docs only"
    // snapshot — binned JS with histogram-identical clamped arithmetic.
    "q_drift_numeric" -> ((s, d) =>
      graft.operators.Drift.numericJs(
          docs(s, d).select("n_chars"),
          docs(s, d).filter(col("n_chars") < 800).select("n_chars"),
          "n_chars", lo = 0.0, hi = 2000.0, nBins = 20)),

    // PSI — the credit-scoring drift threshold number (0.1/0.25 bands):
    // language mix of src0 vs the rest of the corpus, zero proportions
    // floored at the standard 1e-4.
    "q_drift_psi" -> ((s, d) => {
      val ds = docs(s, d)
      graft.operators.Drift.psi(
        ds.filter(col("source") === "src0").select("lang"),
        ds.filter(col("source") =!= "src0").select("lang"), "lang")
    }),

    // SCD type-2 history: the events change log rolled into validity
    // intervals per user (no-op changes collapsed, half-open [from, to),
    // open current row) — the warehouse-side shape of incremental state.
    "q_snapshot_scd2" -> ((s, d) =>
      graft.operators.Snapshot.scd2(
          executor(s, d).table("events"), "user_id", "ts",
          Seq("event_type"))
        .orderBy("user_id", "valid_from")),

    // CRLF/blank-run normalization over synthesized line-ending damage —
    // the pass before any line-keyed operator on crawl text.
    "q_clean_newlines" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          graft.operators.Clean.normalizeNewlines(concat(
            substring(coalesce(col("text"), lit("")), 1, 40), lit("\r\n"),
            lit("mid \t\n"),
            expr("substring(coalesce(text, ''), 41)"), lit("\r"),
            lit("\n\n\n\n"), lit("end"))).as("text"))
        .orderBy("doc_id")),

    // Reproducible corpus shuffle: dense global position from a seeded
    // content-independent hash (bucketed two-phase rank — no single-task
    // global window).
    "q_shuffle" -> ((s, d) =>
      graft.operators.Sample.deterministicShuffle(
          docs(s, d).select(col("doc_id")), "doc_id", seed = "graft")
        .select(col("pos"), col("doc_id"))
        .orderBy("pos")),

    // Deterministic negative-pair mining (contrastive training): each
    // anchor gets k strided picks from the seeded hash permutation —
    // distinct, non-self, reproducible, and position-join-only (no RNG,
    // no cross join).
    "q_sample_negatives" -> ((s, d) =>
      graft.operators.Sample.negativePairs(
        docs(s, d).select(col("doc_id")), "doc_id", k = 3)
        .orderBy("anchor_id", "neg_idx")),

    // HARD negative mining: each probe's top retrieval candidates with
    // the known positive (its rank-1 nearest neighbor) excluded, ranks
    // renumbered — the contrastive-training data recipe.
    "q_sample_hard_negatives" -> ((s, d) => {
      val (e, probes) = annInputs(s, d)
      val cands = Ann.bruteForceTopK(e, "vec_id", "v", probes,
        "query_id", "qv", k = 10)
      val positives = cands.filter(col("rank") === 1)
        .select(col("query_id"), col("vec_id"))
      graft.operators.Sample.hardNegatives(cands, "query_id", "vec_id",
          "cosine", positives, "query_id", "vec_id", k = 3)
        .orderBy("anchor_id", "neg_rank")
    }),

    // Exact-ratio corpus mixing (the training "data recipe" step):
    // en : non-en at 3 : 1 parts — T = min(n_i/w_i) bounds the mix so
    // no source upsamples, md5 ranking makes the exact row set
    // reproducible and oracle-assertable (two-phase rank ≡ the oracle's
    // global row_number because bucket prefix order IS hash order).
    "q_mix_weighted" -> ((s, d) => {
      val doc = docs(s, d).select(col("doc_id"), col("lang"))
      val en = doc.filter(col("lang") === "en")
      val rest = doc.filter(col("lang") =!= "en" || col("lang").isNull)
      graft.operators.Mix.weightedMix(Seq((en, 3), (rest, 1)),
          "doc_id", "graft-mix-1")
        .select(col("doc_id"), col("mix_source"))
        .orderBy("doc_id")
    }),

    // Epoch-repeat to a row budget: every doc ⌊t/n⌋ times plus one more
    // for the first (t mod n) md5-ranked docs, t = min(target, cap·n) —
    // at sf0.001 the maxEpochs cap binds, at sf0.01 the remainder path
    // does, so both regimes are oracle-checked.
    "q_mix_epochs" -> ((s, d) =>
      graft.operators.Mix.repeatToBudget(
          docs(s, d).select(col("doc_id"), col("lang")), "doc_id",
          targetRows = 1200L, maxEpochs = 3, salt = "graft-epoch-1")
        .select(col("doc_id"), col("epoch"))
        .orderBy("doc_id", "epoch")),

    // Water-filling budget mix: 90% of the corpus drawn across the 20
    // sources at weights cycling 1..4 — the three heaviest weight
    // classes saturate their (uniform) capacities at BOTH sf0.001 and
    // sf0.01, so the redistribution path is what the oracle checks, not
    // just proportional allocation. Selection is the capPerKey md5-rank
    // idiom, so the exact row set is oracle-expressible.
    "q_mix_budget" -> ((s, d) => {
      val weight = substring(col("source"), 4, 10).cast("int") % 4 + 1
      graft.operators.Mix.budgetMix(
          docs(s, d).select(col("doc_id"), col("source")),
          "doc_id", "source", weight,
          floor(count(lit(1)) * 0.9), salt = "graft-mixb-1")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // Temperature-flattened mixture weights (Conneau & Lample 2019;
    // the multilingual-LM sampling recipe): q_i ∝ p_i^(1/T), T=2 — the
    // per-language sampling plan with exact counts and 6-dp shares.
    "q_mix_temperature" -> ((s, d) =>
      graft.operators.Mix.temperatureWeights(
        docs(s, d), "lang", temperature = 2.0).orderBy("lang")),

    // Three-way split on the same hash — train set provably identical to
    // q_split's (thresholds nest).
    "q_split3" -> ((s, d) =>
      graft.operators.Split.hashSplit3(
        docs(s, d).select(col("doc_id"), col("text")), "text", 0.8, 0.1)
        .select(col("doc_id"), col("split"))),

    // GROUP-level split: hash the source (the group), not the content —
    // sibling documents of one source can never straddle the train/test
    // boundary (the leakage content hashing can't prevent).
    "q_split_group" -> ((s, d) =>
      graft.operators.Split.groupSplit(
        docs(s, d).select(col("doc_id"), col("source")), "source", 0.5)
        .select(col("doc_id"), col("source"), col("split"))),

    // 4-fold cross-validation assignment: content-keyed nibble mod k —
    // folds stable across reruns and incremental appends.
    "q_split_kfold" -> ((s, d) =>
      graft.operators.Split.kFold(
        docs(s, d).select(col("doc_id"), col("text")), "text", k = 4)
        .select(col("doc_id"), col("fold"))),

    // Top-5 keywords per doc by (tf DESC, df ASC, term ASC) — tf-idf's
    // preference order with a pure-integer ranking, so both engines
    // produce identical rows (no FP score in the ordering).
    "q_keywords" -> ((s, d) =>
      graft.operators.Keywords.topTerms(docs(s, d), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rnk")),

    // Winnow recall-1 gate (same twin construction as minhash/simhash):
    // a doc and its exact twin have identical winnowed fingerprint sets,
    // so fingerprint Jaccard is exactly 1.0 and every twin pair survives
    // threshold 1.0; the projection keeps only twin pairs (natural
    // fingerprint-set-equal near-dups stay out of the oracle'd set — the
    // probabilistic surface remains q_dedup_winnow, rows-only). Every
    // testdata doc has ≥ 8 positional 3-grams, so no fingerprint set is
    // empty and the oracle is exactly one row per doc.
    "q_dedup_winnow_twins" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("text"))
      val twins = d0.select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
      Dedup.winnowJaccardPairs(d0.unionByName(twins), "doc_id", "text",
        k = 3, w = 4, threshold = 1.0)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .orderBy("id_a")
    }),

    // Point-in-time feature lookup: each event joined to the user's most
    // recent purchase at or before it (union + single window pass — one
    // shuffle, no range explosion). DuckDB's native ASOF JOIN is the
    // oracle; the right side is deduped per (user, ts) by max event_id so
    // both engines pick the identical reference row.
    "q_asof_join" -> ((s, d) => {
      import graft.operators.AsofJoin
      val ev = executor(s, d).table("events")
        .select(col("event_id"), col("user_id"), col("ts"))
      val refs = executor(s, d).table("events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("ref_ts"), col("event_id"))
        .groupBy("user_id", "ref_ts")
        .agg(max(col("event_id")).as("ref_event"))
      AsofJoin.asofJoin(ev, refs, Seq("user_id"), "ts", "ref_ts",
        Seq("ref_ts", "ref_event"), "inner")
        .orderBy("event_id")
    }),

    // Interval (range) join — points into half-open time windows, planned
    // as a time-bin equi-join + refine (IntervalJoin's scale path; the
    // naive theta formulation is a nested-loop product). Ranges are pure
    // arithmetic over the events month (6-hour stride, 2..19-hour widths
    // → overlapping, bin-straddling); DuckDB evaluates the same join as
    // an IEJoin on the identical range construction.
    "q_interval_join" -> ((s, d) => {
      import graft.operators.IntervalJoin
      val ev = executor(s, d).table("events")
        .select(col("event_id"), col("ts"))
      val ranges = s.range(80).selectExpr(
        "id AS range_id",
        "timestampadd(HOUR, CAST(id * 6 AS INT), TIMESTAMP '2024-01-01 00:00:00') AS r_start",
        "timestampadd(HOUR, CAST(id * 6 + id % 18 + 2 AS INT), TIMESTAMP '2024-01-01 00:00:00') AS r_end")
      IntervalJoin.join(ev, ranges, "ts", "r_start", "r_end")
        .select("event_id", "range_id")
    }),

    // String cleaning (whitespace collapse + junk-null standardization) —
    // the deterministic core of the reference's cleaning use case.
    "q_clean_text" -> ((s, d) =>
      graft.operators.Clean.cleanStrings(
        docs(s, d).select(col("doc_id"), col("text")))),

    // One-pass column profiling (rows/nulls/distinct/range per column in
    // a single scan) — exact distinct here because the profiled table is
    // a small dimension; big tables flip to the HLL sketch (rows-only).
    "q_profile" -> ((s, d) =>
      graft.operators.Profile.profile(executor(s, d).table("nation"),
        exactDistinct = true).orderBy("column")),

    // Batch sessionization over events via window functions (an extension —
    // the reference has no OVER anywhere, SURVEY §2.6): same gap semantics
    // as the streaming flatMapGroupsWithState sessionizer.
    "q_sessionize" -> ((s, d) =>
      graft.operators.Sessionize.batch(
        executor(s, d).table("events"), "ts", "user_id", gapSeconds = 1800)
        .orderBy("user_id", "session_id")),

    // Session-duration quantiles — Sessionize ∘ Profile.quantiles
    // composition (exact discrete quantiles over µs durations).
    "q_session_stats" -> ((s, d) =>
      graft.operators.Profile.quantiles(
        graft.operators.Sessionize.batch(
            executor(s, d).table("events"), "ts", "user_id", gapSeconds = 1800)
          .select(lit("all").as("g"),
            (epochMicros(col("session_end")) - epochMicros(col("session_start")))
              .as("dur_us")),
        "g", "dur_us", Seq(0.5, 0.9, 0.99))
        .orderBy("p")),

    // Multimodal metadata through the gate: document text as binary
    // payloads → magic-byte mime sniff + byte counts (all codegen
    // built-ins). The mime constant is safe: no testdata doc starts with
    // a media magic sequence (asserted against the oracle's own check).
    "q_multimodal_meta" -> ((s, d) => {
      import graft.operators.Multimodal
      val payloads = docs(s, d).select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.withMetadata(payloads, "payload")
        .select(col("doc_id"), col("meta.mime").as("mime"), col("meta.n_bytes").as("n_bytes"))
    }),

    // REAL-payload decode gate: a committed 4×3 PNG and an 800-frame
    // 16-bit PCM WAV go through the actual javax.imageio / javax.sound
    // decoders (no stub on this path) and must produce their known
    // dimensions — (4, 3, 3 channels) and (800 frames, 8000 Hz, 1
    // channel) — plus the magic-byte mime sniff, against a closed-form
    // VALUES oracle.
    "q_multimodal_decode_real" -> ((s, _) => {
      import graft.operators.Multimodal
      val rows = Seq("tiny.png", "tiny.wav").map { f =>
        (f, java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$fixtureDir/$f")))
      }
      import s.implicits._
      val meta = Multimodal.withMetadata(rows.toDF("file", "payload"), "payload")
      Multimodal.decodeFeatures(meta, "payload")
        .select(col("file"), col("meta.mime").as("mime"),
          col("feat.width").as("width"), col("feat.height").as("height"),
          col("feat.channels").as("channels"))
        .orderBy("file")
    }),

    // Perceptual image hash over the committed fixtures: the PNG's aHash
    // is a pinned constant (brightness/re-encode invariant by spec), the
    // WAV is not an image → NULL.
    "q_multimodal_phash" -> ((s, _) => {
      import graft.operators.Multimodal
      val rows = Seq("tiny.png", "tiny.wav").map { f =>
        (f, java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$fixtureDir/$f")))
      }
      import s.implicits._
      Multimodal.imagePhash(rows.toDF("file", "payload"), "payload")
        .select(col("file"), col("phash"))
        .orderBy("file")
    }),

    // REAL resize → re-decode round trip on the committed PNG fixture:
    // the 4×3 image resized to 2×2 must decode back with the target
    // dimensions (closed-form VALUES oracle, like q_multimodal_decode_real).
    "q_multimodal_resize" -> ((s, _) => {
      import graft.operators.Multimodal
      val rows = Seq(("tiny.png", java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$fixtureDir/tiny.png"))))
      import s.implicits._
      val resized = Multimodal.resizeImages(rows.toDF("file", "payload"),
        "payload", targetW = 2, targetH = 2)
      Multimodal.decodeFeatures(resized, "resized")
        .select(col("file"), col("feat.width").as("width"),
          col("feat.height").as("height"), col("feat.channels").as("channels"))
    }),

    // Multimodal decode plumbing over the same payloads (rows-only:
    // ImageIO rejects text bytes → deterministic stub features).
    "q_multimodal_decode" -> ((s, d) => {
      import graft.operators.Multimodal
      val payloads = docs(s, d).select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.decodeFeatures(payloads, "payload")
        .select(col("doc_id"), col("feat.width").as("width"),
          col("feat.height").as("height"), col("feat.channels").as("channels"))
    }),

    // Token counting (whitespace tokens over trimmed text).
    "q_text_tokens" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), TF.tokenCount(col("text")).as("n_tokens"))),

    // Language ID: argmax stopword hits, ties by fixed language order.
    "q_text_langid" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), TF.langId(col("text")).as("lang_pred"))),

    // Quality scoring: length/diversity/stopword/alnum signals in [0,1].
    "q_text_quality" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), TF.qualityScore(col("text")).as("quality"))),

    // 64-bit content fingerprint (xxhash64 — no DuckDB equivalent, rows-only).
    "q_text_fingerprint" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), TF.contentFingerprint(col("text")).as("fp"))),

    // Twin construction for the fingerprint (oracle-green counterpart of
    // the rows-only gate above): the fingerprint normalizes whitespace
    // (trim + collapse), so a whitespace-perturbed twin (padded, every
    // space doubled) MUST collide with its original. The join keeps only
    // (doc, twin) pairs, so the oracle is exactly one row per doc —
    // hash-pinning the normalization semantics without DuckDB needing
    // xxhash64. Case perturbation is deliberately excluded (lower∘upper
    // is not identity for ß/Turkish-i classes).
    "q_text_fingerprint_twins" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("text"))
      val twins = d0.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(lit("  "), regexp_replace(col("text"), " ", "  "), lit(" ")).as("text"))
      val fps = d0.unionByName(twins)
        .select(col("doc_id"), TF.contentFingerprint(col("text")).as("fp"))
      fps.as("a").join(fps.as("b"),
          col("a.fp") === col("b.fp") &&
            col("b.doc_id") === col("a.doc_id") + lit(1000000L))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .orderBy("id_a")
    }),

    // BPE-ish sub-word token counting (regexp oracle-checked in DuckDB).
    "q_text_bpe" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), TF.bpeTokenCount(col("text")).as("n_bpe"))),

    // Winnowing fingerprint count + digest (Schleimer et al., SIGMOD'03) —
    // xxhash64-based, so rows-only at the driver; spec-pinned in
    // TextFunctionsSpec.
    "q_text_winnow" -> ((s, d) =>
      // producer projection so the fingerprint array evaluates ONCE for
      // the two consumers (same CollapseProject-boundary trick as the
      // twins gate — inlining would run the rolling-hash pass twice)
      docs(s, d)
        .select(col("doc_id"), TF.winnowedFingerprints(col("text")).as("fp"))
        .select(col("doc_id"),
          size(col("fp")).as("n_fingerprints"),
          xxhash64(col("fp")).as("fp_digest"))),

    // Twin construction for the winnow digest (oracle-green counterpart
    // of the rows-only gate above): (1) an exact twin row produces the
    // identical count and digest — content purity across rows and
    // partitions; (2) the native codegen'd expression set-equals the
    // interpreted HOF formulation (its executable spec) on a
    // deterministic 1-in-4 doc stratum (doc_id % 4 == 0; unsampled docs
    // report TRUE vacuously — the HOF is ~2000× slower per doc than the
    // native expression and dominated the whole bench suite when run on
    // every row). Full-corpus equivalence stays pinned by the
    // TextFunctionsSpec property tests; both gate properties keep
    // closed-form TRUE oracles per doc.
    "q_text_winnow_twins" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("text"))
      // materialize each fingerprint array ONCE in a producer projection:
      // the aliases are referenced multiple times below, so
      // CollapseProject keeps the boundary instead of re-inlining the
      // (expensive, deliberately-interpreted) HOF spec evaluation per
      // use. The HOF sits under `when`, whose else-branch is NULL:
      // conditional evaluation skips it entirely off-stratum.
      val sig = d0.select(col("doc_id"),
          TF.winnowedFingerprints(col("text")).as("fp"),
          when(pmod(col("doc_id"), lit(4)) === 0,
            TF.winnowedFingerprintsHof(col("text"))).as("fph"))
        .select(col("doc_id"),
          size(col("fp")).as("n_fp"),
          xxhash64(col("fp")).as("dig"),
          when(col("fph").isNull, lit(true))
            .otherwise(
              size(array_except(array_sort(col("fp")), array_sort(col("fph")))) === 0 &&
              size(array_except(array_sort(col("fph")), array_sort(col("fp")))) === 0)
            .as("matches_spec"))
      val twin = d0
        .select((col("doc_id") + lit(1000000L)).as("tid"), col("text"))
        .select(col("tid"), TF.winnowedFingerprints(col("text")).as("tfp"))
        .select(col("tid"),
          size(col("tfp")).as("t_n_fp"),
          xxhash64(col("tfp")).as("t_dig"))
      sig.join(twin, col("tid") === col("doc_id") + lit(1000000L))
        .select(col("doc_id"),
          (col("n_fp") === col("t_n_fp")).as("same_count"),
          (col("dig") === col("t_dig")).as("same_digest"),
          col("matches_spec"))
        .orderBy("doc_id")
    }),

    // Image near-dup pairs over perceptual hashes: generic banded
    // Hamming pairs (16-bit pigeonhole + exact bit_count confirm) fed
    // synthetic-but-oracle-expressible 64-bit "pHashes"; the twin flips
    // bits 0 and 2 (Hamming 2), so every (doc, twin) must pair and the
    // DuckDB oracle brute-forces the identical hamming≤3 pair set.
    // The hash MUST populate all four 16-bit chunks — the first cut used
    // doc_id * K, whose top chunk was 0 for every row, so one band
    // degenerated to all-pairs (43.9s at sf0.1, the exact LSH failure
    // mode the 4-bit ANN bands hit in round 1). Two independent 31-bit
    // halves keep every chunk varying and the products inside signed-64.
    "q_dedup_phash" -> ((s, d) =>
      Dedup.hammingPairs(phashCorpus(s, d), "id", "fp", maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // pHash dedup CLUSTERS: hammingPairs ∘ connectedComponents — the
    // pair set collapses to min-label components (the oracle runs a
    // fully general recursive min-label propagation, so accidental
    // non-twin pairs, if the corpus ever produced them, agree too).
    "q_dedup_phash_clusters" -> ((s, d) =>
      Dedup.connectedComponents(
          Dedup.hammingPairs(phashCorpus(s, d), "id", "fp", maxHamming = 3))
        .orderBy("id")),

    // BPE merge-candidate induction: top-20 adjacent character pairs
    // over whitespace tokens — step zero of tokenizer training.
    "q_vocab_merges" -> ((s, d) =>
      graft.operators.Vocab.bpeMergeCandidates(docs(s, d), "text", k = 20)
        .orderBy("rank")),

    // BPE encoding with a fixed learned merge table: the merge list is
    // compiled INTO the plan as a rank-ordered replace chain (no join),
    // so the only shuffle is the map-side-combined per-doc sum.
    "q_vocab_encode" -> ((s, d) =>
      graft.operators.Vocab.bpeTokenCount(docs(s, d), "doc_id", "text",
          bpeGateMerges)
        .orderBy("id")),

    // --- SFT / preference-data assembly --------------------------------

    // Chat-template rendering: documents re-keyed into 4-turn
    // conversations (conv = doc_id div 4, alternating user/assistant by
    // id parity), collapsed to one ChatML training string each.
    "q_sft_render" -> ((s, d) =>
      graft.operators.Sft.renderChatML(sftTurns(s, d),
          "conv_id", "turn", "role", "content")
        .orderBy("conv_id")),

    // Context-window trimming: keep only the LAST 2 turns per
    // conversation before rendering (most recent context survives).
    "q_sft_truncate" -> ((s, d) =>
      graft.operators.Sft.renderChatML(sftTurns(s, d),
          "conv_id", "turn", "role", "content", maxTurns = 2)
        .orderBy("conv_id")),

    // Simpson diversity (char + token): the repetition/junk signal —
    // integer Σn² keeps the score bit-identical across engines.
    "q_text_diversity" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TF.charDiversity(col("text")).as("char_div"),
        TF.tokenDiversity(col("text")).as("token_div"))),

    // Semantic decontamination: eval set = every 20th embedding scaled
    // ×3 (same direction → cosine rounds to exactly 1.0 with its
    // original; the corpus's true max off-diagonal cosine ≈ 0.6 sits far
    // under the 0.95 threshold) → the flagged set is exactly the sampled
    // originals, each matching its own eval twin — closed-form oracle.
    "q_decontaminate_semantic" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VF.asDouble(col("embedding")).as("v"))
      val eval_ = e.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("eval_id"),
          transform(col("v"), x => x * lit(3.0)).as("ev"))
      graft.operators.Decontaminate.semanticOverlap(
          e, "vec_id", "v", eval_, "eval_id", "ev", threshold = 0.95)
        .orderBy("vec_id")
    }),

    // Percent-rank normalization per language: length scores mapped onto
    // [0,1] within each group for cross-group mixing, ties sharing ranks.
    "q_rank_normalize" -> ((s, d) =>
      graft.operators.Profile.rankNormalize(
          docs(s, d), "lang", "doc_id", "n_chars")
        .orderBy("doc_id")),

    // Domain-quality propagation: per-source mean quality decides every
    // doc's keep flag (the junk-farm wholesale filter).
    "q_domain_quality" -> ((s, d) =>
      graft.operators.QualityFilter.domainQuality(
          docs(s, d).select(col("doc_id"), col("source"),
            TF.qualityScore(col("text")).as("q")),
          "doc_id", "source", "q", minMean = 0.4)
        .orderBy("doc_id")),

    // Persisted MinHash band index: save on the base corpus, then probe
    // with a twin batch — every probe must rediscover its original at
    // estimated Jaccard 1.0 WITHOUT re-reading history bodies (identical
    // shingle sets → identical signatures → jaccard_est exactly 1).
    "q_dedup_index" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("text"))
      val path = exportDir(s, "graft_minhash_index")
      Dedup.saveMinhashIndex(d0, "doc_id", "text", path,
        shingleN = 3, numHashes = 64, bands = 16)
      val probes = d0.select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
      Dedup.minhashPairsAgainstIndex(probes, "doc_id", "text", path,
          shingleN = 3, numHashes = 64, bands = 16, threshold = 1.0)
        .filter(col("id_new") === col("id_hist") + 1000000L)
        .orderBy("id_hist")
    }),

    // Tool-call/JSON screening over a mixed corpus (even ids carry a
    // constructed JSON payload, odd ids prose): validity flag + field
    // extraction — the format gate every function-calling dataset needs.
    "q_json_screen" -> ((s, d) => {
      val mixed = jsonMixed(s, d)
      graft.operators.StructuredData.jsonValidity(mixed, "doc_id", "payload")
        .join(graft.operators.StructuredData.extractFields(mixed, "doc_id",
          "payload", Seq("id_field" -> "$.id", "lang_field" -> "$.lang")),
          Seq("doc_id"))
        .orderBy("doc_id")
    }),

    // Render ∘ parse identity: the rendered ChatML corpus exploded back
    // into turn rows must reproduce the original turns exactly (the
    // oracle IS the original turn relation — a fixed-point check).
    "q_sft_roundtrip" -> ((s, d) =>
      graft.operators.Sft.parseChatML(
          graft.operators.Sft.renderChatML(sftTurns(s, d),
            "conv_id", "turn", "role", "content"),
          "conv_id", "rendered")
        .orderBy("conv_id", "turn")),

    // DPO pair assembly: best-vs-worst quality completion per language,
    // margin-gated — a single map-side-combined aggregate per group.
    "q_pref_pairs" -> ((s, d) =>
      graft.operators.Preference.pairs(
          docs(s, d).select(col("lang").as("group"), col("doc_id"),
            TF.qualityScore(col("text")).as("q")),
          "group", "doc_id", "q", minMargin = 0.05)
        .withColumnRenamed("group", "lang")
        .orderBy("lang")),

    // Rank-i-vs-rank-i preference pairs, 3 per language — the k-pair
    // window variant (non-crossing ranks, so no candidate double-sides).
    "q_pref_topk" -> ((s, d) =>
      graft.operators.Preference.topBottomPairs(
          docs(s, d).select(col("lang").as("group"), col("doc_id"),
            TF.qualityScore(col("text")).as("q")),
          "group", "doc_id", "q", k = 3, minMargin = 0.0)
        .withColumnRenamed("group", "lang")
        .orderBy("lang", "rank")),

    // Bradley-Terry arena fit over a deterministic comparison stream
    // (7 items from the events table; lower-id items win 2 of 3) —
    // 3 MM rounds; the oracle replays the identical per-round
    // DECIMAL-fold arithmetic as unrolled CTEs (the q_linkage_em
    // pattern).
    "q_pref_bt" -> ((s, d) =>
      graft.operators.Preference.bradleyTerry(
          arenaComparisons(s, d), "w", "l", iterations = 3)
        .orderBy("item")),

    // Tie-aware Bradley-Terry (ties credit half a win each — the arena
    // convention); fractional win totals, same unrolled-MM oracle.
    "q_pref_bt_ties" -> ((s, d) =>
      graft.operators.Preference.bradleyTerryTies(
          arenaTies(s, d), "a", "b", "outcome", iterations = 3)
        .orderBy("item")),

    // Win-rate leaderboard over the same comparison stream — the naive
    // companion gate (rank over rounded win rate, ties share rank).
    "q_pref_leaderboard" -> ((s, d) =>
      graft.operators.Preference.leaderboard(arenaComparisons(s, d), "w", "l")
        .orderBy("item")),

    // Per-z-bucket min/max pruning stats over the min/max-scaled Morton
    // key (user_id, event_id) — the parquet-footer view of a z-ordered
    // layout (tight ranges on BOTH columns at once); the oracle replays
    // the exact-integer scaling + shift/mask arithmetic.
    "q_layout_audit" -> ((s, d) =>
      graft.sources.Layout.pruningAudit(
          executor(s, d).table("events"), Seq("user_id", "event_id"),
          bits = 8, buckets = 16)
        .orderBy("bucket")),

    // File-skipping power of the layout for user_id BETWEEN 0 AND 37 —
    // buckets scanned vs pruned under the min/max overlap rule.
    "q_layout_prune" -> ((s, d) =>
      graft.sources.Layout.pruneProbe(
          executor(s, d).table("events"), Seq("user_id", "event_id"),
          "user_id", 0L, 37L, bits = 8, buckets = 16)),

    // In-plan trained quality classifier: 3 full-batch GD rounds over
    // hashed unigram+bigram presence features, algebraic-sigmoid link
    // (pure ×/÷ arithmetic — exactly replayable cross-engine), label =
    // (lang = 'en'). Output: the 65-row weight vector.
    "q_classifier_fit" -> ((s, d) =>
      graft.operators.Classifier.fitLogistic(
          docs(s, d).withColumn("y", (col("lang") === "en").cast("double")),
          "doc_id", "text", "y", buckets = 64, iterations = 3, lr = 0.5)
        .orderBy("bucket")),

    // Per-language model family trained in ONE plan (group key threads
    // every join/reduce — no per-group driver loop); label = long doc.
    "q_classifier_group" -> ((s, d) =>
      graft.operators.Classifier.fitLogisticGrouped(
          docs(s, d).withColumn("y",
            (length(col("text")) > 200).cast("double")),
          "lang", "doc_id", "text", "y",
          buckets = 64, iterations = 2, lr = 0.5)
        .orderBy("group", "bucket")),

    // Per-language serving: each doc scored by ITS language's model
    // from the grouped fit — train + serve for the whole family in one
    // plan.
    "q_classifier_group_score" -> ((s, d) => {
      val ds = docs(s, d)
      val w = graft.operators.Classifier.fitLogisticGrouped(
        ds.withColumn("y", (length(col("text")) > 200).cast("double")),
        "lang", "doc_id", "text", "y",
        buckets = 64, iterations = 2, lr = 0.5)
      graft.operators.Classifier.scoreLogisticGrouped(
          ds, "lang", "doc_id", "text", w, 64)
        .orderBy("group", "id")
    }),

    // Corpus scoring with the weights trained above — the CCNet-style
    // "train filter, score corpus" loop end-to-end in one plan.
    "q_classifier_score" -> ((s, d) => {
      val ds = docs(s, d)
      val w = graft.operators.Classifier.fitLogistic(
        ds.withColumn("y", (col("lang") === "en").cast("double")),
        "doc_id", "text", "y", buckets = 64, iterations = 3, lr = 0.5)
      graft.operators.Classifier.scoreLogistic(ds, "doc_id", "text", w, 64)
        .orderBy("id")
    }),

    // Nearest-centroid cluster assignment over the label centroids —
    // broadcast centroids, argmax per vector (relabeling/confusion pass).
    "q_cluster_assign" -> ((s, d) =>
      graft.operators.Centroids.assignNearest(
          embeddings(s, d).select(col("vec_id"), col("label"),
            VF.asDouble(col("embedding")).as("v")),
          "vec_id", "v", "label")
        .orderBy("vec_id")),

    // Distributed Lloyd: 2 spherical k-means iterations from 8 data-
    // vector seeds, fully in-plan (no driver fit) — the oracle unrolls
    // the same iterations; 6-dp-rounded cosines + decimal per-dim means
    // make every intermediate assignment engine-exact.
    "q_cluster_lloyd" -> ((s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("label"), col("v").as("centroid"))
      graft.operators.Centroids.lloyd(e, "vec_id", "v", seeds, iterations = 2)
        .orderBy("vec_id")
    }),

    // Brute-force cosine top-10 for 5 probe vectors — the exact ANN
    // baseline (probe side broadcast; corpus never shuffles).
    "q_ann_bruteforce" -> ((s, d) => {
      val (e, probes) = annInputs(s, d)
      Ann.bruteForceTopK(e, "vec_id", "v", probes, "query_id", "qv", k = 10)
    }),

    // k-NN label-noise audit over the first 50 vectors: exact top-10
    // neighborhoods vote on each point's label; disagreement flags a
    // mislabeling suspect. The quadratic part stays in the ANN tier
    // (swap in lshTopK/ivfTopK at corpus scale) — the audit itself is
    // one (query, label) count + a per-query window.
    "q_label_knn_noise" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VF.asDouble(col("embedding")).as("v"), col("label"))
      val probes = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val topk = Ann.bruteForceTopK(e.select(col("vec_id"), col("v")),
        "vec_id", "v", probes, "query_id", "qv", k = 10)
      graft.operators.Eval.knnLabelNoise(topk, "query_id", "vec_id",
          e.select(col("vec_id"), col("label")), "vec_id", "label")
        .orderBy("id")
    }),

    // LSH-bucketed approximate top-10 — the corpus-linear scale path.
    // 16 bands × 8-bit keys: ~N/16 accidental candidates per probe (the
    // round-1 4-bit keys collapsed to all-pairs — see Ann scaladoc).
    "q_ann_lsh" -> ((s, d) => {
      val (e, probes) = annInputs(s, d)
      Ann.lshTopK(e, "vec_id", "v", probes, "query_id", "qv",
        k = 10, bands = 16, bandBits = 8)
    }),

    // IVF (k-means coarse quantizer) approximate top-10 — probes search
    // only their nProbe nearest cells.
    "q_ann_ivf" -> ((s, d) => {
      val (e, probes) = annInputs(s, d)
      Ann.ivfTopK(e, "vec_id", "v", probes, "query_id", "qv",
        k = 10, nCentroids = 16, nProbe = 4)
    }),

    // LSH top-k recall-1 gate: corpus ∪ exact twins, k=1 — a twin shares
    // every band with its probe (positive scaling preserves hyperplane
    // signs) and its cosine 1.0 beats every real vector (max ~0.6), so
    // rank 1 is deterministically the twin. Exercises the full banded
    // candidate pipeline with a closed-form oracle.
    "q_ann_lsh_twin" -> ((s, d) => {
      val (e, probes) = annInputs(s, d)
      val twins = e.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("v"), x => x * lit(2.0)).as("v"))
      Ann.lshTopK(e.unionByName(twins), "vec_id", "v", probes, "query_id", "qv",
        k = 1, bands = 16, bandBits = 8)
    }),

    // IVF recall-1 gate: a twin's cell assignment equals its probe's
    // (argmax of dots is scale-invariant), so nProbe ≥ 1 always reaches
    // it and rank 1 is the twin — closed-form oracle for the IVF path.
    "q_ann_ivf_twin" -> ((s, d) => {
      val (e, probes) = annInputs(s, d)
      val twins = e.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("v"), x => x * lit(2.0)).as("v"))
      Ann.ivfTopK(e.unionByName(twins), "vec_id", "v", probes, "query_id", "qv",
        k = 1, nCentroids = 16, nProbe = 2)
    }),

    // Persisted-IVF round-trip: the fitted index is SAVED (centroid
    // file + corpus parquet partitioned by cell — the directory layout
    // IS the inverted file), re-LOADED, and searched. Same twin
    // construction and closed-form oracle as q_ann_ivf_twin, so the
    // gate asserts save/load changes nothing; the cell-partition join
    // lets a probe batch prune to its nProbe cell directories.
    "q_ann_ivf_persisted" -> ((s, d) => {
      val (e, probes) = annInputs(s, d)
      val twins = e.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("v"), x => x * lit(2.0)).as("v"))
      val idx = Ann.ivfIndex(e.unionByName(twins), "vec_id", "v",
        nCentroids = 16)
      val path = System.getProperty("java.io.tmpdir") +
        "/graft_ivf_gate_" + new java.io.File(d).getName
      Ann.saveIvfIndex(idx, path)
      val loaded = Ann.loadIvfIndex(s, path)
      Ann.ivfSearch(loaded, "vec_id", "v", probes, "query_id", "qv",
        k = 1, nProbe = 2)
    }),

    // Incremental IVF maintenance: the corpus index is saved, the twin
    // batch APPENDED against the frozen centroids (new files land only
    // in touched cells — no index rebuild), and the reloaded index
    // searched. A twin's cell equals its probe's (argmax dot is
    // scale-invariant), so rank 1 is deterministically the appended
    // twin — the same closed-form oracle as q_ann_ivf_twin.
    "q_ann_ivf_append" -> ((s, d) => {
      val (e, probes) = annInputs(s, d)
      val idx = Ann.ivfIndex(e, "vec_id", "v", nCentroids = 16)
      val path = System.getProperty("java.io.tmpdir") +
        "/graft_ivf_append_" + new java.io.File(d).getName
      // save overwrites the assigned dir, so the append stays idempotent
      Ann.saveIvfIndex(idx, path)
      val twins = e.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("v"), x => x * lit(2.0)).as("v"))
      Ann.appendToIvfIndex(s, path, twins, "v")
      val loaded = Ann.loadIvfIndex(s, path)
      Ann.ivfSearch(loaded, "vec_id", "v", probes, "query_id", "qv",
        k = 1, nProbe = 2)
    }),

    // Streaming-shaped IVF search: the stream-legal candidate plan
    // (stateless cell-assign projection + stream-static join, no
    // dropDuplicates, no in-stream window) run over the batch probes,
    // then the per-micro-batch topK finalize — same twin construction,
    // so the closed-form oracle pins that the stream path loses
    // nothing. The true MemoryStream run is cross-checked row-for-row
    // in StreamingAnnCrossCheckSpec.
    "q_ann_ivf_stream" -> ((s, d) => {
      val (e, probes) = annInputs(s, d)
      val twins = e.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("v"), x => x * lit(2.0)).as("v"))
      val idx = Ann.ivfIndex(e.unionByName(twins), "vec_id", "v",
        nCentroids = 16)
      Ann.topK(Ann.ivfSearchStream(idx, "vec_id", "v",
        probes, "query_id", "qv", nProbe = 2), 1)
    }),

    // Embedding-cosine near-dup pairs: LSH-banded candidates (8×16-bit
    // bands — 65,536 buckets/band) + exact native-cosine confirm at the
    // true near-dup regime (0.9; round 1 ran threshold 0.3 with 4-bit
    // bands, which degenerated to quadratic all-pairs). The corpus is the
    // embeddings table plus an exactly-parallel twin of every vector
    // (id+1,000,000; v×2 — same direction, so every hyperplane sign
    // matches exactly → LSH recall 1 by construction, and cosine rounds
    // to exactly 1.0). The testdata's real max off-diagonal cosine is
    // ~0.6, so the result is exactly the N twin pairs — which makes this
    // LSH path fully DuckDB-oracle-checkable instead of rows-only.
    "q_dedup_embed" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))
      val twins = e.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("v"), x => x * lit(2.0)).as("v"))
      Ann.cosineNearDupPairs(e.unionByName(twins), "vec_id", "v",
        threshold = 0.9, bands = 8, bandBits = 16)
        .orderBy("id_a", "id_b")
    }),

    // n-gram Jaccard with the shingle-frequency cap — the knob that bounds
    // the inverted-index Σfreq² blowup at scale (SCALING.md): shingles in
    // more than `maxShingleFreq` docs are dropped from the index (sizes
    // stay uncapped), trading recall on boilerplate for a bounded worst key.
    "q_dedup_ngram_capped" -> ((s, d) =>
      Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text", n = 3,
        threshold = 0.5, maxShingleFreq = Some(5))
        .orderBy("id_a", "id_b")),

    // Approximation-quality report: what the shingle-frequency cap
    // actually traded — precision/recall of the capped pass against the
    // uncapped exact pass, as a one-row pair-set evaluation.
    "q_dedup_eval" -> ((s, d) => {
      val ds = docs(s, d)
      Dedup.evaluatePairs(
        Dedup.ngramJaccardPairs(ds, "doc_id", "text", n = 3,
          threshold = 0.5, maxShingleFreq = Some(5)),
        Dedup.ngramJaccardPairs(ds, "doc_id", "text", n = 3,
          threshold = 0.5))
    }),

    // Data-quality expectations: four row-local rules fused into ONE
    // aggregate pass, plus key-uniqueness (one aggregation) and
    // referential integrity (one anti-join) — the pre-flight validation
    // report of a production pipeline.
    "q_expect" -> ((s, d) => {
      val E = graft.operators.Expect
      val li = executor(s, d).table("lineitem")
      val or = executor(s, d).table("orders")
      E.validate(li, Seq(
          E.notNull("l_orderkey"),
          E.inRange("l_quantity", 1, 50),
          E.oneOf("l_returnflag", Seq("A", "N", "R")),
          E.matches("l_linestatus", "^[OF]$")))
        .unionByName(E.unique(li, Seq("l_orderkey", "l_linenumber")))
        .unionByName(E.referentialIntegrity(li, "l_orderkey",
          or, "o_orderkey"))
        .orderBy("rule")
    }),

    // Row-level quarantine: each doc annotated with the rules it
    // violates (joined to a string for engine-portable comparison) —
    // the split point that routes dirty rows to a reasoned sink.
    "q_expect_quarantine" -> ((s, d) => {
      val E = graft.operators.Expect
      E.quarantine(docs(s, d), Seq(
          E.oneOf("lang", Seq("en", "fr", "de")),
          E.inRange("n_chars", 1, 400),
          E.notNull("text")))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          array_join(col("violations"), ",").as("violations"),
          (size(col("violations")) === 0).as("clean"))
        .orderBy("doc_id")
    }),

    // Salted join on a same-name key — the stage algebra's common case
    // (and the column-dedup fix): results must equal a plain equi-join,
    // which is what the DuckDB oracle asserts.
    "q_skew_join" -> ((s, d) => {
      import graft.operators.Skew
      val ex = executor(s, d)
      val li = ex.table("lineitem").select(col("l_partkey").as("partkey"),
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val pt = ex.table("part").select(col("p_partkey").as("partkey"),
        col("p_name"), col("p_retailprice"))
      Skew.saltedJoin(li, pt, "partkey", "partkey", buckets = 8)
    }),

    // CUSTOM-SQL → native-expression demo: the reference's escape hatch
    // (CustomStage through the ENGINE path — StageCompiler's spark.sql,
    // not DataFrame code) reaching the SQL-registered graft natives
    // (simhash64, hashed_tokens via GraftExtensions). Twin construction
    // makes it closed-form oracle-checkable: every doc's exact twin has
    // an identical fingerprint, and the join keeps only twin pairs.
    "q_custom_simhash" -> ((s, d) => pipe(
      CustomStage(st(1), "simhash twin join via SQL natives", sqlSimhash))(s, d)),

    // AVG through the GROUP stage (server/index.js:155 enumerates it).
    // avg over an INTEGER column is FP-deterministic: integer partial sums
    // are exact in double below 2^53, so Spark and DuckDB divide identical
    // sums — no decimal detour needed (cf. the DECIMAL policy above).
    "q_agg_avg" -> ((s, d) => pipe(
      GroupStage(st(1), "average part size per brand", Some("part"),
        Seq("p_brand"),
        Seq(
          Aggregation("avg", "p_size", Some("avg_size")),
          Aggregation("count", "*", Some("n_parts")),
          Aggregation("sum", "CAST(p_retailprice AS DECIMAL(18,2))", Some("sum_price_dec")))),
      SelectStage(st(2), "deterministic avg shapes", None, Seq(
        "p_brand", "avg_size", "n_parts",
        "CAST(sum_price_dec AS DOUBLE) / n_parts AS avg_price")),
      SortStage(st(3), "stable order", None, Seq(SortKey("p_brand", "ASC"))))(s, d)),

    // Gopher/C4 quality-rule battery (Rae et al. 2021 §A1.1): all eight
    // metrics in one codegen'd projection; counts emitted as BIGINT and
    // keep as INT so widths match DuckDB's (cf. the int-width note in
    // the oracle policy). Every metric is exact-integer arithmetic with a
    // fixed-shape final division, so the oracle hash-matches.
    "q_quality_gopher" -> ((s, d) =>
      graft.operators.QualityFilter.gopherFlags(docs(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
          col("mean_word_len"), col("symbol_ratio"), col("bullet_frac"),
          col("ellipsis_frac"), col("alpha_frac"),
          col("n_stopwords").cast("long").as("n_stopwords"),
          col("dup_line_frac"), col("keep").cast("int").as("keep"))
        .orderBy("doc_id")),

    // Sequential curation-funnel audit: four keep-rules in pipeline
    // order; each doc charged to the FIRST rule it fails — per-rule
    // n_in/n_removed/n_out, the C4/Gopher-paper-style attribution table.
    "q_quality_funnel" -> ((s, d) =>
      graft.operators.QualityFilter.funnelReport(docs(s, d), Seq(
          "min_chars" -> (col("n_chars") >= 60),
          "en_only" -> (col("lang") === "en"),
          "min_tokens" -> (TF.tokenCount(col("text")) >= 25),
          "max_chars" -> (col("n_chars") <= 900)))
        .orderBy("rule_order")),

    // Compression-ratio quality signal (zlib entropy proxy for
    // repetition/boilerplate). Rows-only: the byte count is a function
    // of the JVM's zlib (see DeflateSize scaladoc) — the oracle-green
    // surface is the twin below.
    "q_quality_compress" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          TF.deflateSize(col("text")).as("deflate_bytes"),
          when(octet_length(col("text")) === 0, lit(null).cast("double"))
            .otherwise(round(TF.deflateSize(col("text")).cast("double") /
              octet_length(col("text")).cast("double"), 6))
            .as("compression_ratio"))
        .orderBy("doc_id")),

    // Twin construction for the compression signal: zlib's structural
    // guarantees ARE oracle-predictable even though byte counts aren't —
    // a 4× self-repetition back-references its copies (strictly beating
    // 4 independent streams), and raw DEFLATE never expands beyond
    // input + stored-block overhead.
    "q_quality_compress_twins" -> ((s, d) =>
      docs(s, d).filter(col("n_chars") >= 64)
        .select(col("doc_id"),
          (TF.deflateSize(repeat(col("text"), 4)) <
            TF.deflateSize(col("text")) * 4).as("repetition_compresses"),
          (TF.deflateSize(col("text")) <=
            octet_length(col("text")).cast("long") + lit(64L))
            .as("bounded_by_plain"))
        .orderBy("doc_id")),

    // Normalized compression distance of each doc against its successor
    // — the tokenizer-free similarity. Rows-only (zlib-versioned, like
    // q_quality_compress); the oracle-green surface is the twin below.
    "q_text_ncd" -> ((s, d) => {
      val ds = docs(s, d)
      ds.select(col("doc_id").as("id"), col("text").as("a"))
        .join(ds.select((col("doc_id") - 1).as("id"), col("text").as("b")),
          Seq("id"))
        .select(col("id"), TF.ncd(col("a"), col("b")).as("ncd"))
        .orderBy("id")
    }),

    // NCD structural twins (zlib guarantees, engine-independent): the
    // self-distance beats the distance to a different document, and
    // both land in the sane [0, 1.25] band.
    "q_text_ncd_twins" -> ((s, d) => {
      val ds = docs(s, d).filter(col("n_chars") >= 64)
      ds.select(col("doc_id").as("id"), col("text").as("a"))
        .join(ds.select((col("doc_id") - 1).as("id"), col("text").as("b")),
          Seq("id"))
        .select(col("id"),
          (TF.ncd(col("a"), col("a")) < TF.ncd(col("a"), col("b")))
            .as("self_beats_cross"),
          (TF.ncd(col("a"), col("b")) >= 0.0 &&
            TF.ncd(col("a"), col("b")) <= 1.25).as("in_band"))
        .orderBy("id")
    }),

    // PII detect + redact over a deterministically PII-injected corpus
    // (2/3 of docs get a synthetic email/SSN/phone/IP suffix built from
    // doc_id — both engines construct the identical text, so counts AND
    // the redacted string are oracle-checked exactly).
    "q_pii_redact" -> ((s, d) => {
      import graft.operators.Pii
      val injected = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 3 =!= 0,
          concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
            lit("@example.com or 10."), (col("doc_id") % 200).cast("string"),
            lit(".0.1 ssn 123-45-6789 tel 555-123-4567")))
          .otherwise(col("text")).as("text"))
      Pii.detect(injected, "doc_id", "text")
        .join(Pii.redact(injected, "doc_id", "text")
          .withColumnRenamed("text", "redacted"), "doc_id")
        .select(col("doc_id"), col("n_email").cast("long").as("n_email"),
          col("n_ssn").cast("long").as("n_ssn"),
          col("n_phone").cast("long").as("n_phone"),
          col("n_ip").cast("long").as("n_ip"),
          col("has_pii").cast("int").as("has_pii"), col("redacted"))
        .orderBy("doc_id")
    }),

    // Corpus-level n-gram frequency stats: explode → map-side-combined
    // hash agg → deterministic top-k (count DESC, ngram ASC) executed as
    // TakeOrderedAndProject, never a full sort.
    "q_ngram_counts" -> ((s, d) =>
      graft.operators.NgramStats.topNgrams(docs(s, d), "text", n = 2, k = 100)),

    // Benchmark decontamination audit: docs sharing any 3-gram with the
    // eval set (doc_id < 10) and their distinct-shingle hit counts.
    // Hashed shingles on the engine side, string shingles in the oracle —
    // identical counts absent 64-bit collisions (cf. ngramJaccardOracle).
    "q_decontaminate" -> ((s, d) => {
      val corpus = docs(s, d).select(col("doc_id"), col("text"))
      graft.operators.Decontaminate.contaminationHits(
        corpus, "doc_id", "text",
        corpus.filter(col("doc_id") < 10), "text", n = 3)
        .orderBy("doc_id")
    }),

    // The removal half of the same pass: the clean corpus (no shared
    // 3-gram with the eval slice) — survivors, not just flags.
    "q_decontaminate_remove" -> ((s, d) => {
      val corpus = docs(s, d).select(col("doc_id"), col("text"))
      graft.operators.Decontaminate.decontaminate(
        corpus, "doc_id", "text",
        corpus.filter(col("doc_id") < 10), "text", n = 3)
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // Deterministic stratified sampling (domain-mixture weights by lang):
    // membership is a pure function of md5(text), so the exact kept set —
    // not just the counts — is oracle-checked.
    "q_sample_stratified" -> ((s, d) =>
      graft.operators.Sample.stratifiedHashSample(
        docs(s, d).select(col("doc_id"), col("lang"), col("text")),
        "lang", "text", sampleFractions, defaultFrac = 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // Per-source document cap (C4-style domain balancing): ≤ 15 docs per
    // source, picked by content-hash order (testdata has 25 docs/source,
    // so the cap genuinely truncates); the exact kept set is
    // deterministic, so the window formulation is oracle-checked.
    "q_sample_cap" -> ((s, d) =>
      graft.operators.Sample.capPerKey(
        docs(s, d).select(col("doc_id"), col("source"), col("text")),
        "source", "text", "doc_id", maxPerKey = 15)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // Best-k per key (quality-ordered, not random): the 10 longest docs
    // per language, ties on doc_id — the "best k per domain" curation
    // selection, exact kept set oracle-checked against the same window.
    "q_sample_topk" -> ((s, d) =>
      graft.operators.Sample.topPerKey(
        docs(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "n_chars", k = 10, idCol = "doc_id")
        .orderBy("doc_id")),

    // Relative-threshold variant: top 20% per language by length via
    // percent_rank (rank-based — engine-portable, no float aggregation).
    "q_sample_topfrac" -> ((s, d) =>
      graft.operators.Sample.topFraction(
        docs(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "n_chars", frac = 0.2, idCol = "doc_id")
        .orderBy("doc_id")),

    // Gini concentration of char mass across sources — the
    // mixture-inequality audit (0 = even shares, →1 = one source
    // dominates); exact integer rank·total products.
    "q_profile_gini" -> ((s, d) =>
      graft.operators.Profile.giniConcentration(
        docs(s, d).select(col("source"), col("n_chars")),
        "source", "n_chars")),

    // Heap-based top-k per key: the bounded TypedImperativeAggregate
    // (k-entry buffers through partial agg — no per-key window sort);
    // same (score desc, id asc) selection as the window form.
    "q_sample_topk_heap" -> ((s, d) =>
      graft.operators.Sample.topPerKeyHeap(
          docs(s, d).select(col("lang"), col("doc_id"),
            TF.qualityScore(col("text")).as("q")),
          "lang", "q", k = 5, idCol = "doc_id")
        .orderBy("lang", "doc_id")),

    // Nucleus (top-p) selection: per language, the minimal top-score
    // prefix carrying 80% of the char MASS (not row count) — decimal
    // cumulative sums, so the cut is engine-exact.
    "q_sample_topmass" -> ((s, d) =>
      graft.operators.Sample.topMassFraction(
        docs(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "doc_id", "n_chars", p = 0.8)
        .orderBy("doc_id")),

    // -------- OLAP beyond the reference's flat GROUP BY: subtotal
    // levels in ONE aggregation (map-side grouping-set expansion, one
    // shuffle), grouping_id bit order pinned against SQL-standard
    // GROUPING(). Decimal sums per the float-determinism policy.
    "q_olap_rollup" -> ((s, d) =>
      graft.operators.Olap.rollupAgg(
        executor(s, d).table("orders")
          .select(col("o_orderpriority"), col("o_orderstatus"), col("o_totalprice")),
        Seq("o_orderpriority", "o_orderstatus"),
        Seq(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev")))),

    // Full CUBE lattice over the same shape (2^n grouping sets in one
    // aggregation), vs SQL-standard GROUP BY CUBE.
    "q_olap_cube" -> ((s, d) =>
      graft.operators.Olap.cubeAgg(
        executor(s, d).table("orders")
          .select(col("o_orderpriority"), col("o_orderstatus"), col("o_totalprice")),
        Seq("o_orderpriority", "o_orderstatus"),
        Seq(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev")))),

    // Explicit GROUPING SETS — ((priority), (status)): two INDEPENDENT
    // one-dimensional subtotal slices with no cross product, a lattice
    // ROLLUP/CUBE can't express; same single-shuffle map-side expansion.
    "q_olap_grouping_sets" -> ((s, d) =>
      graft.operators.Olap.groupingSetsAgg(
        executor(s, d).table("orders")
          .select(col("o_orderpriority"), col("o_orderstatus"), col("o_totalprice")),
        Seq(Seq("o_orderpriority"), Seq("o_orderstatus")),
        Seq("o_orderpriority", "o_orderstatus"),
        Seq(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev")))),

    // Count matrix (day × event_type): explicit pivot domain — no
    // domain-discovery scan — and 0-filled empty cells, vs DuckDB
    // conditional aggregation.
    "q_olap_pivot" -> ((s, d) =>
      graft.operators.Olap.pivotCount(
        executor(s, d).table("events").select(
          to_date(col("ts")).as("day"), col("event_type")),
        "day", "event_type",
        Seq("click", "error", "purchase", "signup", "view"))),

    // Unpivot/melt — the pivot inverse: four lineitem metrics to long
    // form via the shuffle-free Expand projection.
    "q_olap_unpivot" -> ((s, d) =>
      graft.operators.Olap.unpivot(
          executor(s, d).table("lineitem")
            .filter(col("l_orderkey") % 50 === 0),
          Seq("l_orderkey", "l_linenumber"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("l_orderkey", "l_linenumber", "metric")),

    // Fixed-width histogram: one scan, arithmetic binning (both engines
    // state the identical floor expression), clamped edges.
    "q_profile_hist" -> ((s, d) =>
      graft.operators.Profile.histogram(
        docs(s, d), "n_chars", lo = 0.0, hi = 2000.0, nBins = 20)),

    // Exact discrete quantiles per key (value at rank ⌈p·n⌉ — integer
    // rank arithmetic, no interpolation-formula ulp divergence): p50/
    // p90/p99 document length per language, one window pass for all ps.
    "q_profile_quantiles" -> ((s, d) =>
      graft.operators.Profile.quantiles(
        docs(s, d).select(col("lang"), col("n_chars")),
        "lang", "n_chars", Seq(0.5, 0.9, 0.99))),

    // Sketch-vs-exact cardinality (the 100 TB profiling path): exact
    // COUNT(DISTINCT) is the oracle contract; the HLL++ estimate's
    // within-tolerance verdict is pinned TRUE per key — same exact-twin
    // pattern as minhash exact/estimate.
    "q_sketch_cardinality" -> ((s, d) =>
      graft.operators.Profile.cardinalitySketch(
        docs(s, d).select(col("lang"), col("text")), "lang", "text")),

    // Sketch-vs-exact quantiles: the rank-statistic exact value is the
    // oracle; the Greenwald–Khanna approx_percentile verdict is pinned
    // within 10% relative error per (key, p).
    "q_sketch_quantiles" -> ((s, d) =>
      graft.operators.Profile.quantileSketch(
        docs(s, d).select(col("lang"), col("n_chars")),
        "lang", "n_chars", Seq(0.5, 0.9, 0.99))),

    // Vocabulary heavy hitters (tokens with freq > n/40) via per-
    // partition Misra-Gries + exact confirm — the two-phase shape whose
    // candidate union provably contains every true heavy hitter, so the
    // probabilistic sketch is invisible in the result (cf. the HLL/GK
    // verdict gates).
    "q_heavy_hitters" -> ((s, d) =>
      graft.operators.Profile.heavyHitters(
        docs(s, d).select(explode(split(col("text"), " ")).as("tok")),
        "tok", k = 40).orderBy("value")),

    // Keyed pseudonymization for privacy-preserving export: stable
    // sha256(salt ‖ id) hex, NULL-preserving, pure projection.
    "q_pii_pseudo" -> ((s, d) =>
      graft.operators.Pii.pseudonymize(
        executor(s, d).table("events").select(col("event_id"), col("user_id")),
        Seq("user_id"), salt = "graft-salt-1")),

    // k-anonymity audit on (lang, source, length-bucket) quasi-
    // identifiers: equivalence classes with fewer than 4 members are
    // re-identification risks. The length bucket keeps class sizes
    // small enough that violations exist at every SF.
    "q_pii_kanon" -> ((s, d) =>
      graft.operators.Pii.kAnonymityViolations(
          docs(s, d).withColumn("len_bucket", col("n_chars") % 10)
            .select(col("lang"), col("source"), col("len_bucket")),
          Seq("lang", "source", "len_bucket"), k = 4)
        .orderBy(col("lang").asc_nulls_last, col("source").asc_nulls_last,
          col("len_bucket").asc_nulls_last)),

    // l-diversity audit: (lang, source) classes whose len-bucket
    // diversity is under 10 — the sensitive-value leak check next to
    // q_pii_kanon.
    "q_pii_ldiv" -> ((s, d) =>
      graft.operators.Pii.lDiversityViolations(
          docs(s, d).withColumn("len_bucket", col("n_chars") % 10)
            .select(col("lang"), col("source"), col("len_bucket")),
          Seq("lang", "source"), "len_bucket", l = 10)
        .orderBy(col("lang").asc_nulls_last, col("source").asc_nulls_last)),

    // Daily OHLC resample of the event value stream, event_id
    // tie-break.
    "q_ts_ohlc" -> ((s, d) =>
      graft.operators.Timeseries.ohlc(
          executor(s, d).table("events"), "ts", "value", "event_id")
        .orderBy("day")),

    // Per-key rolling aggregate over event time (trailing 1h, RANGE
    // frame over integer epoch micros — tied timestamps are peers, so
    // the result is deterministic; decimal sum stays exact under the
    // sliding add/remove evaluator).
    "q_rolling_window" -> ((s, d) =>
      graft.operators.Rolling.trailingAgg(
        executor(s, d).table("events")
          .select(col("event_id"), col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value", windowSeconds = 3600L)
        .select(col("event_id"), col("n_window"), col("sum_window"))),

    // Per-user z-score outlier flags: both moments from exact decimal
    // sums (order-independent), double arithmetic only at the end — so
    // the flags are deterministic and oracle-checkable, unlike anything
    // built on float avg/stddev.
    "q_anomaly_zscore" -> ((s, d) =>
      graft.operators.Profile.zscoreFlags(
        executor(s, d).table("events")
          .select(col("event_id"), col("user_id"), col("value")),
        "user_id", "value", threshold = 2.0)
        .select(col("event_id"), col("z"), col("is_outlier"))),

    // Per-user winsorization: clip event values to the user's exact
    // [p05, p95] rank-statistic band — actual data values as bounds, so
    // clipping is engine-exact (no interpolated float thresholds).
    "q_clip_winsorize" -> ((s, d) =>
      graft.operators.Profile.winsorize(
        executor(s, d).table("events")
          .select(col("event_id"), col("user_id"), col("value")),
        "user_id", "value", pLo = 0.05, pHi = 0.95)
        .select(col("event_id"), col("value_clipped"), col("was_clipped"))),

    // Per-user weekly rate cap: first 3 events per (user, week bucket) by
    // (ts, event_id) — a binding cap on this corpus (~2.2k of 10k rows
    // survive), deterministic kept set, (key, bucket) shuffle.
    "q_sample_rate_limit" -> ((s, d) =>
      graft.operators.Sample.rateLimit(
        executor(s, d).table("events")
          .select(col("event_id"), col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "event_id", windowSeconds = 604800L, maxPerWindow = 3)
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy("event_id")),

    // Per-user event-sequence navigation: inter-event gap + next-event
    // value lookahead, totally ordered by (ts, event_id) so lag/lead are
    // deterministic under ties (next_value is a pure double passthrough —
    // no arithmetic, so it hash-matches).
    "q_window_nav" -> ((s, d) =>
      graft.operators.Rolling.keyedNav(
        executor(s, d).table("events")
          .select(col("event_id"), col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "event_id", "value")
        .select(col("event_id"), col("user_id"), col("rn"),
          col("gap_micros"), col("next_value"))),

    // Domain blocklist over synthesized crawl URLs: host extraction by
    // portable regex, suffix-chain semantics (subdomains blocked too),
    // all equi-joins — the oracle states the same rule as LIKE-suffix
    // predicates.
    "q_web_block" -> ((s, d) => {
      val withUrl = docs(s, d).select(col("doc_id"),
        concat(lit("https://cdn"), (col("doc_id") % 5).cast("string"),
          lit("."), col("source"), lit(".example.com/p/"),
          col("doc_id").cast("string")).as("url"))
      graft.operators.Web.blockByDomain(withUrl, "url", "doc_id",
        Seq("src2.example.com", "cdn1.src5.example.com", "example.net"))
        .orderBy("doc_id")
    }),

    // Unicode NFC normalization parity: Java Normalizer (codegen'd
    // native expr) vs DuckDB's utf8proc — same UAX #15 spec, byte-equal
    // output. A decomposed suffix is appended so the gate genuinely
    // exercises composition, not just pass-through.
    "q_text_nfc" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TF.nfcNormalize(concat(col("text"), lit(" re\u0301sume\u0301")))
          .as("nfc_text"))),

    // Vocabulary coverage: per-doc OOV rate against the corpus top-200
    // vocabulary (broadcast) — counts and the exact kept vocabulary are
    // both deterministic (top-k tie-break on term), so the whole two-stage
    // pipeline is oracle-checked.
    "q_vocab_oov" -> ((s, d) => {
      val dd = docs(s, d)
      graft.operators.Vocab.oovRate(dd, "doc_id", "text",
        graft.operators.Vocab.topVocabulary(dd, "text", k = 200))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"), col("oov_rate"))
        .orderBy("doc_id")
    }),

    // Deterministic sequence packing: docs → fixed token-budget packs,
    // sharded so the cumulative window parallelizes (shards = independent
    // shuffle partitions); exact integer arithmetic → SQL oracle.
    "q_pack" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Pack.packByTokenBudget(toks, "doc_id", "n_tokens",
        budget = 500L, shards = 8)
        .select(col("doc_id"), col("shard"), col("pack"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    // The consumer half of packing: each pack materialized as one
    // training row (ordered concat within the pack).
    "q_pack_assemble" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"), col("text"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Pack.assemble(toks, "doc_id", "n_tokens", "text",
        budget = 500L, shards = 8)
        .orderBy("shard", "pack")
    }),

    // Length-bucketed batching: similar-length rows batch together so
    // pad-to-max waste is bounded by the bucket cap, not the corpus max;
    // rank-within-(bucket, shard) batch ids are integer-exact on both
    // engines.
    "q_pack_buckets" -> ((s, d) =>
      graft.operators.Pack.lengthBuckets(
        docs(s, d).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", Seq(256L, 512L, 1024L, 2048L),
        batchSize = 32, shards = 8)
        .select(col("doc_id"), col("bucket_cap"), col("shard"),
          col("batch"), col("padding"))),

    // CUSTOM-SQL → quality natives: the reference's escape hatch reaching
    // quality_metrics through the ENGINE path (StageCompiler's spark.sql),
    // hash-matched against the shared Gopher metric oracle.
    "q_custom_quality" -> ((s, d) => pipe(
      CustomStage(st(1), "quality metrics via SQL natives", sqlQuality))(s, d)),

    // The composed curation pipeline, end-to-end as ONE lazy plan:
    // clean → Gopher quality filter → exact dedup → content-hash split.
    // Each step is individually oracle-checked elsewhere; this gate pins
    // the COMPOSITION (operators chain without materialization barriers
    // and the oracle reproduces the whole chain).
    "q_curate_pipeline" -> ((s, d) => {
      import graft.operators.{Clean, QualityFilter, Split}
      val cleaned = Clean.cleanStrings(docs(s, d).select(col("doc_id"), col("text")))
        .filter(col("text").isNotNull)
      val kept = QualityFilter.gopherFilter(cleaned, "doc_id", "text")
      val deduped = Dedup.exactDedup(kept, "doc_id", "text")
      Split.hashSplit(deduped, "text", 0.8)
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    // Gopher repetition rules: most-frequent-bigram and duplicated-bigram
    // character coverage per doc — native hash-map pass, checked against
    // a DuckDB explode + window oracle (ties broken lexicographically in
    // both engines; exact integer counts, fixed-shape division).
    "q_quality_repetition" -> ((s, d) =>
      graft.operators.QualityFilter.repetitionMetrics(docs(s, d), "doc_id", "text", n = 2)
        .orderBy("doc_id")),

    // int8 embedding quantization, exploded to scalar rows so the driver
    // compare sees plain columns: per-component codes are exact integer
    // outputs of a fixed-shape double expression (floor(x+0.5) — the
    // tie-rule-portable rounding), so the oracle hash-matches.
    "q_embed_quantize" -> ((s, d) => {
      val e = embeddings(s, d).filter(col("vec_id") < 1000)
        .select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))
      // posexplode_OUTER: plain posexplode makes Catalyst infer a
      // size(q) > 0 filter and push it below the projections,
      // re-inlining the whole quantize expression (array_max per
      // element) into a per-row predicate — the exact O(d²) the
      // operator materializes `scale` to avoid (plan-audit-asserted).
      // Vectors are never empty, so the rows are identical.
      graft.operators.Quantize.int8(e, "vec_id", "v")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          posexplode_outer(col("q")).as(Seq("idx", "code")))
        .orderBy("vec_id", "idx")
    }),

    // Matryoshka truncation to 16 dims + unit renorm. The squared-norm
    // is a sequential left-fold (identical IEEE order in both engines —
    // Spark aggregate's 0.0 seed is exact under +x₁²), so values agree
    // bit-for-bit before the 6-dp publish round.
    "q_embed_matryoshka" -> ((s, d) => {
      val e = embeddings(s, d).filter(col("vec_id") < 1000)
        .select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))
      graft.operators.Quantize.matryoshka(e, "vec_id", "v", dims = 16)
        .select(col("vec_id"), posexplode_outer(col("v")).as(Seq("idx", "va")))
        .select(col("vec_id"), col("idx"), round(col("va"), 6).as("val"))
        .orderBy("vec_id", "idx")
    }),

    // Chunk→document mean pooling: 4 chunk embeddings per synthetic
    // parent (vec_id mod 250), add-exact per-dim mean, unit renorm —
    // the doc-level embedding assembly step of long-document retrieval.
    "q_embed_pool" -> ((s, d) => {
      val e = embeddings(s, d)
        .select((col("vec_id") % 250).as("parent_id"),
          VF.asDouble(col("embedding")).as("v"))
      graft.operators.Centroids.meanPoolNormalized(e, "parent_id", "v")
        .select(col("parent_id"), posexplode(col("pooled")).as(Seq("idx", "va")))
        .select(col("parent_id"), col("idx"), round(col("va"), 6).as("val"))
        .orderBy("parent_id", "idx")
    }),

    // SemDeDup twin gate (same closed-form construction as q_dedup_embed):
    // embeddings ∪ exact twins (id+1e6, v×2) — cell assignment is
    // scale-invariant so every twin pair is a within-cell candidate with
    // cosine exactly 1.0; no natural pair reaches 0.9 (testdata max
    // ~0.6), so the result is exactly the N twin pairs.
    "q_dedup_semantic_twins" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))
      val twins = e.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("v"), x => x * lit(2.0)).as("v"))
      graft.operators.SemDedup.semanticPairs(e.unionByName(twins), "vec_id", "v",
        threshold = 0.9, nCentroids = 16)
        .orderBy("id_a", "id_b")
    }),

    // SemDeDup survivor set over the same twin corpus: every twin has a
    // smaller-id near-dup (its original) and gets dropped; every original
    // survives (no natural pair ≥ 0.9) — survivors = the original ids.
    "q_dedup_semantic" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))
      val twins = e.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("v"), x => x * lit(2.0)).as("v"))
      graft.operators.SemDedup.dedup(e.unionByName(twins), "vec_id", "v",
        threshold = 0.9, nCentroids = 16)
        .select(col("vec_id"))
        .orderBy("vec_id")
    }),

    // C4-style corpus-global line dedup over a multi-line construction:
    // every doc gets a shared boilerplate line (500 docs) and a per-source
    // line (25 docs at sf0.01); maxDocs=20 removes both, keeps the two
    // unique body lines, and reassembles in original order.
    "q_lines_dedup" -> ((s, d) =>
      graft.operators.Lines.dedupLines(multiLineDocs(s, d), "doc_id", "text",
          maxDocs = 20)
        .select("doc_id", "text").orderBy("doc_id")),

    "q_lines_dup_stats" -> ((s, d) =>
      graft.operators.Lines.duplicatedLines(multiLineDocs(s, d), "doc_id", "text",
          maxDocs = 20)
        .orderBy(col("n_docs").desc, col("line").asc)),

    // HTML → text extraction over a synthesized crawl page (script/style/
    // comment blocks, block tags, one-level entity decode) — the step
    // before line dedup in a real web pipeline.
    "q_web_extract" -> ((s, d) =>
      htmlDocs(s, d)
        .select(col("doc_id"),
          graft.operators.Web.extractText(col("html")).as("text"))
        .orderBy("doc_id")),

    // Outlink extraction over synthesized link pages (double- and
    // single-quoted hrefs; the fragment-only link is excluded), each
    // link exploded with its position and host — the crawl-graph edge
    // list PageRank runs on.
    "q_web_links" -> ((s, d) =>
      linkDocs(s, d)
        .select(col("doc_id"), posexplode(
          graft.operators.Web.extractLinks(col("html"))).as(Seq("pos", "url")))
        .select(col("doc_id"), col("pos").cast("int").as("pos"), col("url"),
          graft.operators.Web.host(col("url")).as("host"))
        .orderBy("doc_id", "pos")),

    // BM25 top-k search for three fixed probe queries (mirrored in the
    // oracle's VALUES list).
    "q_search_bm25" -> ((s, d) => {
      import s.implicits._
      val q = Seq((1L, "spark"), (1L, "join"), (2L, "window"), (2L, "merge"),
        (2L, "sort"), (3L, "customer")).toDF("query_id", "term")
      graft.operators.Search.bm25TopK(docs(s, d), "doc_id", "text", q, k = 10)
        .orderBy("query_id", "rank")
    }),

    // Hybrid retrieval: BM25 top-10 ∪ dense cosine top-10 fused by
    // reciprocal rank (k0=60) per query — queries 1..3 exist in BOTH
    // systems (terms above; probe vectors vec_id 1..3, ids aligned with
    // doc_id), so the fusion exercises both-present and one-sided
    // candidates.
    "q_search_hybrid" -> ((s, d) => {
      import s.implicits._
      val q = Seq((1L, "spark"), (1L, "join"), (2L, "window"), (2L, "merge"),
        (2L, "sort"), (3L, "customer")).toDF("query_id", "term")
      val bm = graft.operators.Search.bm25TopK(docs(s, d), "doc_id", "text", q, k = 10)
      val e = embeddings(s, d)
        .select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))
      val p = e.filter(col("vec_id").isin(1L, 2L, 3L))
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val ann = graft.operators.Ann.bruteForceTopK(e, "vec_id", "v", p, "qid", "qv", k = 10)
        .select(col("query_id"), col("rank"), col("vec_id").as("doc_id"))
      graft.operators.Search.rrfFuse(bm, ann, k = 10)
        .orderBy("query_id", "rank")
    }),

    // Mutual (reciprocal) top-5 self-retrieval pairs over a 50-vector
    // slice — the hubness-robust near-neighbor signal (one-directional
    // membership is not enough; both ends must reciprocate).
    "q_ann_mutual" -> ((s, d) => {
      val e = embeddings(s, d).filter(col("vec_id") < 50)
        .select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))
      val probes = e.select(col("vec_id").as("query_id"), col("v").as("qv"))
      val cands = Ann.bruteForceTopK(e, "vec_id", "v", probes,
        "query_id", "qv", k = 5)
      Ann.mutualTopK(cands, "query_id", "vec_id", "cosine")
        .orderBy("id_a", "id_b")
    }),

    // Margin-based pair mining (LASER bitext criterion): even vec_ids
    // play the source "language", odd the target; each side's exact
    // top-4 feeds the ratio margin, every source keeps its best-margin
    // target at margin ≥ 1 — the hubness-robust alignment signal.
    "q_mine_margin" -> ((s, d) => {
      // spread: 2500 broadcast probes x 2500 corpus vectors of 64-dim
      // dots ran inside the single-task scan on each side
      val e = spread(embeddings(s, d))
        .select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))
      val xs = e.filter(col("vec_id") % 2 === 0)
      val ys = e.filter(col("vec_id") % 2 === 1)
      val xp = xs.select(col("vec_id").as("qid"), col("v").as("qv"))
      val yp = ys.select(col("vec_id").as("qid"), col("v").as("qv"))
      val fwd = Ann.bruteForceTopK(ys, "vec_id", "v", xp, "qid", "qv", k = 4)
      val bwd = Ann.bruteForceTopK(xs, "vec_id", "v", yp, "qid", "qv", k = 4)
      Ann.marginPairs(fwd, bwd, threshold = 1.0).orderBy("src_id")
    }),

    // Retrieval-quality audit: BM25 top-10 scored against the dense
    // exact-cosine top-10 as gold — recall@10 / MRR@10 / nDCG@10 per
    // query, the lexical-vs-dense agreement diagnostic behind the
    // q_search_hybrid fusion (same aligned ids: probe vec_id 1..3 ↔
    // query terms 1..3).
    "q_retrieval_eval" -> ((s, d) => {
      import s.implicits._
      val q = Seq((1L, "spark"), (1L, "join"), (2L, "window"), (2L, "merge"),
        (2L, "sort"), (3L, "customer")).toDF("query_id", "term")
      val bm = graft.operators.Search.bm25TopK(docs(s, d), "doc_id", "text", q, k = 10)
      val e = embeddings(s, d)
        .select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))
      val p = e.filter(col("vec_id").isin(1L, 2L, 3L))
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val gold = Ann.bruteForceTopK(e, "vec_id", "v", p, "qid", "qv", k = 10)
        .select(col("query_id"), col("vec_id").as("doc_id"))
      graft.operators.Eval.rankedRetrieval(bm, gold,
          "query_id", "doc_id", "rank", k = 10)
        .orderBy("query_id")
    }),

    // Fightin'-Words distinctive vocabulary of the Spanish slice vs the
    // rest — prior-shrunk log-odds z-scores, top-15.
    "q_keywords_logodds" -> ((s, d) =>
      graft.operators.Keywords.logOddsTerms(docs(s, d), "text", "lang",
        targetClass = "es", alpha = 0.01, k = 15)),

    // Mutual information lang ↔ source — "does provenance predict
    // language?", the dependence audit behind leakage-safe splitting.
    "q_profile_mi" -> ((s, d) =>
      graft.operators.Profile.mutualInformation(docs(s, d), "lang", "source")),

    // 2-objective Pareto front over (length, independent synthetic
    // score): the non-dominated staircase — multi-objective selection
    // without a weighted collapse.
    "q_sample_pareto" -> ((s, d) =>
      graft.operators.Sample.paretoFront2(
          docs(s, d).select(col("doc_id"),
            col("n_chars").cast("double").as("q1"),
            (col("doc_id") * 37 % 101).cast("double").as("q2")),
          "q1", "q2")
        .orderBy("doc_id")),

    // Wide-range skyline: x = doc_id·π — one distinct 6-dp x-cell per
    // document over a corpus-growing range (the r9 verdict's
    // degenerate shape); pins the CumWalk running-max walk.
    "q_sample_pareto_wide" -> ((s, d) =>
      graft.operators.Sample.paretoFront2(
          docs(s, d).select(col("doc_id"),
            (col("doc_id") * lit(math.Pi)).as("q1"),
            (col("doc_id") * 37 % 101).cast("double").as("q2")),
          "q1", "q2")
        .orderBy("doc_id")),

    // AUC-ROC of a deterministic synthetic scorer (37·id mod 101 plus an
    // English bump) against the lang='en' label — tie groups exercised
    // by the 101-value score domain, average-rank Mann-Whitney.
    "q_eval_auc" -> ((s, d) =>
      graft.operators.Eval.aucRoc(scoredDocs(s, d), "score", "label")),

    // Reliability bins for the same scorer: 10 fixed-width bins with
    // mean confidence, observed rate, and the weighted gap whose sum is
    // the Expected Calibration Error.
    "q_eval_calibration" -> ((s, d) =>
      graft.operators.Eval.calibrationBins(scoredDocs(s, d),
        "score", "label", nBins = 10).orderBy("bin")),

    // Brier score + Murphy decomposition for the same scorer: exact
    // unbinned brier, binned reliability/resolution, base-rate
    // uncertainty — one cell reduce, one-row output.
    "q_eval_brier" -> ((s, d) =>
      graft.operators.Eval.brierDecomposition(scoredDocs(s, d),
        "score", "label", nBins = 10)),

    // Token-level generation eval (SQuAD F1): every 7th document scored
    // against a reference that alternates self (exact match, F1 = 1) and
    // the next document (partial bag overlap) — both branches of the
    // metric exercised in one gate.
    "q_eval_token_f1" -> ((s, d) =>
      graft.operators.Eval.tokenF1(evalPairs(s, d), "id", "pred", "gold")
        .orderBy("id")),

    // Corpus BLEU over the same mixed pairs: the self half keeps every
    // pooled p_n well above 0 (its 4-grams all match) while the next-doc
    // half drags precision below 1 — a non-degenerate score with the
    // unsmoothed corpus definition.
    "q_eval_bleu" -> ((s, d) =>
      graft.operators.Eval.corpusBleu(evalPairs(s, d),
        "id", "pred", "gold", maxN = 4)),

    // Johnson-Lindenstrauss sign projection 64→16: data-free seeded
    // ±1 matrix (md5 parity), embedded as a literal — pure codegen'd
    // arithmetic per row; the oracle regenerates the matrix from SQL
    // md5 and folds in the same sequential order.
    "q_embed_jl" -> ((s, d) =>
      graft.operators.Quantize.jlProject(
          embeddings(s, d).select(col("vec_id"),
            VF.asDouble(col("embedding")).as("v")),
          "vec_id", "v", sourceDims = 64, targetDims = 16)
        .select(col("vec_id"), posexplode(col("v")).as(Seq("__p", "value")))
        .select(col("vec_id"), (col("__p") + 1).as("dim"), col("value"))
        .orderBy("vec_id", "dim")),

    // Per-dimension embedding health: dead dims (variance ~ 0) and
    // offset dims (|mean| >> 0) — the anisotropy audit before trusting
    // raw cosine anywhere.
    "q_embed_dimstats" -> ((s, d) =>
      graft.operators.Profile.embeddingDimStats(
          embeddings(s, d).select(VF.asDouble(col("embedding")).as("v")), "v")
        .orderBy("dim")),

    // Upper-triangle covariance of the embedding space — the full
    // anisotropy picture (dimstats is just its diagonal): one corpus
    // pass exploding each vector to its d(d+1)/2 products, reduced to a
    // d²-cell table. 9-dp decimal-summed internals, 6-dp publish.
    "q_embed_covariance" -> ((s, d) =>
      // spread: the 10M-cell d²-explode ran serially on the 1-row-group
      // scan (6.7 s -> 2.7 s with the explode parallelized)
      graft.operators.Pca.covariance(
          spread(embeddings(s, d))
            .select(VF.asDouble(col("embedding")).as("v")), "v")
        .orderBy("i", "j")),

    // Top principal component by 3 power-iteration rounds on that
    // covariance matrix (never re-reading the corpus) — the direction
    // "all-but-the-top" cosine correction subtracts. The oracle unrolls
    // the same 3 rounds; 9-dp rounding at every step makes the
    // iteration order-independent and cross-engine exact.
    "q_embed_pca" -> ((s, d) =>
      graft.operators.Pca.topComponent(
          spread(embeddings(s, d))
            .select(VF.asDouble(col("embedding")).as("v")), "v",
          iterations = 3)
        .orderBy("dim")),

    // "All-but-the-top" projection removal: x' = x − (x·v)v against a
    // fixed alternating ±0.125 unit direction (exact in binary, so the
    // literal-array plan and the oracle share every product bit): pure
    // per-row zip_with/aggregate projection, no shuffle.
    "q_embed_remove_top" -> ((s, d) => {
      val comp = (1 to 64).map(i => if (i % 2 == 1) 0.125 else -0.125)
      graft.operators.Pca.removeComponent(
          embeddings(s, d).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", comp)
        .select(col("vec_id"), posexplode(col("v")).as(Seq("__p", "value")))
        .select(col("vec_id"), (col("__p") + 1).as("dim"), col("value"))
        .orderBy("vec_id", "dim")
    }),

    // Per-dimension z-score whitening: one d-cell stats reduce packed
    // into broadcast arrays, then a pure zip_with projection — the
    // corpus never shuffles. eps floors dead dimensions.
    "q_embed_standardize" -> ((s, d) =>
      graft.operators.Pca.standardize(
          embeddings(s, d).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding")
        .select(col("vec_id"), posexplode(col("v")).as(Seq("__p", "value")))
        .select(col("vec_id"), (col("__p") + 1).as("dim"), col("value"))
        .orderBy("vec_id", "dim")),

    // Product quantization codes: 2 subspaces × 4 centroids fit with
    // one in-plan L2 Lloyd round from the 4 smallest-id seeds, then the
    // codegen'd nearest-cell encode — (vec_id, subspace, code) rows;
    // the oracle replays seed → assign → decimal-mean → assign exactly
    // (raw-double fold distances need no rounding — same IEEE order).
    "q_embed_pq_codes" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VF.asDouble(col("embedding")).as("v"))
      val cb = graft.operators.Pq.fit(e, "vec_id", "v",
        subspaces = 2, k = 4, iterations = 1)
      graft.operators.Pq.encode(e, "vec_id", "v", cb)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("__s", "code")))
        .select(col("vec_id"), col("__s").as("subspace"), col("code"))
        .orderBy("vec_id", "subspace")
    }),

    // PQ reconstruction-error report — the read-before-you-trust-ADC
    // number: per-vector L2 distance to the reconstruction, corpus
    // mean/max at 6 dp.
    "q_embed_pq_error" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VF.asDouble(col("embedding")).as("v"))
      val cb = graft.operators.Pq.fit(e, "vec_id", "v",
        subspaces = 2, k = 4, iterations = 1)
      graft.operators.Pq.reconstructionError(e, "vec_id", "v", cb)
    }),

    // Asymmetric-distance PQ search: 5 probes against the encoded
    // corpus — per-probe m×k lookup table built in-plan, candidates
    // scored with m table lookups (the codes corpus never materializes
    // a vector); top-3 by reconstruction dot.
    "q_ann_pq" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VF.asDouble(col("embedding")).as("v"))
      val cb = graft.operators.Pq.fit(e, "vec_id", "v",
        subspaces = 2, k = 4, iterations = 1)
      val codes = graft.operators.Pq.encode(e, "vec_id", "v", cb)
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      graft.operators.Pq.adcTopK(codes, "vec_id", "codes",
        probes, "query_id", "qv", cb, k = 3)
    }),

    // IVF-PQ composition (both quantizers in one corpus scan): probes
    // explode to cells and score codes via the ADC lookup table. The
    // gate probes ALL cells, so the result must equal plain ADC search
    // exactly — the closed-form check that the cell tier subsets
    // without corrupting; nProbe < nCentroids subsetting is spec'd.
    "q_ann_ivfpq" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VF.asDouble(col("embedding")).as("v"))
      val idx = Ann.ivfPqIndex(e, "vec_id", "v", nCentroids = 4,
        subspaces = 2, pqK = 4, lloydIter = 1, pqIter = 1)
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      Ann.ivfPqSearch(idx, "vec_id", probes, "query_id", "qv",
        k = 3, nProbe = 4)
    }),

    // Persisted-PQ round-trip: codebook file + codes parquet saved,
    // reloaded, and ADC-searched — must equal the in-memory search
    // exactly (same plain-ADC oracle), proving codes stay decodable
    // across the save/load boundary.
    "q_ann_pq_persisted" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VF.asDouble(col("embedding")).as("v"))
      val cb = graft.operators.Pq.fit(e, "vec_id", "v",
        subspaces = 2, k = 4, iterations = 1)
      val codes = graft.operators.Pq.encode(e, "vec_id", "v", cb)
      val path = System.getProperty("java.io.tmpdir") +
        "/graft_pq_gate_" + new java.io.File(d).getName
      graft.operators.Pq.savePqIndex(codes, cb, path)
      val (cb2, codes2) = graft.operators.Pq.loadPqIndex(s, path)
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      graft.operators.Pq.adcTopK(codes2, "vec_id", "codes",
        probes, "query_id", "qv", cb2, k = 3)
    }),

    // ANN recall audit, itself oracle-verified: exact brute-force
    // top-10 as gold vs ADC top-10 as the approximate tier — both
    // deterministic and SQL-replayable, so the MEASUREMENT (per-query
    // intersection / recall@10) hash-checks cross-engine. The pattern a
    // deployment runs on a sample before trusting any approximate tier
    // — and on this gate's deliberately tiny oracle-tractable codebook
    // (2×4 = 16 reconstructions for 500 vectors) it correctly reports
    // LOW recall (~0-0.3): the audit surfacing an under-sized (m, k)
    // is the feature; production budgets (8×256) are what PqSpec's
    // geometry and SCALING.md size for.
    "q_ann_pq_recall" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VF.asDouble(col("embedding")).as("v"))
      val cb = graft.operators.Pq.fit(e, "vec_id", "v",
        subspaces = 2, k = 4, iterations = 1)
      val codes = graft.operators.Pq.encode(e, "vec_id", "v", cb)
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val exact = Ann.bruteForceTopK(e, "vec_id", "v", probes,
        "query_id", "qv", k = 10).select("query_id", "vec_id")
      val approx = graft.operators.Pq.adcTopK(codes, "vec_id", "codes",
        probes, "query_id", "qv", cb, k = 10).select("query_id", "vec_id")
      val hits = exact.join(approx, Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      probes.select(col("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") / 10, 6)
            .as("recall_at_10"))
        .orderBy("query_id")
    }),

    // Residual IVFADC, oracle-checkable construction: nCentroids = 1
    // with one Lloyd round makes the cell centroid the seed-independent
    // unit-normalized corpus mean, so the whole residual chain
    // (centroid → x−c residuals → codebook on residuals → base + LUT
    // scoring) replays in SQL end-to-end; the multi-cell subsetting is
    // already pinned by q_ann_ivfpq + the PqSpec nProbe re-derivation.
    "q_ann_ivfpq_residual" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        VF.asDouble(col("embedding")).as("v"))
      val idx = Ann.ivfPqResidualIndex(e, "vec_id", "v", nCentroids = 1,
        subspaces = 2, pqK = 4, lloydIter = 1, pqIter = 1)
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      Ann.ivfPqResidualSearch(idx, "vec_id", probes, "query_id", "qv",
        k = 3, nProbe = 1)
    }),

    // Greedy k-center coreset: 4 maximally-spread embedding exemplars,
    // selection fully in-plan (1-row argmax subplans broadcast into the
    // running min-distance), the oracle unrolls round for round.
    "q_sample_kcenter" -> ((s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))
      graft.operators.Centroids.kCenterGreedy(e, "vec_id", "v", k = 4)
        .orderBy("center_order")
    }),

    // T5 span corruption (content-deterministic): 3-token blocks masked
    // at density 0.2, adjacent dropped blocks fuse into one sentinel
    // span; input/target pair + mask stats per document.
    "q_augment_span" -> ((s, d) =>
      graft.operators.Augment.spanCorrupt(docs(s, d), "doc_id", "text",
        noiseDensity = 0.2, spanLen = 3).orderBy("id")),

    // Word error rate over char tokens (ASCII-sanitized 80-char
    // prefixes; odd docs get vowels stripped + a trailing X as the
    // "hypothesis error"): char tokens make word-level Levenshtein
    // coincide with DuckDB's native byte-level levenshtein — a full
    // cross-engine check of the rolling-DP expression on real text.
    // Word-granularity semantics are pinned by EvalSpec's hand DPs.
    "q_eval_wer" -> ((s, d) => {
      val p = werPairs(s, d)
      graft.operators.Eval.tokenErrorRate(
        p.select(col("id"), werChars(col("hs")).as("ht"),
          werChars(col("rs")).as("rt")),
        "id", "ht", "rt").orderBy("id")
    }),

    // Pooled corpus WER over the same pairs (Σedits / Σ|ref|).
    "q_eval_wer_corpus" -> ((s, d) => {
      val p = werPairs(s, d)
      graft.operators.Eval.poolErrorRate(
        graft.operators.Eval.tokenErrorRate(
          p.select(col("id"), werChars(col("hs")).as("ht"),
            werChars(col("rs")).as("rt")),
          "id", "ht", "rt"))
    }),

    // Corpus chrF2 over the mixed pairs: character 1..6-gram F-score
    // with β = 2 — the tokenization-robust MT metric; the self half
    // keeps every order massed, the next-doc half pulls P/R below 1.
    "q_eval_chrf" -> ((s, d) =>
      graft.operators.Eval.corpusChrF(evalPairs(s, d),
        "id", "pred", "gold", maxN = 6, beta = 2.0)),

    // ROUGE-2 per pair (recall-oriented bigram overlap): self pairs pin
    // the 1.0 diagonal, next-doc pairs the sparse-overlap regime.
    "q_eval_rouge2" -> ((s, d) =>
      graft.operators.Eval.rougeN(evalPairs(s, d),
        "id", "pred", "gold", n = 2).orderBy("id")),

    // ROUGE-L over the mixed eval pairs — real LCS through the native
    // rolling-DP expression. Rows-only (LCS isn't SQL-expressible); the
    // oracle-green surface is the _twin below.
    "q_eval_rouge_l" -> ((s, d) =>
      graft.operators.Eval.rougeL(evalPairs(s, d), "id", "pred", "gold")
        .orderBy("id")),

    // Closed-form ROUGE-L twin: even docs score against themselves
    // (LCS = n); odd docs' prediction is the even-position subsequence
    // plus a vocabulary-absent tail token, so LCS = ⌈n/2⌉ EXACTLY (a
    // subsequence match can't be longer, and 'zzzz' appears in no
    // document — asserted over all SFs). Pins the DP end-to-end against
    // an arithmetic oracle.
    "q_eval_rouge_l_twin" -> ((s, d) => {
      val toksC = filter(split(trim(col("text")), "\\s+"), x => x =!= "")
      val sub = filter(toksC, (_, i) => i % 2 === 0)
      val pred = when(col("doc_id") % 2 === 0, col("text"))
        .otherwise(concat_ws(" ", concat(sub, array(lit("zzzz")))))
      val pairs = docs(s, d).select(col("doc_id").as("id"),
        pred.as("pred"), col("text").as("gold"))
      graft.operators.Eval.rougeL(pairs, "id", "pred", "gold").orderBy("id")
    }),

    // Inter-rater agreement: Cohen's κ between two heuristic keep/drop
    // quality raters (char-length vs token-count threshold) — the "do my
    // filters even agree beyond chance?" audit run before trusting
    // either to cut a corpus.
    "q_rater_kappa" -> ((s, d) =>
      graft.operators.Eval.cohenKappa(
        docs(s, d).select(
          when(col("n_chars") >= 400, lit("keep")).otherwise(lit("drop"))
            .as("rater_len"),
          when(TF.tokenCount(col("text")) >= 60, lit("keep")).otherwise(lit("drop"))
            .as("rater_tok")),
        "rater_len", "rater_tok")),

    // Krippendorff's α with MISSING ratings: the same 3-heuristic panel,
    // but the line rater abstains on every third document — variable
    // raters per item, which Fleiss cannot express.
    "q_rater_alpha" -> ((s, d) =>
      graft.operators.Eval.krippendorffAlpha(
        docs(s, d).select(col("doc_id"),
            when(col("n_chars") >= 400, lit("keep")).otherwise(lit("drop"))
              .as("r_len"),
            when(TF.tokenCount(col("text")) >= 60, lit("keep"))
              .otherwise(lit("drop")).as("r_tok"),
            when(col("doc_id") % 3 === 0, lit(null).cast("string"))
              .otherwise(when(size(split(col("text"), "\n", -1)) >= 5,
                lit("keep")).otherwise(lit("drop"))).as("r_lines"))
          .selectExpr("doc_id",
            "stack(3, r_len, r_tok, r_lines) AS label"),
        "doc_id", "label")),

    // Three-rater panel agreement (Fleiss' κ): char-length, token-count,
    // and line-count keep/drop heuristics rated per document, unpivoted
    // to long form.
    "q_rater_fleiss" -> ((s, d) =>
      graft.operators.Eval.fleissKappa(
        docs(s, d).select(col("doc_id"),
            when(col("n_chars") >= 400, lit("keep")).otherwise(lit("drop"))
              .as("r_len"),
            when(TF.tokenCount(col("text")) >= 60, lit("keep"))
              .otherwise(lit("drop")).as("r_tok"),
            when(size(split(col("text"), "\n", -1)) >= 5, lit("keep"))
              .otherwise(lit("drop")).as("r_lines"))
          .selectExpr("doc_id",
            "stack(3, r_len, r_tok, r_lines) AS label"),
        "doc_id", "label", nRaters = 3)),

    // Unigram LM self-scoring: every document's mean token NLL under the
    // corpus's own add-0.5 unigram model (CCNet perplexity bucketing).
    "q_lm_score" -> ((s, d) =>
      graft.operators.LmScore.unigramNll(docs(s, d), "text",
          docs(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // DSIR importance weights: target = the English slice, raw = the
    // whole corpus — positive weight ⇒ doc looks more like the target
    // distribution than the raw one under hashed unigram+bigram feats.
    "q_dsir_weights" -> ((s, d) => {
      val ds = docs(s, d)
      graft.operators.Dsir.importanceWeights(
          ds, ds.filter(col("lang") === "en"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // CCNet perplexity tiers: per-language ntile cut over the unigram
    // LM score — bucket 1 = head (most in-distribution).
    "q_lm_buckets" -> ((s, d) =>
      graft.operators.LmScore.perplexityBuckets(docs(s, d), "text",
          docs(s, d), "doc_id", "text", "lang")
        .orderBy("doc_id")),

    // Kneser-Ney bigram scoring (the KenLM model family at order 2),
    // trained on and scoring the corpus itself — no OOV path taken.
    "q_lm_kn" -> ((s, d) =>
      graft.operators.LmScore.knBigramNll(docs(s, d), "text",
          docs(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // Deterministic word dropout (md5 seed:id:pos per token) — the
    // denoising augmentation at token granularity.
    "q_augment_dropout" -> ((s, d) =>
      graft.operators.Augment.wordDropout(docs(s, d), "doc_id", "text",
          rate = 0.1)
        .orderBy("id")),

    // BERT-style token masking over the same hash decisions.
    "q_augment_mask" -> ((s, d) =>
      graft.operators.Augment.tokenMask(docs(s, d), "doc_id", "text",
          rate = 0.15)
        .orderBy("id")),

    // Moore-Lewis cross-entropy difference: target = the English
    // slice, general = the whole corpus — ascending ce_diff is the
    // in-domain selection order (ACL 2010).
    "q_lm_moore_lewis" -> ((s, d) => {
      val ds = docs(s, d)
      graft.operators.LmScore.mooreLewis(
          ds.filter(col("lang") === "en"), ds, "text",
          ds, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Kneser-Ney trigram (one order up — continuation counts from the
    // trigram type table, Chen-Goodman recursion, same determinism
    // policy); trained on and scoring the corpus itself.
    "q_lm_kn3" -> ((s, d) =>
      graft.operators.LmScore.knTrigramNll(docs(s, d), "text",
          docs(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // DSIR selection step: Gumbel top-50 over the importance weights —
    // the deterministic exp(weight)-proportional sample.
    "q_dsir_sample" -> ((s, d) => {
      val ds = docs(s, d)
      graft.operators.Dsir.gumbelTopK(
        graft.operators.Dsir.importanceWeights(
          ds, ds.filter(col("lang") === "en"), "doc_id", "text"),
        "doc_id", "dsir_weight", k = 50)
    }),

    // Streaming half of DSIR: the ≤4096-row weight table from a batch
    // run ships as a literal map (bounded driver collect — the same
    // inline-list trade as q_lines_inline) and docs score in a pure,
    // stream-legal projection.
    "q_dsir_stream_score" -> ((s, d) => {
      val ds = docs(s, d)
      val w = graft.operators.Dsir.bucketWeights(
          ds, ds.filter(col("lang") === "en"), "text")
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      graft.operators.Dsir.scoreWithWeights(ds, "doc_id", "text", w)
        .orderBy("doc_id")
    }),

    // Tokenizer fertility: BPE-ish tokens per word and chars per token,
    // by language — the multilingual tokenizer-equity table.
    "q_vocab_fertility" -> ((s, d) =>
      graft.operators.Vocab.tokenizerFertility(docs(s, d), "lang", "text")
        .orderBy("lang")),

    // PMI collocations: set phrases that co-occur far above chance.
    "q_pmi_collocations" -> ((s, d) =>
      graft.operators.NgramStats.pmiCollocations(docs(s, d), "text",
        minCount = 5, k = 50)),

    // Join-free inline line blocklist (the streaming-safe variant of
    // q_lines_dedup, known hot set shipped as a literal).
    // Within-doc duplicate-line removal: docs synthesized with the
    // boilerplate line AND their own opening line repeated — both
    // vanish, first occurrences and order preserved.
    "q_lines_dedup_within" -> ((s, d) =>
      graft.operators.Lines.dedupLinesWithinDoc(
          selfRepeatDocs(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    "q_lines_inline" -> ((s, d) =>
      graft.operators.Lines.removeLinesInline(multiLineDocs(s, d), "text",
          Seq("PLEASE SUBSCRIBE TO OUR NEWSLETTER", "FROM src0"))
        .select("doc_id", "text").orderBy("doc_id")),

    // Ordered funnel conversion over the event log.
    "q_funnel" -> ((s, d) =>
      graft.operators.Funnel.conversion(executor(s, d).table("events"),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        .orderBy("step")),

    // First-order Markov transition matrix over per-user event streams
    // (event_id breaks same-timestamp ties, so the lag pairing is
    // engine-exact): |types|^2 cells with row-normalized probabilities.
    "q_event_transitions" -> ((s, d) =>
      graft.operators.Funnel.transitions(executor(s, d).table("events"),
          "user_id", "ts", "event_type", "event_id")
        .orderBy("from_event", "to_event")),

    // C4-style content filter: survivors after dropping docs containing
    // any listed word (whole-token match, pure filter).
    "q_filter_content" -> ((s, d) =>
      graft.operators.QualityFilter.dropListedWords(
          docs(s, d), "text", Seq("spark", "vector"))
        .select("doc_id")
        .orderBy("doc_id")),

    // Composed funnel → exact latency quantiles: full-funnel completion
    // durations (µs, exact integers) through Profile.quantiles.
    "q_funnel_latency" -> ((s, d) =>
      graft.operators.Profile.quantiles(
        graft.operators.Funnel.completions(executor(s, d).table("events"),
            "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
          .select(lit("all").as("g"),
            (epochMicros(col("t_3")) - epochMicros(col("t_1"))).as("dur_us")),
        "g", "dur_us", Seq(0.5, 0.9, 0.99))
        .orderBy("p")),

    // Same funnel bounded to a day from first view — the windowed form
    // conversion is usually reported in (150 → 60 → 14 at sf0.01).
    "q_funnel_window" -> ((s, d) =>
      graft.operators.Funnel.conversion(executor(s, d).table("events"),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
          windowSeconds = Some(86400L))
        .orderBy("step")),

    // Weekly cohort retention triangle over the event log.
    "q_cohort_retention" -> ((s, d) =>
      graft.operators.Cohort.retention(executor(s, d).table("events"),
          "user_id", "ts")
        .orderBy("cohort", "period_offset")),

    // The rate-normalized triangle (offset 0 ≡ 1.0).
    "q_cohort_rate" -> ((s, d) =>
      graft.operators.Cohort.retentionRate(executor(s, d).table("events"),
          "user_id", "ts")
        .orderBy("cohort", "period_offset")),

    // Kaplan–Meier time-to-first-purchase: subjects are users (duration
    // = whole days from first event to first purchase, censored at the
    // last observed event otherwise), grouped by user-id parity.
    "q_survival_km" -> ((s, d) =>
      graft.operators.Survival.kaplanMeier(
          survivalSubjects(executor(s, d).table("events")),
          "grp0", "dur", "ev")
        .withColumnRenamed("group", "grp")
        .orderBy("grp", "t")),

    // Mantel–Cox log-rank comparing the two parity cohorts' curves.
    "q_survival_logrank" -> ((s, d) =>
      graft.operators.Survival.logRank(
        survivalSubjects(executor(s, d).table("events")),
        "grp0", "dur", "ev", "even", "odd")),

    // Wide-range log-rank: durations in fractional SECONDS (µs/10⁶)
    // instead of whole days — nearly every subject a distinct 6-dp
    // event time over a corpus-growing range, the exact shape the r9
    // verdict flagged; pins the CumWalk risk-set walk.
    "q_survival_logrank_wide" -> ((s, d) =>
      graft.operators.Survival.logRank(
        survivalSubjectsSeconds(executor(s, d).table("events")),
        "grp0", "dur", "ev", "even", "odd")),

    // Nelson–Aalen cumulative hazard + Fleming–Harrington survival on
    // the same subject grid.
    "q_survival_hazard" -> ((s, d) =>
      graft.operators.Survival.nelsonAalen(
          survivalSubjects(executor(s, d).table("events")),
          "grp0", "dur", "ev")
        .withColumnRenamed("group", "grp")
        .orderBy("grp", "t")),

    // Multi-touch attribution over the event log: touches are a user's
    // non-purchase events strictly before their first purchase; each
    // converting journey distributes one credit unit across channels.
    "q_attribution_first" -> ((s, d) =>
      attributionGate(executor(s, d).table("events"), "first")),
    "q_attribution_linear" -> ((s, d) =>
      attributionGate(executor(s, d).table("events"), "linear")),
    "q_attribution_position" -> ((s, d) =>
      attributionGate(executor(s, d).table("events"), "position")),
    "q_attribution_decay" -> ((s, d) =>
      attributionGate(executor(s, d).table("events"), "decay")),

    // Data-driven (Markov removal-effect) attribution over the same
    // journeys — 12 in-plan fixed-point rounds on the transition matrix.
    "q_attribution_markov" -> ((s, d) =>
      graft.operators.Attribution.markovRemoval(
          executor(s, d).table("events").select(
            col("user_id"), epochMicros(col("ts")).as("t_us"),
            col("event_id"), col("event_type").as("channel"),
            (col("event_type") === "purchase").as("is_conv")),
          "user_id", "t_us", "event_id", "channel", "is_conv",
          iterations = 12)
        .orderBy("channel")),

    // Market-basket association rules: baskets are users, items the
    // props.k tag; A-Priori double support floor at 25% of baskets.
    "q_basket_rules" -> ((s, d) =>
      basketGate(executor(s, d).table("events"), cap = None)),

    // Same with the basket-size skew guard engaged (oversized baskets
    // dropped BEFORE the quadratic pair join).
    "q_basket_rules_capped" -> ((s, d) =>
      basketGate(executor(s, d).table("events"), cap = Some(45L))),

    // Item-item co-occurrence recommender: order baskets, 50 part
    // buckets as items, pair floor 5, basket cap 10, top-5 cosine
    // neighbors per item.
    "q_item_similarity" -> ((s, d) =>
      graft.operators.Basket.itemSimilarity(
          executor(s, d).table("lineitem")
            .select(col("l_orderkey").as("basket"),
              (col("l_partkey") % 50).as("item")),
          "basket", "item", minPairCount = 5,
          maxBasketSize = Some(10L), topK = Some(5))
        .orderBy("item", "neighbor")),

    // Daily event-count grid, interior gaps zero-filled.
    "q_ts_daily" -> ((s, d) =>
      graft.operators.Timeseries.dailyCounts(
          executor(s, d).table("events"), "ts")
        .orderBy("day")),

    // STL-lite decomposition + weekday-aware volume anomaly flags.
    "q_ts_anomaly" -> ((s, d) =>
      graft.operators.Timeseries.weekdayAnomaly(
          executor(s, d).table("events"), "ts")
        .orderBy("day")),

    // Autocorrelation of daily volume at lags 1..14 (the weekly cycle
    // shows at lag 7).
    "q_ts_acf" -> ((s, d) =>
      graft.operators.Timeseries.acf(
          executor(s, d).table("events"), "ts", maxLag = 14)
        .orderBy("lag")),

    // CUSUM curve + the single most-likely level-change day.
    "q_ts_cusum" -> ((s, d) =>
      graft.operators.Timeseries.cusum(
          executor(s, d).table("events"), "ts")
        .orderBy("day")),
    "q_ts_changepoint" -> ((s, d) =>
      graft.operators.Timeseries.changepoint(
          executor(s, d).table("events"), "ts")),

    // EWMA smoothing via the closed form (grid×grid, calendar-bounded).
    "q_ts_ewma" -> ((s, d) =>
      graft.operators.Timeseries.ewma(
          executor(s, d).table("events"), "ts", alpha = 0.3)
        .orderBy("day")),

    // Seasonal-naive (same-day-last-week) forecast backtest.
    "q_ts_backtest" -> ((s, d) =>
      graft.operators.Timeseries.seasonalNaiveBacktest(
          executor(s, d).table("events"), "ts", season = 7)),

    // Median/MAD robust daily anomalies (Iglewicz–Hoaglin 3.5 fence).
    "q_ts_robust" -> ((s, d) =>
      graft.operators.Timeseries.robustAnomaly(
          executor(s, d).table("events"), "ts")
        .orderBy("day")),

    // Top first-5-event user paths ranked by frequency.
    "q_path_top" -> ((s, d) =>
      graft.operators.Funnel.topPaths(executor(s, d).table("events"),
          "user_id", "ts", "event_id", "event_type",
          maxSteps = 5, k = 20)
        .orderBy("rank")),

    // Daily DAU/WAU/MAU + stickiness over the calendar grid.
    "q_engagement" -> ((s, d) =>
      graft.operators.Cohort.engagement(
          executor(s, d).table("events"), "user_id", "ts")
        .orderBy("day")),

    // Weekly active/new/retained/churned split (open last period).
    "q_churn" -> ((s, d) =>
      graft.operators.Cohort.churn(
          executor(s, d).table("events"), "user_id", "ts", periodDays = 7)
        .orderBy("period")),

    // Week-over-week movers per event type; gaps give NULL growth.
    "q_ts_growth" -> ((s, d) =>
      graft.operators.Timeseries.periodGrowth(
          executor(s, d).table("events"), "ts", "event_type",
          periodDays = 7)
        .orderBy("key", "period")),

    // Encoding-damage audit over deterministically corrupted docs
    // (every 7th doc gets a mojibake tail): flags exactly those.
    "q_clean_mojibake" -> ((s, d) =>
      graft.operators.Clean.mojibakeAudit(
          docs(s, d).withColumn("text",
            when(col("doc_id") % 7 === 0,
              concat(col("text"), lit(" cafÃ© â€” lossy �")))
              .otherwise(col("text"))),
          "doc_id", "text")
        .orderBy("doc_id")),

    // Per-day PSI of the event-type mix vs the first-week baseline —
    // the drift monitoring timeline.
    "q_drift_timeline" -> ((s, d) =>
      graft.operators.Drift.psiTimeline(
          executor(s, d).table("events"), "ts", "event_type",
          baselineDays = 7)
        .orderBy("day")),

    // Trending event types: 7-day half-life decayed counts.
    "q_ts_trending" -> ((s, d) =>
      graft.operators.Timeseries.decayedCounts(
          executor(s, d).table("events"), "ts", "event_type",
          halfLifeDays = 7)
        .orderBy("key")),

    // Daily growth accounting: new/retained/resurrected partition of
    // actives plus the next-day churn flow.
    "q_growth_accounting" -> ((s, d) =>
      graft.operators.Cohort.growthAccounting(
          executor(s, d).table("events"), "user_id", "ts")
        .orderBy("day")),

    // Per-user-day growth flags — growthAccounting BEFORE the rollup,
    // shared fold with the streaming variant (cross-checked in
    // StreamingGrowthCrossCheckSpec); churn rows dated day+1 incl. each
    // user's trailing exit.
    "q_growth_flags" -> ((s, d) =>
      graft.operators.Cohort.growthFlags(
          executor(s, d).table("events"), "user_id", "ts")
        .orderBy("user", "day", "status")),

    // DoReMi multiplicative mixture update over per-language domains:
    // proxy/ref losses derived from mean text length (fixed-order
    // division chains), baseline = corpus share; eta 0.5, smoothing 0.2.
    "q_mix_doremi" -> ((s, d) => {
      val stats = docs(s, d).groupBy(col("lang").as("domain"))
        .agg(count(lit(1)).as("__n"),
          sum(length(col("text")).cast("long")).as("__L"))
      val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val domains = stats
        .withColumn("__tot", sum(col("__n")).over(all).cast("double"))
        .select(
        col("domain"),
        round(col("__L").cast("double") / col("__n") / lit(100.0), 9)
          .as("proxy_loss"),
        round(col("__L").cast("double") / col("__n") / lit(120.0), 9)
          .as("ref_loss"),
        round(col("__n").cast("double") / col("__tot"), 9).as("baseline"))
      graft.operators.Mix.doremiWeights(domains, "domain", "proxy_loss",
          "ref_loss", "baseline", eta = 0.5, smoothing = 0.2)
        .orderBy("domain")
    }),

    // Windowed PSI drift monitor: odd users' event-type mix per
    // epoch-aligned 7-day tumble vs the even users' static reference
    // distribution — the production drift-gate shape; stream twin
    // cross-checked in StreamingPsiCrossCheckSpec.
    "q_drift_windowed" -> ((s, d) => {
      val e = executor(s, d).table("events")
      graft.operators.Drift.psiWindowed(
        e.where(col("user_id") % 2 === 1), "ts", "event_type",
        e.where(col("user_id") % 2 === 0), windowDays = 7)
        .orderBy("window_start")
    }),

    // Trailing-7-day Pearson correlation of two daily signals (event
    // value vs a pseudo-independent event_id%97 series) on the calendar
    // grid; unobserved days break the window rather than zero-fill.
    "q_ts_rollcorr" -> ((s, d) =>
      graft.operators.Timeseries.rollingCorrelation(
          executor(s, d).table("events")
            .withColumn("y", (col("event_id") % 97).cast("double")),
          "ts", "value", "y", window = 7)
        .orderBy("day")),

    // The stream-legal shape of the same computation: end-day-keyed
    // cell replication instead of an ordered grid window (no window
    // function at all — end-days reduce independently). Digits match
    // q_ts_rollcorr on observed days; the true MemoryStream twin is
    // cross-checked row-for-row in StreamingRollCorrCrossCheckSpec.
    "q_ts_rollcorr_stream" -> ((s, d) =>
      graft.operators.Timeseries.rollingCorrelationEndKeyed(
          executor(s, d).table("events")
            .withColumn("y", (col("event_id") % 97).cast("double")),
          "ts", "value", "y", window = 7)
        .orderBy("day")),

    // Split-conformal calibration: even doc_ids calibrate, odd test;
    // the (n+1)(1-alpha) order statistic walks the score-cell table.
    "q_eval_conformal" -> ((s, d) => {
      val sc = docs(s, d).select(col("doc_id"),
        round((col("doc_id") * 37 % 101).cast("double") / lit(100.0) +
          when(col("lang") === "en", lit(0.15)).otherwise(lit(0.0)), 6)
          .as("score"))
      graft.operators.Eval.conformal(
        sc.where(col("doc_id") % 2 === 0),
        sc.where(col("doc_id") % 2 === 1), "score", alpha = 0.1)
    }),

    // The stream-static shape of the same calibration: threshold
    // collected once from the static calibration head, the test side a
    // single running aggregate (here folded over the batch test frame —
    // the identical plan a Complete-mode sink runs continuously). The
    // true MemoryStream twin is cross-checked in
    // StreamingConformalCrossCheckSpec.
    "q_eval_conformal_stream" -> ((s, d) => {
      val sc = docs(s, d).select(col("doc_id"),
        round((col("doc_id") * 37 % 101).cast("double") / lit(100.0) +
          when(col("lang") === "en", lit(0.15)).otherwise(lit(0.0)), 6)
          .as("score"))
      graft.operators.Eval.conformalStream(
        sc.where(col("doc_id") % 2 === 0),
        sc.where(col("doc_id") % 2 === 1), "score", alpha = 0.1)
    }),

    // Seeded Laplace-noised per-type counts (ε = 1): the reproducible
    // DP-release mechanism; the inverse-CDF replays exactly via the
    // conv(md5)/strpos nibble arithmetic both engines share.
    "q_pii_dp" -> ((s, d) =>
      graft.operators.Pii.noisyCounts(
          executor(s, d).table("events"), "event_type", epsilon = 1.0)
        .orderBy("key")),

    // LOCF daily resample: per event type, the latest value each day
    // forward-filled onto a dense grid from the type's first day to the
    // corpus's last.
    "q_ts_locf" -> ((s, d) =>
      graft.operators.Timeseries.locf(
          executor(s, d).table("events"), "ts", "event_type", "value")
        .orderBy("key", "day")),

    // ABC / Pareto classification of parts by revenue mass.
    "q_abc" -> ((s, d) =>
      graft.operators.Olap.abcClassification(
          executor(s, d).table("lineitem"), "l_partkey", "l_extendedprice")
        .orderBy("cum_share", "key")),

    // Brown's double exponential smoothing: trend-aware daily forecast.
    "q_ts_holt" -> ((s, d) =>
      graft.operators.Timeseries.holt(
          executor(s, d).table("events"), "ts", alpha = 0.3)
        .orderBy("day")),

    // Mann–Kendall trend verdict + Sen's slope (one row).
    "q_ts_trend" -> ((s, d) =>
      graft.operators.Timeseries.trendTest(
          executor(s, d).table("events"), "ts")),

    // MASE: seasonal-naive MAE scaled by naive-1 MAE (one row).
    "q_ts_mase" -> ((s, d) =>
      graft.operators.Timeseries.maseBacktest(
          executor(s, d).table("events"), "ts", season = 7)),

    // Personalized PageRank from the 1%-custkey seed set over the
    // customer–supplier co-order graph.
    "q_graph_ppr" -> ((s, d) => {
      val ex = executor(s, d)
      val pairs = ex.table("lineitem").join(ex.table("orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c:"), col("o_custkey")).as("c"),
          concat(lit("s:"), col("l_suppkey")).as("p"))
      val edges = pairs.select(col("c").as("src"), col("p").as("dst"))
        .unionByName(pairs.select(col("p").as("src"), col("c").as("dst")))
      val seeds = ex.table("customer")
        .where(col("c_custkey") % 100 === 0)
        .select(concat(lit("c:"), col("c_custkey")).as("node"))
      graft.operators.Graph.personalizedPageRank(edges, "src", "dst",
          seeds, "node", iterations = 3)
        .orderBy("node")
    }),

    // Weighted PageRank over the co-order MULTIPLICITY graph: repeat
    // business carries proportional authority.
    "q_graph_pagerank_weighted" -> ((s, d) => {
      val ex = executor(s, d)
      val pairs = ex.table("lineitem").join(ex.table("orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c:"), col("o_custkey")).as("c"),
          concat(lit("s:"), col("l_suppkey")).as("p"))
      val edges = pairs
        .select(col("c").as("src"), col("p").as("dst"), lit(1.0).as("w"))
        .unionByName(pairs.select(col("p").as("src"), col("c").as("dst"),
          lit(1.0).as("w")))
      graft.operators.Graph.pageRankWeighted(edges, "src", "dst", "w",
          iterations = 3)
        .orderBy("node")
    }),

    // Contiguous event trigrams by distinct-user support.
    "q_seq_trigram" -> ((s, d) =>
      graft.operators.Funnel.frequentSequences(
          executor(s, d).table("events"),
          "user_id", "ts", "event_id", "event_type", n = 3, k = 20)
        .orderBy("rank")),

    // RFM segmentation of order customers (empirical-CDF quintiles,
    // 5 = best) + the segment-level spend rollup.
    "q_rfm" -> ((s, d) =>
      graft.operators.Rfm.scores(executor(s, d).table("orders"),
          "o_custkey", "o_orderdate", "o_totalprice")
        .withColumnRenamed("customer", "o_custkey")
        .orderBy("o_custkey")),
    "q_rfm_segments" -> ((s, d) =>
      graft.operators.Rfm.segmentSummary(executor(s, d).table("orders"),
          "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("segment")),

    // Categorical profiling: top-k frequent values with deterministic
    // tie-breaks (all sources tie at sf0.01 — the cut is the point).
    "q_profile_top_values" -> ((s, d) =>
      graft.operators.Profile.topValues(docs(s, d), "source", k = 5)
        .orderBy("rank")),

    // Character-class (script) profiling over docs with a mixed-script
    // suffix appended (testdata is pure ASCII) — wrong-script screening.
    "q_script_profile" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          TF.scriptProfile(
            concat(coalesce(col("text"), lit("")), lit(scriptSuffix))).as("p"))
        .select(col("doc_id"), col("p.latin").as("latin"),
          col("p.digit").as("digit"), col("p.space").as("space"),
          col("p.cjk").as("cjk"), col("p.cyrillic").as("cyrillic"),
          col("p.arabic").as("arabic"), col("p.other").as("other"))
        .orderBy("doc_id")),

    // Label-centroid outlier screen: 5 most-suspect vectors per label by
    // cosine to their own label's centroid (mislabel/junk curation queue).
    "q_embed_outliers" -> ((s, d) =>
      graft.operators.Centroids.outliers(
          embeddings(s, d).select(col("vec_id"), col("label"),
            VF.asDouble(col("embedding")).as("v")),
          "vec_id", "v", "label", k = 5)
        .orderBy("label", "rank")),

    // Token-budget mixture sampling: per-source token budgets, greedy
    // md5-ordered take (src2's 1-token budget keeps exactly one doc;
    // sources without a budget drop).
    "q_sample_token_budget" -> ((s, d) =>
      graft.operators.Sample.tokenBudgetPerKey(
          docs(s, d).select(col("doc_id"), col("source"),
            TF.tokenCount(col("text")).as("n_tokens")),
          "source", "n_tokens", "doc_id",
          Map("src0" -> 2000L, "src1" -> 600L, "src2" -> 1L))
        .orderBy("doc_id")),

    // Snapshot diff: v2 drops ids %10=0, edits ids %7=0, adds 5 new ids —
    // classified per id against the original (mirrored in the oracle).
    "q_snapshot_diff" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val v2 = base.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(base.filter(col("doc_id") < 5)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.Snapshot.diff(base, v2, "doc_id", "text")
        .orderBy("id")
    }),

    // CDC round-trip: diff base→v2, turn the classification into an
    // upsert/delete change batch, apply it back to base — the result
    // must BE v2 (the oracle reconstructs v2 directly). Proves
    // diff + applyChanges compose into exact incremental maintenance.
    "q_snapshot_apply" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val v2 = base.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(base.filter(col("doc_id") < 5)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val classified = graft.operators.Snapshot.diff(base, v2, "doc_id", "text")
      val changes = classified.filter(col("status") =!= "unchanged").as("c")
        .join(v2.as("v"), col("c.id") === col("v.doc_id"), "left")
        .select(col("c.id").as("doc_id"), col("v.text").as("text"),
          when(col("c.status") === "removed", "delete")
            .otherwise("upsert").as("op"))
      graft.operators.Snapshot.applyChanges(base, changes, "doc_id", "op")
        .orderBy("doc_id")
    }),

    // Incremental aggregate maintenance: three date-batches of orders
    // fold into one state via a MERGE TREE ((b1+b2)+b3) — the finished
    // metrics must equal a direct aggregation over all orders (the
    // oracle), proving the partial-state monoid is exact and
    // arrival-order-free. At 100 TB the merge shuffles state rows
    // (≤ keys per batch), never base data.
    "q_incr_agg" -> ((s, d) => {
      val A = graft.operators.IncrementalAgg
      val or = executor(s, d).table("orders")
      val keys = Seq("o_orderpriority")
      val cut1 = to_timestamp(lit("1996-01-01"))
      val cut2 = to_timestamp(lit("1997-01-01"))
      val s1 = A.state(or.filter(col("o_orderdate") < cut1), keys, "o_totalprice")
      val s2 = A.state(or.filter(col("o_orderdate") >= cut1 &&
        col("o_orderdate") < cut2), keys, "o_totalprice")
      val s3 = A.state(or.filter(col("o_orderdate") >= cut2), keys, "o_totalprice")
      A.finish(A.merge(keys, A.merge(keys, s1, s2), s3), keys)
        .orderBy("o_orderpriority")
    }),

    // Retraction: fold a delete-batch (every 10th order) out of the full
    // state via negated accumulators — must equal aggregating the
    // surviving rows directly. Only the invertible metrics (n, total)
    // survive retraction; min/max are dropped by design (IncrementalAgg
    // scaladoc).
    "q_incr_retract" -> ((s, d) => {
      val A = graft.operators.IncrementalAgg
      val or = executor(s, d).table("orders")
      val keys = Seq("o_orderpriority")
      val base = A.state(or, keys, "o_totalprice")
      A.retract(base, or.filter(col("o_orderkey") % 10 === 0), keys, "o_totalprice")
        .select(col("o_orderpriority"), col("n"),
          col("sum_dec").cast("double").as("total"))
        .orderBy("o_orderpriority")
    }),

    // Link-graph authority: PageRank over the customer↔supplier
    // transaction graph (both directions, so every node both emits and
    // receives mass), 3 iterations — the domain-authority curation
    // signal. The oracle unrolls the same iterations in SQL; the 9-dp
    // round + decimal contribution sum makes each iteration
    // order-independent, so the iterative Spark plan and the set-based
    // CTE chain agree bit-for-bit.
    "q_graph_pagerank" -> ((s, d) => {
      val ex = executor(s, d)
      val pairs = ex.table("lineitem").join(ex.table("orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c:"), col("o_custkey")).as("c"),
          concat(lit("s:"), col("l_suppkey")).as("p"))
      val edges = pairs.select(col("c").as("src"), col("p").as("dst"))
        .unionByName(pairs.select(col("p").as("src"), col("c").as("dst")))
      graft.operators.Graph.pageRank(edges, "src", "dst", iterations = 3)
        .orderBy("node")
    }),

    // Label propagation: audited keep/drop seeds (even-quintet hubs)
    // spread over a quintet-star + hub-chain graph in 2 synchronous
    // rounds — leaves of seeded hubs label in round 1, odd hubs vote
    // from their two seed neighbors (ties → smallest label), their
    // leaves follow in round 2. Integer majority votes, so the 2-round
    // unrolling is oracle-exact.
    "q_graph_labelprop" -> ((s, d) => {
      val ids = docs(s, d).select(col("doc_id"), col("n_chars"))
      val leaves = ids.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("src"),
          (col("doc_id") - (col("doc_id") % 5)).as("dst"))
      val hubIds = ids.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("hid"))
      val chain = ids.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("src"), (col("doc_id") + 5).as("dst"))
        .join(hubIds, col("dst") === col("hid"))
        .select(col("src"), col("dst"))
      val seeds = ids.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("node"),
          when(col("n_chars") >= 300, lit("keep")).otherwise(lit("drop"))
            .as("label"))
      graft.operators.Graph.labelPropagation(
          leaves.unionByName(chain), "src", "dst",
          seeds, "node", "label", iterations = 2)
        .orderBy("node")
    }),

    // LPA communities (unseeded): every node its own community, 2
    // synchronous majority rounds over the quintet graph — the
    // hub-resistant clustering that components' any-path merging lacks.
    "q_graph_communities" -> ((s, d) => {
      val ids = docs(s, d).select(col("doc_id"))
      val leaves = ids.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("src"),
          (col("doc_id") - (col("doc_id") % 5)).as("dst"))
      val hubIds = ids.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("hid"))
      val chain = ids.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("src"), (col("doc_id") + 5).as("dst"))
        .join(hubIds, col("dst") === col("hid"))
        .select(col("src"), col("dst"))
      graft.operators.Graph.communities(
          leaves.unionByName(chain), "src", "dst", iterations = 2)
        .orderBy("node")
    }),

    // Modularity of the LPA assignment on the same quintet graph — the
    // "is this clustering better than chance?" audit, exact integer
    // edge counts with decimal-summed per-community terms.
    "q_graph_modularity" -> ((s, d) => {
      val ids = docs(s, d).select(col("doc_id"))
      val leaves = ids.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("src"),
          (col("doc_id") - (col("doc_id") % 5)).as("dst"))
      val hubIds = ids.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("hid"))
      val chain = ids.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("src"), (col("doc_id") + 5).as("dst"))
        .join(hubIds, col("dst") === col("hid"))
        .select(col("src"), col("dst"))
      val edges = leaves.unionByName(chain)
      val assign = graft.operators.Graph.communities(
        edges, "src", "dst", iterations = 2)
      graft.operators.Graph.modularity(edges, "src", "dst",
        assign, "node", "community")
    }),

    // Degree-oriented triangle census over a chain + skip + decade-hub
    // graph (consecutive-id triangles plus hub-closed wedges): per-node
    // triangle counts and local clustering — the link-ring/spam audit.
    // Exact integer counts; the oracle runs the same oriented join.
    "q_graph_triangles" -> ((s, d) => {
      val ids = docs(s, d).select(col("doc_id"))
      val fwd = ids.select(col("doc_id").as("src"),
          (col("doc_id") + 1).as("dst"))
        .unionByName(ids.select(col("doc_id").as("src"),
          (col("doc_id") + 2).as("dst")))
        .unionByName(ids.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id").as("src"),
            (col("doc_id") - (col("doc_id") % 10)).as("dst")))
      graft.operators.Graph.triangles(fwd, "src", "dst").orderBy("node")
    }),

    // Link prediction on the same graph: non-adjacent distance-2 pairs
    // with common-neighbor / jaccard / adamic-adar scores; center cap 8
    // exercises the hub skew guard (decade hubs are excluded as wedge
    // centers but keep their exact degrees in jaccard).
    "q_graph_linkpred" -> ((s, d) => {
      val ids = docs(s, d).select(col("doc_id"))
      val fwd = ids.select(col("doc_id").as("src"),
          (col("doc_id") + 1).as("dst"))
        .unionByName(ids.select(col("doc_id").as("src"),
          (col("doc_id") + 2).as("dst")))
        .unionByName(ids.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id").as("src"),
            (col("doc_id") - (col("doc_id") % 10)).as("dst")))
      graft.operators.Graph.linkPrediction(fwd, "src", "dst",
          maxCenterDegree = Some(8))
        .orderBy("node_a", "node_b")
    }),

    // BFS hop distance (3 synchronous relaxations) from the
    // century-doc seed set: everything within 3 hops, exact integers.
    "q_graph_bfs" -> ((s, d) => {
      val ids = docs(s, d).select(col("doc_id"))
      val fwd = ids.select(col("doc_id").as("src"),
          (col("doc_id") + 1).as("dst"))
        .unionByName(ids.select(col("doc_id").as("src"),
          (col("doc_id") + 2).as("dst")))
        .unionByName(ids.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id").as("src"),
            (col("doc_id") - (col("doc_id") % 10)).as("dst")))
      val seeds = ids.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("node"))
      graft.operators.Graph.bfsDistance(fwd, "src", "dst",
          seeds, "node", rounds = 3)
        .orderBy("node")
    }),

    // Degree assortativity of the same graph — one-row structural
    // fingerprint (hub-leaf wiring is disassortative).
    "q_graph_assortativity" -> ((s, d) => {
      val ids = docs(s, d).select(col("doc_id"))
      val fwd = ids.select(col("doc_id").as("src"),
          (col("doc_id") + 1).as("dst"))
        .unionByName(ids.select(col("doc_id").as("src"),
          (col("doc_id") + 2).as("dst")))
        .unionByName(ids.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id").as("src"),
            (col("doc_id") - (col("doc_id") % 10)).as("dst")))
      graft.operators.Graph.degreeAssortativity(fwd, "src", "dst")
    }),

    // k-core peeling (k=3, 4 fixed synchronous rounds) on the same
    // graph: survivors with their in-core degree plus a converged flag
    // (last round deleted nothing). Fixed rounds keep the result a pure
    // function of the data — the oracle unrolls the same 4 peels.
    "q_graph_kcore" -> ((s, d) => {
      val ids = docs(s, d).select(col("doc_id"))
      val fwd = ids.select(col("doc_id").as("src"),
          (col("doc_id") + 1).as("dst"))
        .unionByName(ids.select(col("doc_id").as("src"),
          (col("doc_id") + 2).as("dst")))
        .unionByName(ids.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id").as("src"),
            (col("doc_id") - (col("doc_id") % 10)).as("dst")))
      graft.operators.Graph.kCore(fwd, "src", "dst", k = 3, rounds = 4)
        .orderBy("node")
    }),

    // Leaderboard with 95% Wilson intervals — the arena-UI view;
    // bounds are +,x,/,sqrt only (sqrt is IEEE-exact), oracle replays
    // the identical expression tree.
    "q_pref_leaderboard_ci" -> ((s, d) =>
      graft.operators.Preference.leaderboardWilson(
          arenaComparisons(s, d), "w", "l")
        .orderBy("item")),

    // Z-order (Morton) clustering key: bit-interleave of two dims
    // masked to 8 bits — the multi-dimensional data-skipping layout
    // (LayoutSpec measures the file-pruning win; this gate pins the key
    // function itself bit-for-bit against the oracle's shift/mask SQL).
    "q_layout_zorder" -> ((s, d) => {
      val x = col("l_partkey") % 256
      val y = col("l_suppkey") % 256
      executor(s, d).table("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), x.as("x"), y.as("y"),
          graft.sources.Layout.zValue(Seq(x, y), bits = 8).as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Canonical URL normalization over four synthesized URL shapes
    // (tracking params, default ports, mixed case, fragments,
    // non-http scheme, relative pass-through).
    "q_web_canonical" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(lit("HTTP://WWW.Example.com:80/A/"), col("doc_id"),
              lit("?utm_campaign=x&page="), col("doc_id")))
            .when(col("doc_id") % 4 === 1,
              concat(lit("https://Example.com/p/"), col("doc_id"),
                lit("?a=1&fbclid="), col("doc_id"), lit("&b=2#sec")))
            .when(col("doc_id") % 4 === 2,
              concat(lit("FTP://Host.Example:21/data/"), col("doc_id")))
            .otherwise(concat(lit("relative/path/"), col("doc_id")))
            .as("url"))
        .select(col("doc_id"),
          graft.operators.Web.canonicalUrl(col("url")).as("url"))
        .orderBy("doc_id")),

    // CUSTOM stage reaching the composed SQL-registered function
    // canonical_url on the engine path (oracle: the q_web_canonical
    // DuckDB mirror — same construction, same normalization).
    "q_custom_canonical" -> ((s, d) => pipe(
      CustomStage(st(1), "canonical urls via SQL function", sqlCanonical))(s, d)),

    // Composed keep-best-per-dup-cluster: corpus ∪ SHOUTING twins cluster
    // on the case-normalized digest; the quality argmax keeps the natural-
    // cased original every time (stopword hits are case-sensitive, all
    // other quality terms are case-invariant, ties fall to the smaller
    // id) — so the oracle is closed-form: the originals + their scores.
    "q_dedup_keep_best" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("text"))
      val twins = d0.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        upper(col("text")).as("text"))
      val all = d0.unionByName(twins)
        .withColumn("__cluster", md5(lower(col("text"))))
        .withColumn("__q", TF.qualityScore(col("text")))
      graft.operators.Sample.topPerKey(all, "__cluster", "__q", k = 1, "doc_id")
        .select(col("doc_id"), col("__q").as("quality"))
        .orderBy("doc_id")
    }),

    // Sorted-neighborhood blocking (Hernández-Stolfo): parts block by
    // the 4-char name prefix, sort by full name within the block, pair
    // each record with its 2 successors — the prefix-similarity blocking
    // scheme the token-based dedup family can't express.
    "q_dedup_sortedneigh" -> ((s, d) =>
      Dedup.sortedNeighborhoodPairs(
        executor(s, d).table("part"), "p_partkey",
        keyExpr = "p_name", blockLen = 4, windowSize = 3)
        .orderBy("id_a", "id_b")),

    // Jaro-Winkler-scored linkage candidates: sorted-neighborhood
    // blocking on supplier names, each candidate pair scored by the
    // native comparator — semantics pinned to DuckDB's
    // jaro_winkler_similarity, which IS the oracle here.
    "q_linkage_jw" -> ((s, d) => {
      val sup = executor(s, d).table("supplier")
      val pairs = Dedup.sortedNeighborhoodPairs(sup, "s_suppkey",
        keyExpr = "s_name", blockLen = 9, windowSize = 3)
      val names = sup.select(col("s_suppkey"), col("s_name"))
      pairs
        .join(names.select(col("s_suppkey").as("id_a"),
          col("s_name").as("__na")), Seq("id_a"))
        .join(names.select(col("s_suppkey").as("id_b"),
          col("s_name").as("__nb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("dist"),
          round(TF.jaroWinkler(col("__na"), col("__nb")), 6).as("jw"))
        .orderBy("id_a", "id_b")
    }),

    // Fellegi-Sunter linkage scores: part self-linkage blocked on brand,
    // three field comparisons (type, name prefix, size) with fixed (m,u)
    // weights — per-pair fixed-order literal sum, so doubles are
    // engine-identical before the 6-dp round.
    "q_linkage_score" -> ((s, d) => {
      val p = spread(executor(s, d).table("part"))
      graft.operators.Linkage.linkageScores(p, p, "p_partkey", "p_partkey",
        "p_brand", "p_brand", linkageFields, selfPairs = true)
        .orderBy("id_a", "id_b")
    }),

    // Same model, links only (score >= 4.0 — two agreeing fields
    // including at least one strong one).
    "q_linkage_match" -> ((s, d) => {
      val p = spread(executor(s, d).table("part"))
      graft.operators.Linkage.linkageMatches(p, p, "p_partkey", "p_partkey",
        "p_brand", "p_brand", linkageFields, threshold = 4.0,
        selfPairs = true)
        .orderBy("id_a", "id_b")
    }),

    // Survivorship merge: collapse 100 synthetic customer clusters to
    // golden records — longest name (fixed-width names, so the rule
    // exercises its greatest-value tie-break on every cluster), modal
    // market segment, latest (by custkey) account balance. Pure
    // struct-max / windowed-mode plans; every tie-break is total.
    "q_linkage_golden" -> ((s, d) => {
      val c = executor(s, d).table("customer")
        .withColumn("cluster", col("c_custkey") % 100)
      graft.operators.Linkage.goldenRecord(c, "cluster",
          longest = Seq("c_name"),
          mostFrequent = Seq("c_mktsegment"),
          latest = Seq("c_acctbal" -> "c_custkey"))
        .orderBy("cluster")
    }),

    // Per-field empirical agreement rates over the blocked pairs — the
    // u-probability estimation surface of the linkage model.
    "q_linkage_rates" -> ((s, d) => {
      val p = spread(executor(s, d).table("part"))
      graft.operators.Linkage.fieldAgreementRates(p, p, "p_partkey",
        "p_partkey", "p_brand", "p_brand", linkageFields,
        selfPairs = true)
        .orderBy("field")
    }),

    // Block-size audit of the linkage gates' brand blocking: per block,
    // side sizes and the EXACT pair volume it will generate — the skew
    // report a practitioner reads before committing a block key. No
    // pair is formed; the corpus shuffles 8-byte counts only.
    "q_linkage_blocks" -> ((s, d) => {
      val p = executor(s, d).table("part")
      graft.operators.Linkage.blockAudit(p, p, "p_brand", "p_brand",
        selfPairs = true)
    }),

    // Stage-DAG edge derivation (ref:ui/src/StageGraphFlow.tsx:46-108,
    // 651-757) over a fixture flow exercising every ported quirk:
    // forward-LOAD resolution, join-output table registration, the
    // GROUP implicit-chain fallback, AGGREGATE's no-input switch case,
    // and LOAD breaking the implicit chain. The oracle pins the
    // hand-derived reference edge list as literals.
    "q_stage_dag" -> ((s, _) => {
      import graft.model._
      val cond = Seq(FilterCondition("a", "=", "1"))
      val agg = Seq(Aggregation("COUNT", "*", Some("n")))
      val flow = Seq(
        JoinStage("j0", "", "INNER", "orders", "extra", "k", "k"),
        LoadStage("l1", "", "customers", "customers.csv"),
        LoadStage("l2", "", "orders", "orders.csv"),
        JoinStage("j1", "", "INNER", "orders", "customers", "k", "k"),
        FilterStage("f1", "", Some("joined_orders_customers"), cond),
        GroupStage("g1", "", None, Seq("a"), agg),
        LoadStage("l3", "", "extra", "extra.csv"),
        AggregateStage("a1", "", Some("extra"), agg),
        UnionStage("u1", "", "UNION", Seq("customers", "extra")))
      val rows = graft.pipeline.StageGraph.edges(flow)
        .map(e => (e.id, e.source, e.target))
      import s.implicits._
      rows.toDF("id", "source", "target").orderBy("id")
    }),

    // Multi-pass blocking: brand#size ∪ name-prefix-12 candidate union,
    // pair-deduped before scoring — the recall repair for matches the
    // single brand key can never pair. Oracle replays the same UNION
    // (DISTINCT) of two blocked self-joins then scores each pair once.
    "q_linkage_multi" -> ((s, d) => {
      val p = spread(executor(s, d).table("part"))
      val blk1 = "concat(p_brand, '#', cast(p_size as string))"
      val blk2 = "substring(p_name, 1, 12)"
      graft.operators.Linkage.linkageScoresMulti(p, p, "p_partkey",
        "p_partkey", Seq(blk1 -> blk1, blk2 -> blk2), linkageFields,
        selfPairs = true)
        .orderBy("id_a", "id_b")
    }),

    // Per-pass audit of the multi-pass plan: (pass, block) pair volumes.
    "q_linkage_multi_blocks" -> ((s, d) => {
      val p = executor(s, d).table("part")
      val blk1 = "concat(p_brand, '#', cast(p_size as string))"
      val blk2 = "substring(p_name, 1, 12)"
      graft.operators.Linkage.blockAuditMulti(p, p,
        Seq(blk1 -> blk1, blk2 -> blk2), selfPairs = true)
    }),

    // Skew-guarded linkage: every 7th part is funneled into one "HOT"
    // block (the classic NULL-ish catch-all failure), and maxBlockSize
    // = 100 anti-joins that block out before any pair forms — at the
    // driver's sf0.01 the hot block is ~290 rows, so the cap visibly
    // bites; the under-cap brand blocks score exactly as q_linkage_score.
    "q_linkage_capped" -> ((s, d) => {
      val p = executor(s, d).table("part")
        .withColumn("blk", when(col("p_partkey") % 7 === 0, lit("HOT"))
          .otherwise(col("p_brand")))
      graft.operators.Linkage.linkageScores(p, p, "p_partkey",
        "p_partkey", "blk", "blk", linkageFields, selfPairs = true,
        maxBlockSize = Some(100L))
        .orderBy("id_a", "id_b")
    }),

    // One in-plan EM round of the Fellegi-Sunter weights from the
    // fixed (m,u) seed at lambda = 0.05: the pair stream reduces to its
    // <=2^3-row agreement-pattern histogram, the update runs on that —
    // the oracle replays the identical fold/round/clamp arithmetic.
    "q_linkage_em" -> ((s, d) => {
      val p = spread(executor(s, d).table("part"))
      graft.operators.Linkage.emEstimate(p, p, "p_partkey", "p_partkey",
        "p_brand", "p_brand", linkageFields, lambda = 0.05,
        iterations = 1, selfPairs = true)
        .orderBy("field")
    }),

    // Two EM rounds: verifies the in-plan weight-feedback loop itself
    // (round-2 posteriors computed from round-1's clamped estimates) —
    // the oracle chains the identical per-round CTE block twice.
    "q_linkage_em2" -> ((s, d) => {
      val p = spread(executor(s, d).table("part"))
      graft.operators.Linkage.emEstimate(p, p, "p_partkey", "p_partkey",
        "p_brand", "p_brand", linkageFields, lambda = 0.05,
        iterations = 2, selfPairs = true)
        .orderBy("field")
    }),

    // Pairwise Pearson correlation audit over lineitem numerics — one
    // scalar-reduce pass for all pairs' exact-decimal moments, Pearson
    // arithmetic replayed exactly (IEEE /,sqrt on exact inputs).
    "q_profile_corr" -> ((s, d) =>
      // spread: the 18-accumulator decimal moment reduce ran inside the
      // single-task 1-row-group scan (guide §2.5 unsplittable input)
      graft.operators.Profile.correlationMatrix(
          spread(executor(s, d).table("lineitem")),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("col_a", "col_b")),

    // Join-key overlap audit: orders.o_custkey vs customer.c_custkey —
    // key-set intersection, row match rates, and worst-case fanout, the
    // pre-join health check.
    "q_profile_key_overlap" -> ((s, d) =>
      graft.operators.Profile.keyOverlap(
        executor(s, d).table("orders"), executor(s, d).table("customer"),
        "o_custkey", "c_custkey")),

    // Packing-efficiency report over the q_pack construction: pack
    // fill/overflow/padding mass and utilization in one pass.
    "q_pack_stats" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Pack.packStats(
        graft.operators.Pack.packByTokenBudget(toks, "doc_id", "n_tokens",
          budget = 500L, shards = 8),
        "n_tokens", budget = 500L)
    }),

    // Corpus-level PII exposure report over the q_pii_redact injected
    // corpus: per-category document and match counts.
    "q_pii_report" -> ((s, d) => {
      val injected = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 3 =!= 0,
          concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
            lit("@example.com or 10."), (col("doc_id") % 200).cast("string"),
            lit(".0.1 ssn 123-45-6789 tel 555-123-4567")))
          .otherwise(col("text")).as("text"))
      graft.operators.Pii.detectionReport(injected, "doc_id", "text")
        .orderBy("category")
    }),

    // Shannon entropy per column over documents (categorical lang/source
    // + the long-tailed n_chars) — the information-content profile.
    "q_profile_entropy" -> ((s, d) =>
      graft.operators.Profile.columnEntropy(docs(s, d),
        Seq("lang", "source", "n_chars")).orderBy("column")),

    // Approximate functional dependencies on lineitem: orderkey ->
    // returnflag is near (same-order lines mostly share status dates);
    // partkey -> suppkey and returnflag -> linestatus are the violated /
    // independent shapes.
    "q_profile_fd" -> ((s, d) =>
      graft.operators.Profile.functionalDeps(executor(s, d).table("lineitem"),
        Seq(("l_orderkey", "l_returnflag"), ("l_partkey", "l_suppkey"),
          ("l_returnflag", "l_linestatus")))
        .orderBy("determinant", "dependent")),

    // N-gram novelty vs a reference slice (docs ≡ 0 mod 5): per-doc
    // share of 3-grams absent from the reference inventory — hashed
    // shingles on the engine side, string shingles in the oracle.
    "q_text_novelty" -> ((s, d) => {
      val all = docs(s, d)
      graft.operators.NgramStats.novelty(all,
        all.filter(col("doc_id") % 5 === 0), "doc_id", "text", "text", n = 3)
        .orderBy("doc_id")
    }),

    // Weighted sampling without replacement (A-ExpJ exponential clocks,
    // Knuth-hash u): 200 docs by n_chars mass.
    "q_sample_weighted" -> ((s, d) =>
      graft.operators.Sample.weightedSample(
        docs(s, d).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 200, seed = 7L)
        .orderBy("samp_key", "doc_id")),

    // Curriculum ordering: 3 difficulty stages by n_chars with a
    // deterministic within-stage shuffle position.
    "q_sample_curriculum" -> ((s, d) =>
      graft.operators.Sample.curriculum(
        docs(s, d).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", edges = Seq(250.0, 400.0))
        .orderBy("doc_id")),

    // Temporal split on events at the 80% day-granular cutoff.
    "q_split_temporal" -> ((s, d) =>
      graft.operators.Split.temporalSplit(
        executor(s, d).table("events").select(col("event_id"), col("ts")),
        "ts", trainFrac = 0.8)
        .select(col("event_id"), col("split"))
        .orderBy("event_id")),

    // Deterministic training-order shuffle: seeded md5 shard +
    // within-shard rank — the (shard, position) every example carries
    // into the final sharded write; engine-exact by the same md5/hex
    // discipline as the split gates.
    "q_split_order" -> ((s, d) =>
      graft.operators.Split.trainingOrder(
          docs(s, d).select(col("doc_id")), "doc_id", nShards = 8)
        .orderBy("shard", "position")),

    // Conversation-structure audit over the sftTurns reshaping: parity
    // roles make full conversations valid; tail fragments exercise the
    // failure flags.
    "q_sft_audit" -> ((s, d) =>
      graft.operators.Sft.conversationAudit(
        sftTurns(s, d), "conv_id", "turn", "role", "content")
        .orderBy("conv_id")),

    // One-row dataset card for the documents corpus.
    "q_report_card" -> ((s, d) =>
      graft.operators.Profile.datasetCard(
        docs(s, d), "doc_id", "text", "lang", "source")),

    // Benford's-law digit audit of order totals.
    "q_profile_benford" -> ((s, d) =>
      graft.operators.Profile.benford(
        executor(s, d).table("orders"), "o_totalprice")
        .orderBy("digit")),

    // Robust median/MAD outlier flags per user — the zscore gate's
    // non-parametric twin (exact medians via the quantiles machinery).
    "q_anomaly_mad" -> ((s, d) =>
      graft.operators.Profile.madFlags(
        executor(s, d).table("events")
          .select(col("event_id"), col("user_id"), col("value")),
        "user_id", "value", threshold = 3.5)
        .select(col("event_id"), col("rz"), col("is_outlier"))
        .orderBy("event_id")),

    // Duplicate-cluster size histogram over docs ∪ identical twins:
    // every text has ≥2 copies; naturally-duplicated texts form larger
    // classes.
    "q_dedup_cluster_sizes" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("text"))
      val twins = d0.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        col("text"))
      Dedup.clusterSizeProfile(d0.unionByName(twins), "doc_id", "text")
        .orderBy("cluster_size")
    }),

    // Cross-source duplication matrix over docs ∪ a 'mirror' source
    // carrying the same texts — the republication-flow audit.
    "q_dedup_cross_source" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"), col("text"), col("source"))
      val mirror = d0.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        col("text"), lit("mirror").as("source"))
      Dedup.crossSourceDuplication(d0.unionByName(mirror),
        "doc_id", "text", "source")
        .orderBy("source_a", "source_b")
    }),

    // Vocabulary coverage curve at four sizes (the last clamps to |V|).
    "q_vocab_coverage" -> ((s, d) =>
      graft.operators.Vocab.coverageCurve(docs(s, d), "text",
        ks = Seq(10, 100, 1000, 1000000)).orderBy("k")),

    // Zipf-law fit over the top-500 token frequencies.
    "q_text_zipf" -> ((s, d) =>
      graft.operators.NgramStats.zipfFit(docs(s, d), "text", k = 500)),

    // Stride-scheduled mixture interleave: 3:1 evens:odds data-loader
    // order — every prefix of the mix_key order carries the weight mix.
    "q_mix_interleave" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"))
      graft.operators.Mix.interleave(Seq(
        (d0.filter(col("doc_id") % 2 === 0), 3.0),
        (d0.filter(col("doc_id") % 2 =!= 0), 1.0)), "doc_id", salt = "s")
        .orderBy("mix_key", "mix_source", "doc_id")
    }),

    // Per-stratum weighted sampling: 20 docs per language by n_chars
    // mass (exponential clocks, same Knuth-hash u as q_sample_weighted).
    "q_sample_weighted_perkey" -> ((s, d) =>
      graft.operators.Sample.weightedSamplePerKey(
        docs(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "doc_id", "n_chars", k = 20, seed = 3L)
        .orderBy("lang", "samp_key", "doc_id")),

    // Per-class precision/recall/F1 of a synthetic classifier (gold =
    // lang; every 7th doc mispredicted as 'xx') — NULL-precision /
    // NULL-recall classes exercised by construction.
    "q_eval_classification" -> ((s, d) =>
      graft.operators.Eval.classificationReport(
        docs(s, d).select(col("lang").as("gold"),
          when(col("doc_id") % 7 === 0, lit("xx"))
            .otherwise(col("lang")).as("pred")),
        "gold", "pred")
        .orderBy("label")),

    // Embedding-space label separability: per-label cohesion vs the
    // most-confusable rival centroid.
    "q_embed_separation" -> ((s, d) =>
      graft.operators.Centroids.classSeparation(
        embeddings(s, d).select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"), col("label")),
        "vec_id", "v", "label")
        .orderBy("label")),

    // Two-sample KS over doc length: the full corpus vs its short-doc
    // slice — the binning-free drift statistic (same sides as
    // q_drift_numeric, no lo/hi/nBins to tune).
    "q_drift_ks" -> ((s, d) =>
      graft.operators.Drift.ksTest(
        docs(s, d).select("n_chars"),
        docs(s, d).filter(col("n_chars") < 800).select("n_chars"),
        "n_chars")),

    // Chi-square independence of lang × source with Cramér's V — the
    // association-strength companion to q_profile_mi on the same
    // contingency table.
    "q_profile_chisq" -> ((s, d) =>
      graft.operators.Profile.chiSquare(docs(s, d), "lang", "source")),

    // Spearman rank correlation of quantity vs extended price —
    // monotone association where raw Pearson (q_profile_corr) is
    // distorted by the price scale; ranks come from domain-sized value
    // tables, never a corpus-global sort.
    "q_profile_spearman" -> ((s, d) =>
      graft.operators.Profile.spearman(
        executor(s, d).table("lineitem"), "l_quantity", "l_extendedprice")),

    // Flesch reading ease + FK grade per document — the dictionary-free
    // audience/complexity curation signal, one codegen'd projection.
    "q_text_readability" -> ((s, d) =>
      graft.operators.QualityFilter.readability(docs(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // Rank-biased overlap of two top-30 document rankings (raw length
    // vs length with a deterministic per-doc perturbation) — the
    // top-weighted ranker-agreement number; p = 0.5 keeps every depth
    // weight a power of two, so both engines share each term exactly.
    "q_eval_rbo" -> ((s, d) => {
      val ds = docs(s, d)
      graft.operators.Eval.rbo(
        ds.select(col("doc_id"), col("n_chars").cast("double").as("score")),
        ds.select(col("doc_id"),
          (col("n_chars") + col("doc_id") % 50).cast("double").as("score")),
        "doc_id", "score", k = 30, p = 0.5)
    }),

    // Two-proportion pooled z on a synthetic experiment: arm = user
    // parity, success = purchase event — one wide aggregate pass.
    "q_ab_proportion" -> ((s, d) =>
      graft.operators.Experiment.proportionZ(
        executor(s, d).table("events")
          .select((col("user_id") % 2).cast("string").as("variant"),
            (col("event_type") === "purchase").as("ok")),
        "variant", "ok", "0", "1")),

    // Welch's t on the event value by the same arms — the numeric
    // outcome companion (unequal-variance safe), decimal-summed moments.
    "q_ab_welch" -> ((s, d) =>
      graft.operators.Experiment.welchT(
        executor(s, d).table("events")
          .select((col("user_id") % 2).cast("string").as("variant"),
            col("value")),
        "variant", "value", "0", "1")),

    // Uplift/Qini by score bucket: parity arms, event value as the
    // targeting score, event_id%3 as conversion — ties-together decile
    // cut on the score-cell table, cumulative qini over the 10-row frame.
    "q_ab_uplift" -> ((s, d) =>
      graft.operators.Experiment.upliftByBucket(
        executor(s, d).table("events")
          .select((col("user_id") % 2).cast("string").as("variant"),
            col("value").as("score"),
            (col("event_id") % 3 === 0).cast("int").as("converted")),
        "variant", "score", "converted", "0", "1", nBuckets = 10)
        .orderBy("bucket")),

    // Rank-based (Mann–Whitney U) arm comparison on the same parity
    // split — the heavy-tail-proof companion to q_ab_welch.
    "q_ab_mannwhitney" -> ((s, d) =>
      graft.operators.Experiment.mannWhitney(
        executor(s, d).table("events")
          .select((col("user_id") % 2).cast("string").as("variant"),
            col("value")),
        "variant", "value", "0", "1")),

    // The dense variant: a full-precision CONTINUOUS metric
    // (value·π — essentially no exact ties before quantization) pins
    // the 6-dp cell-table bound in the oracle: without the operator's
    // quantization the rank window would see ≈ corpus-many distinct
    // doubles (the single-reducer hazard the r8 verdict flagged).
    "q_ab_mannwhitney_dense" -> ((s, d) =>
      graft.operators.Experiment.mannWhitney(
        executor(s, d).table("events")
          .select((col("user_id") % 2).cast("string").as("variant"),
            (col("value") * lit(math.Pi)).as("value")),
        "variant", "value", "0", "1")),

    // The WIDE-RANGE variant: metric = value + event_id·π — every row
    // a distinct 6-dp cell and the value RANGE grows with the corpus,
    // so the cell table is corpus-sized and NO per-unit-of-range bound
    // applies. Pins the CumWalk rank walk (r9 verdict #1): under the
    // retired single-reducer window this shape degenerated at scale.
    "q_ab_mannwhitney_wide" -> ((s, d) =>
      graft.operators.Experiment.mannWhitney(
        executor(s, d).table("events")
          .select((col("user_id") % 2).cast("string").as("variant"),
            (col("value") + col("event_id") * lit(math.Pi)).as("value")),
        "variant", "value", "0", "1")),

    // Per-segment Welch sweep on the event value: t, Welch df, and the
    // normal-approximation p per event type in one grouped pass.
    "q_ab_welch_grouped" -> ((s, d) =>
      graft.operators.Experiment.welchTGrouped(
        executor(s, d).table("events")
          .select(col("event_type").as("seg"),
            (col("user_id") % 2).cast("string").as("variant"),
            col("value")),
        "seg", "variant", "value", "0", "1")
        .orderBy("group")),

    // Per-segment z sweep: one conditional-aggregate pass tests every
    // event type at once, two-sided p via the cross-engine erf chain.
    "q_ab_z_grouped" -> ((s, d) =>
      graft.operators.Experiment.proportionZGrouped(
        executor(s, d).table("events")
          .select(col("event_type").as("seg"),
            (col("user_id") % 2).cast("string").as("variant"),
            (col("value") > 50).as("ok")),
        "seg", "variant", "ok", "0", "1")
        .orderBy("group")),

    // BH step-up over the segment sweep: FDR-corrected q-values and
    // the discovery set at alpha 0.05.
    "q_ab_fdr" -> ((s, d) =>
      graft.operators.Experiment.benjaminiHochberg(
        graft.operators.Experiment.proportionZGrouped(
          executor(s, d).table("events")
            .select(col("event_type").as("seg"),
              (col("user_id") % 2).cast("string").as("variant"),
              (col("value") > 50).as("ok")),
          "seg", "variant", "ok", "0", "1"),
        "group", "p_value", alpha = 0.05)
        .orderBy("rank")),

    // Proportion-metric MDE on purchase conversion by the parity arms.
    "q_ab_mde_prop" -> ((s, d) =>
      graft.operators.Experiment.minDetectableEffectProportion(
        executor(s, d).table("events")
          .select((col("user_id") % 2).cast("string").as("variant"),
            (col("event_type") === "purchase").as("ok")),
        "variant", "ok", "0", "1")),

    // Always-valid mSPRT on the event value by the parity arms.
    "q_ab_msprt" -> ((s, d) =>
      graft.operators.Experiment.msprt(
        executor(s, d).table("events")
          .select((col("user_id") % 2).cast("string").as("variant"),
            col("value")),
        "variant", "value", "0", "1", tau = 1.0)),

    // Minimum detectable effect + required per-arm n on the parity
    // arms — the power audit that says whether q_ab_welch could even
    // have seen the lift it reports.
    "q_ab_mde" -> ((s, d) =>
      graft.operators.Experiment.minDetectableEffect(
        executor(s, d).table("events")
          .select((col("user_id") % 2).cast("string").as("variant"),
            col("value")),
        "variant", "value", "0", "1")),

    // Per-returnflag OLS of quantity on discount: the discount
    // elasticity readout, grouped.
    "q_ols_group" -> ((s, d) =>
      graft.operators.Regression.olsByGroup(
          spread(executor(s, d).table("lineitem")),
          "l_returnflag", "l_discount", "l_quantity")
        .orderBy("key")),

    // Difference-in-differences: parity arms × first/second half of
    // the event window as pre/post.
    "q_ab_did" -> ((s, d) =>
      graft.operators.Experiment.did(
        executor(s, d).table("events")
          .select((col("user_id") % 2).cast("string").as("grp"),
            when(dayofmonth(to_date(col("ts"))) <= 15, lit("pre"))
              .otherwise(lit("post")).as("period"),
            col("value")),
        "grp", "period", "value", "1", "0", "pre", "post")),

    // Kendall τ-b of quantity vs discount (50×11 discrete levels) —
    // exact integer concordance counts off the cell table; the
    // bounded-domain companion to q_profile_spearman.
    "q_profile_kendall" -> ((s, d) =>
      graft.operators.Profile.kendallTau(
        executor(s, d).table("lineitem"), "l_quantity", "l_discount")),

    // CUPED variance reduction on the same arms: covariate =
    // floor(value) (a near-perfect pre-metric, θ ≈ 1), so the adjusted
    // variance collapses to the fractional part — the demonstrative
    // case; one corpus pass, everything a closed form of the moments.
    "q_ab_cuped" -> ((s, d) =>
      graft.operators.Experiment.cuped(
        executor(s, d).table("events")
          .select((col("user_id") % 2).cast("string").as("variant"),
            col("value"), floor(col("value")).cast("double").as("pre")),
        "variant", "value", "pre", "0", "1")),

    // Quantile treatment effect on the same arms: p50/p90/p99 of the
    // outcome per arm and their differences — the fat-tail view the
    // mean lift (q_ab_welch) hides; exact discrete quantiles via the
    // value-cell rank machinery.
    "q_ab_quantiles" -> ((s, d) =>
      graft.operators.Experiment.quantileLift(
        executor(s, d).table("events")
          .select((col("user_id") % 2).cast("string").as("variant"),
            col("value")),
        "variant", "value", "0", "1", Seq(0.5, 0.9, 0.99))
        .orderBy("p")),

    // Stratified CMH over user-quintet strata: the Simpson's-paradox-
    // safe combination of per-stratum 2×2 evidence, plus the MH common
    // odds ratio — one |strata|-sized conditional-count pass.
    "q_ab_cmh" -> ((s, d) =>
      graft.operators.Experiment.cmh(
        executor(s, d).table("events")
          .select((col("user_id") % 5).cast("string").as("stratum"),
            (col("user_id") % 2).cast("string").as("variant"),
            (col("event_type") === "purchase").as("ok")),
        "stratum", "variant", "ok", "0", "1")),

    // Sample-ratio-mismatch check on the same arms at the designed
    // 50/50 — the assignment-health gate every readout runs first.
    "q_ab_srm" -> ((s, d) =>
      graft.operators.Experiment.srm(
        executor(s, d).table("events")
          .select((col("user_id") % 2).cast("string").as("variant")),
        "variant", "0", "1")),

    // Source-mix concentration: HHI + effective source count over the
    // documents' source column — the "is this corpus really
    // multi-source" diversity gauge.
    "q_profile_concentration" -> ((s, d) =>
      graft.operators.Profile.concentration(docs(s, d), "source")),

    // Simplified silhouette against the label centroids — the
    // per-example clustering-quality audit (a = own-centroid cosine
    // distance, b = nearest-other; s = (b−a)/max): which examples
    // straddle label clusters in the embedding space.
    "q_cluster_silhouette" -> ((s, d) =>
      graft.operators.Centroids.labelSilhouette(
          embeddings(s, d).select(col("vec_id"), col("label"),
            VF.asDouble(col("embedding")).as("v")),
          "vec_id", "v", "label")
        .orderBy("vec_id")),

    // HITS over the DIRECTED customer→supplier purchase graph (the
    // bipartite case PageRank's single score can't express): customers
    // score as hubs, suppliers as authorities; 2 max-normalized
    // rounds, oracle-unrolled like q_graph_pagerank.
    "q_graph_hits" -> ((s, d) => {
      val ex = executor(s, d)
      val edges = ex.table("lineitem").join(ex.table("orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c:"), col("o_custkey")).as("src"),
          concat(lit("s:"), col("l_suppkey")).as("dst"))
      graft.operators.Graph.hits(edges, "src", "dst", iterations = 2)
        .orderBy("node")
    })
  )

  /** Shared field model for the linkage gates (weights are derived from
    * these (m,u) pairs identically in the Spark plan and the oracle SQL
    * emitted by [[linkageOracle]]). */
  private val linkageFields = Seq(
    graft.operators.Linkage.FieldSpec("p_type", "p_type", 0.9, 0.15),
    graft.operators.Linkage.FieldSpec(
      "substr(p_name, 1, 6)", "substr(p_name, 1, 6)", 0.8, 0.05),
    graft.operators.Linkage.FieldSpec("p_size", "p_size", 0.7, 0.02))

  /** Mixed-script text appended by the script-profile gate — CJK,
    * Cyrillic, Arabic (incl. Arabic-Indic digits), ASCII digits — shared
    * with the oracle SQL so the two sides cannot drift. */
  private val scriptSuffix =
    " 你好世界 Привет" +
      " مرحبا ١٢٣ 2024!"

  /** Synthesized link pages: absolute double-quoted, relative
    * single-quoted, fragment-only (excluded), and upper-cased-scheme
    * hrefs per doc — mirrored verbatim in the q_web_links oracle. */
  private def linkDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), concat(
      lit("<html><body><a href=\"http://site"),
      (col("doc_id") % 7).cast("string"),
      lit(".example.com/page/"), col("doc_id").cast("string"),
      lit("\">first</a><p>"), substring(coalesce(col("text"), lit("")), 1, 40),
      lit("</p><a class='x' href='/local/"), col("doc_id").cast("string"),
      lit("'>rel</a><a href=\"#top\">frag</a>" +
        "<a HREF=\"HTTPS://Ref.Example.ORG/d?id="),
      (col("doc_id") + 1).cast("string"),
      lit("&x=1\">case</a></body></html>")).as("html"))

  /** Synthesized HTML page per document (testdata has no raw HTML) —
    * mirrored verbatim in `htmlDocsSql`. */
  private def htmlDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      concat(
        lit("<html><head><title>Doc "), col("doc_id"), lit("</title>"),
        lit("<style>p {color: red}</style><script>var x = 1 < 2;</script></head>"),
        lit("<body><h1>"), col("source"), lit("</h1><p>"),
        substring(coalesce(col("text"), lit("")), 1, 60),
        lit("</p><div class=\"body\">"),
        expr("substring(coalesce(text, ''), 61)"),
        lit(" &amp;amp; more &lt;b&gt;bold&lt;/b&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div>"),
        lit("<!-- hidden --></body></html>")).as("html"))

  /** Multi-line document construction for the line-dedup gates (testdata
    * docs are single-line): inject a corpus-global boilerplate line and a
    * per-source line between two unique body halves. Mirrored verbatim in
    * `lineDocsSql`. */
  /** Docs with INTRA-document repeats: opening line + boilerplate, the
    * body, then the same boilerplate and opening line again — exercised
    * by the within-doc line dedup gate (shared shape with its oracle). */
  private def selfRepeatDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      concat(
        substring(coalesce(col("text"), lit("")), 1, 60), lit("\n"),
        lit("PLEASE SUBSCRIBE TO OUR NEWSLETTER"), lit("\n"),
        expr("substring(coalesce(text, ''), 61)"), lit("\n"),
        lit("PLEASE SUBSCRIBE TO OUR NEWSLETTER"), lit("\n"),
        substring(coalesce(col("text"), lit("")), 1, 60)).as("text"))

  private def multiLineDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      concat(
        substring(coalesce(col("text"), lit("")), 1, 80), lit("\n"),
        lit("PLEASE SUBSCRIBE TO OUR NEWSLETTER"), lit("\n"),
        concat(lit("FROM "), col("source")), lit("\n"),
        expr("substring(coalesce(text, ''), 81)")).as("text"))

  /** Stratified-sample gate fractions — shared with the oracle SQL so the
    * two sides cannot drift. */
  private val sampleFractions = Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.75)

  /** Committed fixtures (CSV derived once from sf0.001 part + a synthetic
    * date column; tiny.png/tiny.wav for the real-decode gate) — gates read
    * them from the checkout whose compiled classes are running: this
    * class's code source is `<checkout>/target/scala-2.13/classes`. */
  private[graft] val fixtureDir: String =
    java.nio.file.Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
      .resolve("../../../src/test/resources/fixtures").normalize.toString
  private val csvFixture = s"$fixtureDir/parts_fixture.csv"
  private val quotedFixture = s"$fixtureDir/quoted_fixture.csv"
  private val jsonlFixture = s"$fixtureDir/docs_fixture.jsonl"

  /** WER gate pairs: ASCII-only 80-char text prefixes as the
    * hypothesis; even ids reference themselves (WER 0), odd ids get a
    * vowel-stripped, 'X'-suffixed reference (real edit structure in
    * both directions). Pure-ASCII strings keep DuckDB's byte-level
    * levenshtein equal to the char-level distance. */
  private def werPairs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id").as("id"),
        regexp_replace(substring(coalesce(col("text"), lit("")), 1, 80),
          "[^ -~]", "").as("hs"))
      .withColumn("rs",
        when(col("id") % 2 === 0, col("hs"))
          .otherwise(concat(regexp_replace(col("hs"), "[aeiou]", ""),
            lit("X"))))

  /** DuckDB mirror of [[werPairs]]. */
  private val werPairsSql: String =
    """p AS (SELECT doc_id AS id,
      |  regexp_replace(substr(coalesce(text, ''), 1, 80),
      |                 '[^ -~]', '', 'g') AS hs FROM documents),
      |g AS (SELECT id, hs, CASE WHEN id % 2 = 0 THEN hs
      |        ELSE regexp_replace(hs, '[aeiou]', '', 'g') || 'X'
      |      END AS rs FROM p)""".stripMargin

  /** A string as its character-token array (empty → empty array). */
  private def werChars(c: Column): Column =
    when(length(c) > 0,
      transform(sequence(lit(1), length(c)), i => c.substr(i, lit(1))))
      .otherwise(array().cast("array<string>"))

  private def annInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = embeddings(s, d).select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    (e, probes)
  }

  // ------------------------------------------------------------- oracle SQL

  /** Portable SQL (parses in both Spark and DuckDB) used by CUSTOM stages
    * AND as its own oracle — dialect-neutral by construction. */
  private val sqlCustom: String =
    "SELECT n_name, count(*) AS n_customers, " +
      "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal " +
      "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
      "GROUP BY n_name ORDER BY n_name"

  private val sqlExclude: String =
    "SELECT l.o_orderkey, l.o_custkey, r.* EXCLUDE (c_custkey) " +
      "FROM orders l JOIN customer r ON l.o_custkey = r.c_custkey"

  /** Spark-dialect SQL for the CUSTOM→natives gate (runs ONLY in Spark —
    * simhash64/hashed_tokens are graft extensions; the oracle is the
    * closed-form twin construction, not this SQL). Twin filter, not bare
    * fp equality: near-dup docs can collide at Hamming 0 naturally, twin
    * pairs are the deterministic subset (cf. q_dedup_simhash_twins). */
  private val sqlSimhash: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents),
      |fps AS (SELECT doc_id, simhash64(hashed_tokens(text)) AS fp FROM all_docs)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |FROM fps a JOIN fps b ON a.fp = b.fp AND b.doc_id = a.doc_id + 1000000
      |ORDER BY id_a""".stripMargin

  /** Dialect-neutral window-function SQL (CUSTOM surface + its own
    * oracle, like sqlCustom): row_number ties broken on the unique
    * order key, so the top-3 set is deterministic in both engines. */
  private val sqlWindow: String =
    "SELECT c_mktsegment, o_orderkey, o_totalprice, rnk FROM (" +
      "SELECT c_mktsegment, o_orderkey, o_totalprice, " +
      "CAST(row_number() OVER (PARTITION BY c_mktsegment " +
      "ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rnk " +
      "FROM orders JOIN customer ON o_custkey = c_custkey) t " +
      "WHERE rnk <= 3 ORDER BY c_mktsegment, rnk"

  private val sqlEvents: String =
    "SELECT event_type, date_trunc('hour', ts) AS event_hour, count(*) AS n_events, " +
      "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value " +
      "FROM events GROUP BY event_type, date_trunc('hour', ts)"

  /** Stopword list as a SQL IN-list. */
  private def inList(lang: String): String =
    TF.stopwords(lang).map(w => s"'$w'").mkString("(", ", ", ")")

  private val toksSql = "regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+')"

  /** Fixed well-formed merge list for the BPE-encode gate (each merge's
    * symbols are single chars or outputs of earlier merges). */
  private val bpeGateMerges = Seq(
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("j", "o"), ("jo", "i"), ("joi", "n"),
    ("r", "o"), ("ro", "w"))

  /** DuckDB oracle for [[graft.operators.Vocab.bpeTokenCount]]: the same
    * char-spacing regex and rank-ordered literal-replace chain, built
    * from the same merge list. */
  /** Shared subject derivation for the survival oracles — mirrors
    * [[survivalSubjects]] (whole-day integer division, parity groups). */
  /** Shared DuckDB mirror for q_eval_conformal and its
    * stream-shaped twin gate (both compute the same row). */
  private val conformalOracleSql: String =
    """WITH sc AS (SELECT doc_id,
        |    round(CAST((doc_id * 37) % 101 AS DOUBLE) / 100.0 +
        |      CASE WHEN lang = 'en' THEN 0.15 ELSE 0.0 END, 6) AS score
        |  FROM documents),
        |calc AS (SELECT round(score, 6) AS s, count(*) AS c FROM sc
        |         WHERE doc_id % 2 = 0 GROUP BY 1),
        |tot AS (SELECT coalesce(sum(c), 0) AS n_cal FROM calc),
        |rk AS (SELECT n_cal, CAST(ceil((CAST(n_cal AS DOUBLE) + 1.0) * 0.9)
        |         AS BIGINT) AS rank FROM tot),
        |cum AS (SELECT s, sum(c) OVER (ORDER BY s ASC) AS cum FROM calc),
        |thr AS (SELECT min(s) AS t FROM cum CROSS JOIN rk WHERE cum >= rank),
        |tc AS (SELECT round(score, 6) AS s, count(*) AS c FROM sc
        |       WHERE doc_id % 2 = 1 GROUP BY 1),
        |nt AS (SELECT coalesce(sum(c), 0) AS n_test FROM tc),
        |h AS (SELECT coalesce(sum(c), 0) AS hits
        |      FROM tc CROSS JOIN thr WHERE s <= t)
        |SELECT CAST(rk.n_cal AS BIGINT) AS n_cal, rk.rank,
        |  CASE WHEN rk.rank > rk.n_cal THEN NULL ELSE thr.t END AS threshold,
        |  CAST(nt.n_test AS BIGINT) AS n_test,
        |  CASE WHEN rk.rank > rk.n_cal OR nt.n_test = 0 THEN NULL
        |       ELSE round(CAST(h.hits AS DOUBLE) / nt.n_test, 6)
        |  END AS coverage
        |FROM rk CROSS JOIN thr CROSS JOIN nt CROSS JOIN h""".stripMargin

  /** 2-objective Pareto-front oracle: `q1Expr` is the raw x objective
    * (a DuckDB expression over `documents`); rounding to the
    * operator's 6-dp cells happens INSIDE (membership is decided on
    * rounded cells, output keeps the raw objective values — exactly
    * [[graft.operators.Sample.paretoFront2]]'s contract). Shared by
    * the base (integer n_chars) and wide-range (doc_id·π) gates. */
  private def paretoOracle(q1Expr: String): String =
    s"""WITH p AS (SELECT doc_id, $q1Expr AS q1,
       |    CAST((doc_id * 37) % 101 AS DOUBLE) AS q2 FROM documents),
       |pr AS (SELECT doc_id, q1, q2,
       |    round(q1, 6) AS x, round(q2, 6) AS y FROM p),
       |cells AS (SELECT x, max(y) AS my FROM pr GROUP BY 1),
       |f AS (SELECT x, my FROM (
       |  SELECT x, my, max(my) OVER (ORDER BY x DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
       |  FROM cells) t WHERE rm IS NULL OR my > rm)
       |SELECT pr.doc_id, pr.q1, pr.q2
       |FROM pr JOIN f ON pr.x = f.x AND pr.y = f.my
       |ORDER BY doc_id""".stripMargin

  /** Tie-corrected Mann–Whitney oracle over 6-dp cells of `metric`
    * (a DuckDB expression over `events` columns) — shared by the
    * base, dense (·π), and wide-range (+ event_id·π) gates. */
  private def mannWhitneyOracle(metric: String): String =
    s"""WITH cells AS (SELECT round(CAST($metric AS DOUBLE), 6) AS v,
       |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
       |               THEN 1 END) AS ca,
       |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
       |               THEN 1 END) AS cb
       |  FROM events WHERE value IS NOT NULL GROUP BY 1),
       |rk AS (SELECT ca, cb, ca + cb AS c,
       |    sum(ca + cb) OVER (ORDER BY v) AS cum FROM cells),
       |r2 AS (SELECT ca, cb, c,
       |    round(CAST(cum - c AS DOUBLE) +
       |      (CAST(c AS DOUBLE) + 1.0) / 2.0, 9) AS avgr FROM rk),
       |m AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
       |    CAST(sum(cb) AS BIGINT) AS n_b,
       |    sum(CAST(round(avgr * CAST(ca AS DOUBLE), 9)
       |        AS DECIMAL(28,9))) AS ra,
       |    sum(CAST(c * c * c - c AS DECIMAL(38,0))) AS t3 FROM r2),
       |c1 AS (SELECT n_a, n_b, CAST(n_a AS DOUBLE) AS na,
       |    CAST(n_b AS DOUBLE) AS nb, CAST(ra AS DOUBLE) AS rad,
       |    CAST(t3 AS DOUBLE) AS t3d FROM m),
       |c2 AS (SELECT *, na + nb AS nn,
       |    round(rad - round(na * (na + 1.0) / 2.0, 9), 9) AS ua,
       |    round(na * nb / 2.0, 9) AS mu FROM c1),
       |c3 AS (SELECT *, round(nn + 1.0 -
       |    t3d / round(nn * (nn - 1.0), 9), 9) AS corr FROM c2),
       |c4 AS (SELECT *, round(sqrt(greatest(
       |    round(na * nb / 12.0 * corr, 9), 0.0)), 9) AS sg FROM c3)
       |SELECT n_a, n_b,
       |  CASE WHEN n_a = 0 THEN NULL ELSE round(rad, 6) END
       |    AS rank_sum_a,
       |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE round(ua, 6) END
       |    AS u_a,
       |  CASE WHEN n_a = 0 OR n_b = 0 OR sg = 0.0 THEN NULL
       |       ELSE round((ua - mu) / sg, 6) END AS z
       |FROM c4""".stripMargin

  /** Mantel–Cox log-rank oracle over the given subject CTE —
    * shared by the whole-day and wide-range (fractional-second)
    * gates. */
  private def logRankOracle(subjSql: String): String =
    s"""WITH $subjSql,
         |cells AS (
         |  SELECT round(CAST(dur AS DOUBLE), 6) AS t,
         |    count(*) FILTER (WHERE grp0 = 'even' AND ev) AS d_a,
         |    count(*) FILTER (WHERE grp0 = 'even') AS r_a,
         |    count(*) FILTER (WHERE grp0 = 'odd' AND ev) AS d_b,
         |    count(*) FILTER (WHERE grp0 = 'odd') AS r_b
         |  FROM subj GROUP BY 1),
         |tm AS (
         |  SELECT t, d_a, d_b,
         |    CAST(sum(r_a) OVER () AS BIGINT) AS n_a_tot,
         |    CAST(sum(r_b) OVER () AS BIGINT) AS n_b_tot,
         |    CAST(sum(r_a) OVER () - sum(r_a) OVER (ORDER BY t) + r_a
         |         AS BIGINT) AS n1,
         |    CAST(sum(r_b) OVER () - sum(r_b) OVER (ORDER BY t) + r_b
         |         AS BIGINT) AS n2
         |  FROM cells),
         |terms AS (
         |  SELECT *, CAST(d_a + d_b AS DOUBLE) AS dt,
         |         CAST(n1 + n2 AS DOUBLE) AS nt
         |  FROM tm WHERE d_a + d_b > 0),
         |vals AS (
         |  SELECT n_a_tot, n_b_tot, d_a,
         |    round(dt * CAST(n1 AS DOUBLE) / nt, 9) AS e1,
         |    CASE WHEN n1 + n2 < 2 THEN 0.0
         |         ELSE round(dt * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
         |                    * (nt - dt) / (nt * nt * (nt - 1.0)), 9)
         |    END AS v
         |  FROM terms),
         |agg AS (
         |  SELECT count(*) AS n_times,
         |    CAST(max(n_a_tot) AS BIGINT) AS n_a,
         |    CAST(max(n_b_tot) AS BIGINT) AS n_b,
         |    CAST(sum(d_a) AS BIGINT) AS observed_a,
         |    sum(CAST(e1 AS DECIMAL(28,9))) AS e,
         |    sum(CAST(v AS DECIMAL(28,9))) AS vv
         |  FROM vals)
         |SELECT n_times, n_a, n_b, observed_a,
         |  round(CAST(e AS DOUBLE), 6) AS expected_a,
         |  CASE WHEN CAST(vv AS DOUBLE) = 0.0 THEN CAST(NULL AS DOUBLE)
         |       ELSE round((CAST(observed_a AS DOUBLE) - CAST(e AS DOUBLE))
         |                  * (CAST(observed_a AS DOUBLE) - CAST(e AS DOUBLE))
         |                  / CAST(vv AS DOUBLE), 6) END AS chi2
         |FROM agg""".stripMargin

  /** [[survivalSubjSql]] with durations in fractional SECONDS
    * (µs delta / 10⁶) — the wide-range twin of the whole-day
    * subject table. */
  private val survivalSubjSecondsSql: String =
    """ev0 AS (SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
      |               event_type AS et FROM events),
      |subj AS (
      |  SELECT CASE WHEN u % 2 = 0 THEN 'even' ELSE 'odd' END AS grp0,
      |    CAST(coalesce(min(CASE WHEN et = 'purchase' THEN t_us END),
      |                  max(t_us)) - min(t_us) AS DOUBLE) / 1000000.0
      |      AS dur,
      |    min(CASE WHEN et = 'purchase' THEN t_us END) IS NOT NULL AS ev
      |  FROM ev0 GROUP BY u)""".stripMargin

  private val survivalSubjSql: String =
    """ev0 AS (SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
      |               event_type AS et FROM events),
      |subj AS (
      |  SELECT CASE WHEN u % 2 = 0 THEN 'even' ELSE 'odd' END AS grp0,
      |    CAST((coalesce(min(CASE WHEN et = 'purchase' THEN t_us END),
      |                   max(t_us)) - min(t_us)) // 86400000000 AS DOUBLE)
      |      AS dur,
      |    min(CASE WHEN et = 'purchase' THEN t_us END) IS NOT NULL AS ev
      |  FROM ev0 GROUP BY u)""".stripMargin

  /** Shared journey derivation + credit rollup for the attribution
    * oracles; `credit` is the per-touch DuckDB expression over
    * (u, t, id, ch, ct, rn, k) — window functions over u allowed. */
  private def attributionOracle(credit: String): String =
    s"""WITH base AS (
       |  SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
       |         event_id AS id, event_type AS ch,
       |         event_type = 'purchase' AS c
       |  FROM events),
       |cv AS (SELECT u, min(t) AS ct FROM base WHERE c GROUP BY 1),
       |cid AS (SELECT b.u, min(b.id) AS cid FROM base b
       |        JOIN cv ON b.u = cv.u AND b.t = cv.ct
       |        WHERE b.c GROUP BY 1),
       |tch AS (SELECT b.u, b.t, b.id, b.ch, cv.ct FROM base b
       |        JOIN cv ON b.u = cv.u JOIN cid ON b.u = cid.u
       |        WHERE NOT b.c AND (b.t < cv.ct OR
       |              (b.t = cv.ct AND b.id < cid.cid))),
       |rk AS (SELECT *, row_number() OVER (
       |         PARTITION BY u ORDER BY t, id) AS rn,
       |       count(*) OVER (PARTITION BY u) AS k FROM tch),
       |cr AS (SELECT u, ch, $credit AS credit FROM rk)
       |SELECT ch AS channel,
       |  round(CAST(sum(CAST(credit AS DECIMAL(28,9))) AS DOUBLE), 6)
       |    AS conversions,
       |  count(*) AS touches
       |FROM cr GROUP BY 1 ORDER BY 1""".stripMargin

  /** The decay model's per-touch weight (9-dp ln/exp discipline). */
  private val attributionDecayW: String =
    "round(exp(round(-0.1 * CAST(ct - t AS DOUBLE) / 86400000000.0, 9)), 9)"

  /** Mirror of `Attribution.markovRemoval`: journey edges → transition
    * matrix → `iterations` unrolled fixed-point CTEs (the
    * [[linkageEmOracle]] unrolled-iteration discipline) → removal
    * effects and proportional credits. */
  private def markovOracle(iterations: Int): String = {
    val its = (1 to iterations).map { k =>
      s"""it$k AS (
         |  SELECT s.rc, s.fs,
         |    round(coalesce(c.cc, 0.0) +
         |          coalesce(CAST(d.dyn AS DOUBLE), 0.0), 9) AS pv
         |  FROM states s
         |  LEFT JOIN ct_ c ON s.rc = c.rc AND s.fs = c.fs
         |  LEFT JOIN (
         |    SELECT dy.rc, dy.fs,
         |      sum(CAST(round(dy.p * pk.pv, 9) AS DECIMAL(28,9))) AS dyn
         |    FROM dy JOIN it${k - 1} pk
         |      ON dy.rc = pk.rc AND dy.tsx = pk.fs
         |    GROUP BY 1, 2) d ON s.rc = d.rc AND s.fs = d.fs)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |  SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
       |         event_id AS id, event_type AS ch,
       |         event_type = 'purchase' AS c
       |  FROM events),
       |cv AS (SELECT u, min(t) AS ct FROM base WHERE c GROUP BY 1),
       |cid AS (SELECT b.u, min(b.id) AS cid FROM base b
       |        JOIN cv ON b.u = cv.u AND b.t = cv.ct
       |        WHERE b.c GROUP BY 1),
       |tch AS (SELECT b.u, b.t, b.id, b.ch, cv.ct FROM base b
       |        LEFT JOIN cv ON b.u = cv.u LEFT JOIN cid ON b.u = cid.u
       |        WHERE NOT b.c AND (cv.ct IS NULL OR b.t < cv.ct OR
       |              (b.t = cv.ct AND b.id < cid.cid))),
       |sq AS (SELECT u, ch, ct,
       |    row_number() OVER (PARTITION BY u ORDER BY t, id) AS rn,
       |    lead(ch) OVER (PARTITION BY u ORDER BY t, id) AS nxt
       |  FROM tch),
       |edges AS (
       |  SELECT ch AS fs,
       |    coalesce(nxt, CASE WHEN ct IS NOT NULL THEN '__CONV__'
       |                       ELSE '__NULL__' END) AS tsx
       |  FROM sq
       |  UNION ALL SELECT '__START__', ch FROM sq WHERE rn = 1
       |  UNION ALL SELECT '__START__', '__CONV__' FROM cv
       |    WHERE u NOT IN (SELECT u FROM tch)),
       |tn AS (SELECT fs, tsx, count(*) AS n FROM edges GROUP BY 1, 2),
       |trans AS (SELECT fs, tsx,
       |    round(CAST(n AS DOUBLE) /
       |          CAST(sum(n) OVER (PARTITION BY fs) AS DOUBLE), 9) AS p
       |  FROM tn),
       |rcs AS (SELECT DISTINCT fs AS rc FROM trans
       |        WHERE fs <> '__START__'
       |        UNION ALL SELECT '__NONE__'),
       |keyed AS (SELECT r.rc, t.fs, t.tsx, t.p
       |          FROM rcs r CROSS JOIN trans t
       |          WHERE r.rc = '__NONE__' OR
       |                (t.fs <> r.rc AND t.tsx <> r.rc)),
       |ct_ AS (SELECT rc, fs, p AS cc FROM keyed WHERE tsx = '__CONV__'),
       |dy AS (SELECT * FROM keyed
       |       WHERE tsx <> '__CONV__' AND tsx <> '__NULL__'),
       |states AS (SELECT DISTINCT rc, fs FROM keyed),
       |it0 AS (SELECT rc, fs, CAST(0.0 AS DOUBLE) AS pv FROM states),
       |$its,
       |fin AS (SELECT rc, pv FROM it$iterations WHERE fs = '__START__'),
       |pf AS (SELECT pv AS pfv FROM fin WHERE rc = '__NONE__'),
       |re AS (SELECT f.rc AS channel,
       |    CASE WHEN pf.pfv = 0.0 THEN CAST(NULL AS DOUBLE)
       |         ELSE round(1.0 - f.pv / pf.pfv, 9) END AS re9
       |  FROM fin f CROSS JOIN pf WHERE f.rc <> '__NONE__'),
       |nc AS (SELECT count(DISTINCT u) AS ncv FROM cv),
       |tre AS (SELECT sum(CAST(re9 AS DECIMAL(28,9))) AS tot FROM re)
       |SELECT channel, round(re9, 6) AS removal_effect,
       |  CASE WHEN tot IS NULL OR CAST(tot AS DOUBLE) = 0.0
       |       THEN CAST(NULL AS DOUBLE)
       |       ELSE round(re9 / CAST(tot AS DOUBLE) * CAST(ncv AS DOUBLE), 6)
       |  END AS credit
       |FROM re CROSS JOIN tre CROSS JOIN nc
       |ORDER BY channel""".stripMargin
  }

  /** Mirror of [[basketGate]]: A-Priori pairwise rules, support floor
    * compared in DOUBLE space exactly like the operator. */
  private def basketOracle(minSupport: Double, cap: Option[Long]): String = {
    val presCte = cap match {
      case Some(c) =>
        s"""pres AS (SELECT p.* FROM pres0 p JOIN (
           |  SELECT b FROM pres0 GROUP BY b HAVING count(*) <= $c) ok
           |  ON p.b = ok.b),""".stripMargin
      case None => "pres AS (SELECT * FROM pres0),"
    }
    s"""WITH pres0 AS (
       |  SELECT DISTINCT CAST(user_id AS VARCHAR) AS b,
       |         json_extract_string(props, '$$.k') AS i
       |  FROM events
       |  WHERE user_id IS NOT NULL AND props IS NOT NULL
       |    AND json_extract_string(props, '$$.k') IS NOT NULL),
       |$presCte
       |nb AS (SELECT count(DISTINCT b) AS nbv FROM pres),
       |ic AS (SELECT i, count(*) AS ni FROM pres GROUP BY 1),
       |freq AS (SELECT ic.i FROM ic, nb
       |         WHERE CAST(ni AS DOUBLE) >=
       |               CAST($minSupport AS DOUBLE) * CAST(nbv AS DOUBLE)),
       |pp AS (SELECT p.b, p.i FROM pres p JOIN freq f ON p.i = f.i),
       |pr AS (SELECT a.i AS ia, b2.i AS ib, count(*) AS np
       |       FROM pp a JOIN pp b2 ON a.b = b2.b AND a.i < b2.i
       |       GROUP BY 1, 2),
       |prf AS (SELECT pr.*, nbv FROM pr, nb
       |        WHERE CAST(np AS DOUBLE) >=
       |              CAST($minSupport AS DOUBLE) * CAST(nbv AS DOUBLE)),
       |bidir AS (SELECT ia AS ante, ib AS cons, np, nbv FROM prf
       |          UNION ALL SELECT ib, ia, np, nbv FROM prf)
       |SELECT ante AS antecedent, cons AS consequent, np AS pair_count,
       |  round(CAST(np AS DOUBLE) / CAST(nbv AS DOUBLE), 6) AS support,
       |  round(CAST(np AS DOUBLE) / CAST(a.ni AS DOUBLE), 6) AS confidence,
       |  round(CAST(np AS DOUBLE) * CAST(nbv AS DOUBLE) /
       |        (CAST(a.ni AS DOUBLE) * CAST(c.ni AS DOUBLE)), 6) AS lift
       |FROM bidir JOIN ic a ON bidir.ante = a.i JOIN ic c ON bidir.cons = c.i
       |ORDER BY antecedent, consequent""".stripMargin
  }

  /** Shared day-grid CTEs for the time-series oracles. */
  private val tsGridSql: String =
    """counts AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
      |           FROM events WHERE ts IS NOT NULL GROUP BY 1),
      |bnds AS (SELECT min(day) AS d0, max(day) AS d1 FROM counts),
      |grid AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
      |                AS DATE) AS day FROM bnds),
      |g2 AS (SELECT g.day, coalesce(c.n, 0) AS n
      |       FROM grid g LEFT JOIN counts c ON g.day = c.day)""".stripMargin

  /** α/(1−α) for q_ts_holt (α = 0.3) at 9 dp — the same driver-side
    * constant Timeseries.holt folds into its plan. */
  private val holtAc: Double = BigDecimal(0.3 / 0.7)
    .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Shared WITH-prefix of the q_ab_z_grouped / q_ab_fdr oracles:
    * per-event-type proportion cells on the parity arms (success =
    * value > 50), the 9-dp pooled z, and the A&S-7.1.26 two-sided
    * p-value chain (y → t → Horner poly × exp, each snapped to 9 dp —
    * Experiment.twoSidedP's exact mirror). Ends mid-WITH (trailing
    * comma) so each oracle appends its own final CTEs/SELECT. */
  private val abZGroupedSql: String =
    """WITH m AS (SELECT event_type AS grp,
      |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
      |               THEN 1 END) AS n_a,
      |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
      |                AND coalesce(value > 50, FALSE) THEN 1 END) AS k_a,
      |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
      |               THEN 1 END) AS n_b,
      |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
      |                AND coalesce(value > 50, FALSE) THEN 1 END) AS k_b
      |  FROM events GROUP BY 1),
      |zc AS (SELECT *,
      |    (n_a = 0 OR n_b = 0 OR k_a + k_b = 0
      |      OR k_a + k_b = n_a + n_b) AS degen,
      |    CASE WHEN n_a = 0 OR n_b = 0 OR k_a + k_b = 0
      |           OR k_a + k_b = n_a + n_b THEN NULL
      |    ELSE round((CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
      |                CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
      |      sqrt((CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) *
      |            (1.0 - CAST(k_a + k_b AS DOUBLE) /
      |                   CAST(n_a + n_b AS DOUBLE))) *
      |           (1.0 / CAST(n_a AS DOUBLE) +
      |            1.0 / CAST(n_b AS DOUBLE))), 9)
      |    END AS z9
      |  FROM m),
      |py AS (SELECT *, round(abs(z9) * 0.707106781, 9) AS y FROM zc),
      |pt AS (SELECT *, round(1.0 / (1.0 + 0.3275911 * y), 9) AS t
      |       FROM py),
      |pchain AS (SELECT *,
      |    round(round(t * (0.254829592 + t * (-0.284496736 +
      |      t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))),
      |      9) * round(exp(round(0.0 - y * y, 9)), 9), 9) AS p9
      |  FROM pt),
      |""".stripMargin

  /** z_{α/2} + z_β for q_ab_mde (α = .05, power = .8) at 9 dp — the
    * same constant Experiment.minDetectableEffect folds in. */
  private val mdeZsum: Double = BigDecimal(
    graft.operators.Experiment.normalQuantile(0.975) +
      graft.operators.Experiment.normalQuantile(0.8))
    .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** One closed-form EWMA pass for the q_ts_holt oracle: `src`(rn, x)
    * → `out`(rn, x) with per-term 9-dp snaps, DECIMAL sum, 9-dp
    * result — Timeseries.holt's inner pass, α = 0.3. */
  private def holtPassSql(src: String, out: String): String = {
    val wt = "CASE WHEN k = 0 THEN 1.0 ELSE " +
      "round(exp(round(k * round(ln(0.7), 9), 9)), 9) END"
    s"""p_$out AS (SELECT t.rn, a.rn AS ri, t.rn - a.rn AS k, a.x AS x
       |       FROM $src t JOIN $src a ON a.rn <= t.rn),
       |$out AS (SELECT rn, round(CAST(sum(CAST(
       |    CASE WHEN ri = 1 THEN round($wt * x, 9)
       |         ELSE round(0.3 * $wt * x, 9) END
       |    AS DECIMAL(28,9))) AS DOUBLE), 9) AS x
       |  FROM p_$out GROUP BY rn)""".stripMargin
  }

  /** One DiD cell's (count, Σx, Σx²) conditional aggregates over the
    * `e` CTE (columns g, p, value) — Experiment.did's mirror. */
  private def didCellSql(g: String, p: String, sfx: String): String =
    s"""count(CASE WHEN g = '$g' AND p = '$p' AND value IS NOT NULL
       |        THEN 1 END) AS n_$sfx,
       |  sum(CASE WHEN g = '$g' AND p = '$p'
       |      THEN CAST(round(value, 9) AS DECIMAL(28,9)) END) AS s_$sfx,
       |  sum(CASE WHEN g = '$g' AND p = '$p'
       |      THEN CAST(round(round(value, 9) * round(value, 9), 9)
       |           AS DECIMAL(28,9)) END) AS s2_$sfx""".stripMargin

  private def didStatSql(sfx: String): String =
    s"""round(CAST(s_$sfx AS DOUBLE) / CAST(n_$sfx AS DOUBLE), 9)
       |    AS m_$sfx,
       |  round(CAST(s2_$sfx AS DOUBLE) / CAST(n_$sfx AS DOUBLE), 9)
       |    AS e2_$sfx""".stripMargin

  private def didVarSql(sfx: String): String =
    s"""round((e2_$sfx - m_$sfx * m_$sfx) * (CAST(n_$sfx AS DOUBLE) /
       |    (CAST(n_$sfx AS DOUBLE) - 1.0)), 9) AS v_$sfx""".stripMargin

  /** Empirical-CDF bucket map for one RFM metric of the `mt` CTE:
    * bucket = ceil(round(cum/N · 5, 9)) over per-value counts —
    * Rfm.bucketMap's exact mirror. */
  private def rfmBucketSql(metric: String): String =
    s"""(SELECT v, CAST(ceil(round(CAST(cum AS DOUBLE) /
       |    CAST(nn AS DOUBLE) * 5.0, 9)) AS INT) AS b
       |  FROM (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
       |          sum(c) OVER () AS nn
       |        FROM (SELECT CAST($metric AS DOUBLE) AS v, count(*) AS c
       |              FROM mt GROUP BY 1)))""".stripMargin

  /** Shared RFM scoring CTEs ending in `sc` — Rfm.scores' mirror on
    * the orders table (B = 5, 5 = best, recency inverted). */
  private val rfmScoresSql: String =
    s"""pc AS (SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
       |         count(*) AS frequency,
       |         round(CAST(coalesce(sum(CAST(o_totalprice
       |           AS DECIMAL(18,2))), 0) AS DOUBLE), 2) AS monetary
       |       FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
       |rfd AS (SELECT max(last_d) AS refd FROM pc),
       |mt AS (SELECT o_custkey,
       |         CAST(date_diff('day', last_d, refd) AS BIGINT)
       |           AS recency_days,
       |         frequency, monetary FROM pc, rfd),
       |rbk AS ${rfmBucketSql("recency_days")},
       |fbk AS ${rfmBucketSql("frequency")},
       |mbk AS ${rfmBucketSql("monetary")},
       |sc AS (SELECT mt.o_custkey, recency_days, frequency, monetary,
       |         6 - rbk.b AS r, fbk.b AS f, mbk.b AS m,
       |         CAST(6 - rbk.b AS VARCHAR) || CAST(fbk.b AS VARCHAR) ||
       |           CAST(mbk.b AS VARCHAR) AS segment
       |       FROM mt
       |       JOIN rbk ON CAST(recency_days AS DOUBLE) = rbk.v
       |       JOIN fbk ON CAST(frequency AS DOUBLE) = fbk.v
       |       JOIN mbk ON monetary = mbk.v)""".stripMargin

  private def bpeEncodeOracle(merges: Seq[(String, String)]): String = {
    val spaced = "trim(regexp_replace(w, '(.)', '\\1 ', 'g'))"
    val merged = merges.foldLeft(spaced) { case (e, (a, b)) =>
      s"replace($e, '$a $b', '$a$b')"
    }
    s"""WITH t AS (SELECT doc_id AS id,
       |  unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+')) AS w
       |  FROM documents),
       |nz AS (SELECT id, w FROM t WHERE length(w) > 0),
       |enc AS (SELECT id, len(string_split($merged, ' ')) AS wt FROM nz),
       |s AS (SELECT id, CAST(sum(wt) AS BIGINT) AS n FROM enc GROUP BY id)
       |SELECT d.doc_id AS id, CAST(coalesce(s.n, 0) AS BIGINT) AS n_tokens
       |FROM documents d LEFT JOIN s ON d.doc_id = s.id ORDER BY id""".stripMargin
  }

  /** DuckDB oracle for [[graft.operators.Dsir.importanceWeights]] —
    * shared by the weights gate and the Gumbel-sample gate. The
    * polynomial bucket hash is reproduced character-by-character. */
  private val dsirWeightsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang,
      |    regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS ws
      |  FROM documents),
      |uni AS (
      |  SELECT doc_id, lang, w, i
      |  FROM (SELECT doc_id, lang, unnest(ws) AS w,
      |               unnest(range(1, len(ws) + 1)) AS i FROM toks)
      |  WHERE length(w) > 0),
      |feats AS (
      |  SELECT doc_id, lang, w AS f FROM uni
      |  UNION ALL
      |  SELECT a.doc_id, a.lang, a.w || ' ' || b.w
      |  FROM uni a JOIN uni b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
      |fb AS (
      |  SELECT doc_id, lang,
      |    list_reduce(list_transform(string_split(f, ''), x -> unicode(x)),
      |                (h, c) -> (h * 31 + c) % 2000003) % 4096 AS b
      |  FROM feats),
      |tc AS (SELECT b, count(*) AS ct FROM fb WHERE lang = 'en' GROUP BY 1),
      |rc AS (SELECT b, count(*) AS cr FROM fb GROUP BY 1),
      |tot AS (SELECT (SELECT CAST(sum(ct) AS DOUBLE) FROM tc) AS tt,
      |               (SELECT CAST(sum(cr) AS DOUBLE) FROM rc) AS tr),
      |df AS (SELECT doc_id, b, count(*) AS c FROM fb GROUP BY 1, 2),
      |con AS (
      |  SELECT doc_id, c,
      |    round(CAST(c AS DOUBLE) *
      |          (ln((coalesce(ct, 0) + 1.0) / (tt + 1.0 * 4096)) -
      |           ln((coalesce(cr, 0) + 1.0) / (tr + 1.0 * 4096))), 9) AS w
      |  FROM df LEFT JOIN tc USING (b) LEFT JOIN rc USING (b) CROSS JOIN tot),
      |s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
      |        round(CAST(sum(CAST(w AS DECIMAL(20,9))) AS DOUBLE), 6)
      |          AS dsir_weight
      |      FROM con GROUP BY 1)
      |SELECT d.doc_id, CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
      |       s.dsir_weight
      |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Pair CTE shared by the generation-eval oracles — mirrors
    * [[evalPairs]]: every 7th doc, reference = self on %14 else next. */
  private val evalPairsSql =
    """pairs AS (
      |  SELECT a.doc_id AS id, a.text AS pred, b.text AS gold
      |  FROM documents a JOIN documents b
      |    ON b.doc_id = a.doc_id + (CASE WHEN a.doc_id % 14 = 0 THEN 0 ELSE 1 END)
      |  WHERE a.doc_id % 7 = 0)""".stripMargin

  /** Empty-dropping whitespace tokenization of an eval-pair column —
    * mirrors Eval.toks (split(trim('')) would yield a phantom ['']). */
  private def evalToksSql(c: String): String =
    s"list_filter(regexp_split_to_array(trim(coalesce($c, '')), " +
      s"'[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')"
  private def predToksSql = evalToksSql("pred")
  private def goldToksSql = evalToksSql("gold")

  /**
   * DuckDB mirror of Eval.corpusBleu over [[evalPairsSql]]: per-n clipped
   * matches via (id, gram) count joins, p_n rounded to 9 dp before ln,
   * per-n log terms accumulated as DECIMAL(20,9), BP rounded to 9 dp
   * before the product — the exact float discipline of the operator.
   */
  private def bleuOracle(maxN: Int): String = {
    def gramsSql(arr: String, n: Int): String =
      s"unnest(list_transform(range(1, greatest(len($arr)-${n - 1}, 0)+1), " +
        s"i -> array_to_string(list_slice($arr, i, i+${n - 1}), ' ')))"
    val perN = (1 to maxN).map { n =>
      s"""pg$n AS (SELECT id, g, count(*) AS cp FROM (
         |  SELECT id, ${gramsSql("pt", n)} AS g FROM base) GROUP BY 1, 2),
         |gg$n AS (SELECT id, g, count(*) AS cg FROM (
         |  SELECT id, ${gramsSql("gt", n)} AS g FROM base) GROUP BY 1, 2),
         |st$n AS (SELECT $n AS n,
         |  (SELECT CAST(coalesce(sum(least(cp, cg)), 0) AS BIGINT)
         |   FROM pg$n JOIN gg$n USING (id, g)) AS matched,
         |  (SELECT CAST(coalesce(sum(greatest(len(pt)-${n - 1}, 0)), 0) AS BIGINT)
         |   FROM base) AS total)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to maxN).map(n => s"SELECT * FROM st$n").mkString(" UNION ALL ")
    val precSel = (1 to maxN).map(n =>
      s"max(CASE WHEN n = $n AND total > 0 THEN " +
        s"round(CAST(matched AS DOUBLE)/total, 6) END) AS p_$n").mkString(",\n  ")
    val precNames = (1 to maxN).map(n => s"p_$n").mkString(", ")
    s"""WITH $evalPairsSql,
       |base AS (SELECT id, $predToksSql AS pt, $goldToksSql AS gt FROM pairs),
       |$perN,
       |stats AS ($unions),
       |agg AS (SELECT
       |  sum(CASE WHEN matched = 0 OR total = 0 THEN 1 ELSE 0 END) AS zeros,
       |  sum(CASE WHEN matched > 0 AND total > 0
       |    THEN CAST(round(ln(round(CAST(matched AS DOUBLE)/total, 9))/$maxN.0, 9)
       |         AS DECIMAL(20,9))
       |    ELSE CAST(0 AS DECIMAL(20,9)) END) AS logsum FROM stats),
       |precs AS (SELECT
       |  $precSel FROM stats),
       |lens AS (SELECT CAST(sum(len(pt)) AS BIGINT) AS pred_len,
       |                CAST(sum(len(gt)) AS BIGINT) AS ref_len FROM base),
       |bpv AS (SELECT CASE WHEN pred_len >= ref_len OR pred_len = 0
       |    THEN CAST(1.0 AS DOUBLE)
       |    ELSE round(exp(1.0 - CAST(ref_len AS DOUBLE)/pred_len), 9) END AS bp
       |  FROM lens)
       |SELECT pred_len, ref_len, $precNames,
       |  round(bp, 6) AS brevity_penalty,
       |  CASE WHEN zeros > 0 OR pred_len = 0 THEN CAST(0.0 AS DOUBLE)
       |    ELSE round(bp * exp(CAST(logsum AS DOUBLE)), 6) END AS bleu
       |FROM lens, precs, agg, bpv""".stripMargin
  }

  /**
   * DuckDB mirror of Eval.corpusChrF over [[evalPairsSql]]: per-order
   * char-gram clipped counts, 9-dp per-order ratios, DECIMAL macro-
   * average over orders with mass, F-β rounded to 6 dp.
   */
  private def chrfOracle(maxN: Int, beta: Double): String = {
    val b2 = beta * beta
    val perN = (1 to maxN).map { n =>
      s"""pg$n AS (SELECT id, gr, count(*) AS cp FROM (
         |  SELECT id, unnest(list_transform(range(1, greatest(length(p)-${n - 1}, 0)+1),
         |    i -> substr(p, i, $n))) AS gr FROM base) GROUP BY 1, 2),
         |gg$n AS (SELECT id, gr, count(*) AS cg FROM (
         |  SELECT id, unnest(list_transform(range(1, greatest(length(g)-${n - 1}, 0)+1),
         |    i -> substr(g, i, $n))) AS gr FROM base) GROUP BY 1, 2),
         |st$n AS (SELECT $n AS n,
         |  (SELECT CAST(coalesce(sum(least(cp, cg)), 0) AS BIGINT)
         |   FROM pg$n JOIN gg$n USING (id, gr)) AS matched,
         |  (SELECT CAST(coalesce(sum(greatest(length(p)-${n - 1}, 0)), 0) AS BIGINT)
         |   FROM base) AS tp,
         |  (SELECT CAST(coalesce(sum(greatest(length(g)-${n - 1}, 0)), 0) AS BIGINT)
         |   FROM base) AS tg)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to maxN).map(n => s"SELECT * FROM st$n").mkString(" UNION ALL ")
    s"""WITH $evalPairsSql,
       |base AS (SELECT id,
       |  regexp_replace(coalesce(pred, ''), '[ \\t\\n\\x0b\\f\\r]+', '', 'g') AS p,
       |  regexp_replace(coalesce(gold, ''), '[ \\t\\n\\x0b\\f\\r]+', '', 'g') AS g FROM pairs),
       |$perN,
       |stats0 AS ($unions),
       |stats AS (SELECT
       |  sum(CASE WHEN tp > 0 THEN
       |    CAST(round(CAST(matched AS DOUBLE)/tp, 9) AS DECIMAL(20,9)) END) AS psum,
       |  sum(CASE WHEN tp > 0 THEN 1 END) AS pn,
       |  sum(CASE WHEN tg > 0 THEN
       |    CAST(round(CAST(matched AS DOUBLE)/tg, 9) AS DECIMAL(20,9)) END) AS rsum,
       |  sum(CASE WHEN tg > 0 THEN 1 END) AS rn
       |  FROM stats0),
       |lens AS (SELECT CAST(sum(length(p)) AS BIGINT) AS pred_chars,
       |                CAST(sum(length(g)) AS BIGINT) AS gold_chars FROM base),
       |fin AS (SELECT round(CAST(psum AS DOUBLE)/pn, 9) AS p9,
       |               round(CAST(rsum AS DOUBLE)/rn, 9) AS r9,
       |               pn, rn FROM stats)
       |SELECT pred_chars, gold_chars,
       |  CASE WHEN pn IS NOT NULL THEN round(p9, 6) END AS "precision",
       |  CASE WHEN rn IS NOT NULL THEN round(r9, 6) END AS recall,
       |  CASE WHEN pn IS NOT NULL AND rn IS NOT NULL AND ($b2*p9 + r9) > 0
       |    THEN round((1.0 + $b2)*p9*r9/($b2*p9 + r9), 6)
       |    WHEN pn IS NOT NULL AND rn IS NOT NULL THEN 0.0
       |  END AS chrf
       |FROM lens, fin""".stripMargin
  }

  /** DuckDB mirror of Centroids.kCenterGreedy — the greedy rounds
    * unrolled as CTE pairs (argmax pick, min-distance update). */
  private def kCenterOracle(k: Int): String = {
    val rounds = (1 until k).map { r =>
      s"""c$r AS (SELECT vec_id, v, mind FROM d${r - 1}
         |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
         |d$r AS (SELECT d.vec_id, d.v,
         |  least(d.mind, round(1 - list_cosine_similarity(d.v, c.v), 6)) AS mind
         |  FROM d${r - 1} d, c$r c WHERE d.vec_id != c.vec_id)""".stripMargin
    }.mkString(",\n")
    val sel = (1 until k)
      .map(r => s"UNION ALL SELECT $r, vec_id, mind FROM c$r").mkString("\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT vec_id, v FROM e ORDER BY vec_id ASC LIMIT 1),
       |d0 AS (SELECT e.vec_id, e.v,
       |  round(1 - list_cosine_similarity(e.v, c.v), 6) AS mind
       |  FROM e, c0 c WHERE e.vec_id != c.vec_id),
       |$rounds
       |SELECT 0 AS center_order, vec_id, CAST(NULL AS DOUBLE) AS min_dist FROM c0
       |$sel
       |ORDER BY center_order""".stripMargin
  }

  /**
   * DuckDB oracle for n-gram Jaccard pairs — string shingles instead of
   * xxhash64'd ones (identical Jaccard absent hash collisions; 64-bit
   * xxhash64 collisions over ≤10^5 shingles are ~10^-10-probable).
   */
  private def ngramJaccardOracle(n: Int, threshold: Double,
                                 maxShingleFreq: Option[Int] = None,
                                 corpus: String = "documents",
                                 containment: Boolean = false): String =
    ngramPairsSql(n, threshold, maxShingleFreq, corpus, containment) +
      "\nORDER BY id_a, id_b"

  /** The pair query of [[ngramJaccardOracle]] without the trailing ORDER
    * BY — embeddable as a CTE (the threshold-sweep oracle wraps it). */
  private def ngramPairsSql(n: Int, threshold: Double,
                            maxShingleFreq: Option[Int] = None,
                            corpus: String = "documents",
                            containment: Boolean = false): String = {
    val (metric, formula) =
      if (containment) ("containment", "CAST(inter AS DOUBLE)/least(sa.sz, sb.sz)")
      else ("jaccard", "CAST(inter AS DOUBLE)/(sa.sz+sb.sz-inter)")
    // The cap drops shingles whose doc-frequency exceeds it from the
    // inverted index ONLY; set sizes stay uncapped — mirroring
    // Dedup.ngramJaccardPairs exactly.
    val invFilter = maxShingleFreq match {
      case Some(cap) =>
        s""",
           |hot AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) > $cap),
           |inv AS (SELECT * FROM inv0 WHERE s NOT IN (SELECT s FROM hot))""".stripMargin
      case None => ",\ninv AS (SELECT * FROM inv0)"
    }
    s"""WITH docs AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks)-${n - 1},1)+1),
       |         i -> array_to_string(list_slice(toks, i, i+${n - 1}), ' '))) AS sh
       |  FROM (SELECT doc_id, $toksSql AS toks FROM $corpus)
       |),
       |inv0 AS (SELECT doc_id, unnest(sh) AS s FROM docs)$invFilter,
       |co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |       FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS sz FROM docs)
       |SELECT id_a, id_b,
       |       round($formula, 6) AS $metric
       |FROM co JOIN sz sa ON co.id_a = sa.doc_id JOIN sz sb ON co.id_b = sb.doc_id
       |WHERE $formula >= $threshold""".stripMargin
  }

  /** DuckDB oracle for langId, generated from the same stopword constants
    * so the two implementations cannot drift. */
  private def langIdOracle: String = {
    val langs = Seq("en", "es", "de", "fr", "zh")
    val scoreCols = langs.map(l =>
      s"len(list_filter(toks, x -> x IN ${inList(l)})) AS s_$l").mkString(", ")
    val whens = langs.map(l =>
      s"WHEN gm > 0 AND s_$l = gm THEN '$l'").mkString(" ")
    s"""SELECT doc_id, CASE $whens ELSE 'und' END AS lang_pred
       |FROM (SELECT doc_id, s_en, s_es, s_de, s_fr, s_zh,
       |        greatest(s_en, s_es, s_de, s_fr, s_zh) AS gm
       |      FROM (SELECT doc_id, $scoreCols
       |            FROM (SELECT doc_id, $toksSql AS toks FROM documents)))""".stripMargin
  }

  /** DuckDB mirror of `phashCorpus` (two 31-bit halves + hamming-2 twin). */
  private def phashCorpusSql: String =
    "SELECT doc_id AS id, (doc_id * 2654435761 % 2147483647) * 4294967296 " +
      "+ (doc_id * 40503 % 2147483647) AS fp FROM documents " +
      "UNION ALL " +
      "SELECT doc_id + 1000000, xor((doc_id * 2654435761 % 2147483647) * 4294967296 " +
      "+ (doc_id * 40503 % 2147483647), 5) FROM documents"

  /** DuckDB mirror of `sftTurns` — the SFT gates' conversation re-keying
    * of documents (integer div/mod, parity roles). */
  private def sftTurnsSql: String =
    "SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn, " +
      "CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role, " +
      "text AS content FROM documents"

  /** DuckDB oracle for qualityScore — identical expression shape so every
    * FP operation matches bit-for-bit (per-row scalar math only). */
  private def qualityOracle: String =
    s"""SELECT doc_id, round(
       |  least(nt / 100.0, 1.0) * 0.25 +
       |  (CASE WHEN nt > 0 THEN nd / nt ELSE 0.0 END) * 0.25 +
       |  (CASE WHEN nt > 0 THEN least(stop * 5.0 / nt, 1.0) ELSE 0.0 END) * 0.25 +
       |  (CASE WHEN nchars > 0 THEN alnum / nchars ELSE 0.0 END) * 0.25, 6) AS quality
       |FROM (SELECT doc_id,
       |        CAST(len(toks) AS DOUBLE) AS nt,
       |        CAST(len(list_distinct(toks)) AS DOUBLE) AS nd,
       |        CAST(len(list_filter(toks, x -> x IN ${inList("en")})) AS DOUBLE) AS stop,
       |        CAST(length(text) AS DOUBLE) AS nchars,
       |        CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE) AS alnum
       |      FROM (SELECT doc_id, text, $toksSql AS toks FROM documents))""".stripMargin

  /** Spark-dialect SQL for the CUSTOM→quality-natives gate (runs ONLY in
    * Spark — quality_metrics is a graft extension; the oracle is the
    * shared Gopher metric CTE). Struct field access keeps it one native
    * evaluation via subexpression elimination. */
  private val sqlQuality: String =
    "SELECT doc_id, CAST(quality_metrics(text).n_words AS BIGINT) AS n_words, " +
      "quality_metrics(text).mean_word_len AS mean_word_len, " +
      "quality_metrics(text).dup_line_frac AS dup_line_frac " +
      "FROM documents ORDER BY doc_id"

  /** The Gopher keep-decision in SQL over the metric columns — shared by
    * the battery gate and the composed-pipeline gate. */
  private val gopherKeepCond: String = {
    import graft.functions.{NativeQuality => NQ}
    s"""n_words >= 50 AND n_words <= 100000
       |  AND mean_word_len >= ${NQ.MeanWordLenMin} AND mean_word_len <= ${NQ.MeanWordLenMax}
       |  AND symbol_ratio < ${NQ.SymbolRatioMax} AND bullet_frac < ${NQ.BulletFracMax}
       |  AND ellipsis_frac < ${NQ.EllipsisFracMax} AND alpha_frac >= ${NQ.AlphaFracMin}
       |  AND n_stopwords >= ${NQ.StopwordsMin} AND dup_line_frac < ${NQ.DupLineFracMax}""".stripMargin
  }

  /** DuckDB oracle for the Gopher quality battery — identical expression
    * shapes (exact integer counts, fixed-shape double division, round 6)
    * so every metric hash-matches bit-for-bit. `corpus` must provide
    * (doc_id, text). */
  private def gopherCtes(corpus: String): String = {
    val stopList = graft.operators.QualityFilter.gopherStopwords
      .map(w => s"'$w'").mkString("(", ", ", ")")
    s"""base AS (
       |  SELECT doc_id, text,
       |    list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+'), w -> length(w) > 0) AS ws,
       |    list_filter(regexp_split_to_array(text, '\\n'), l -> length(trim(l)) > 0) AS ls,
       |    list_filter(regexp_split_to_array(trim(text), '\\n'), s -> length(trim(s)) > 0) AS segs
       |  FROM $corpus),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    round(CASE WHEN len(ws) > 0
       |      THEN CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / CAST(len(ws) AS DOUBLE)
       |      ELSE 0.0 END, 6) AS mean_word_len,
       |    round(CASE WHEN len(ws) > 0
       |      THEN CAST(length(text) - length(translate(text, '#', ''))
       |           + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE)
       |           / CAST(len(ws) AS DOUBLE)
       |      ELSE 0.0 END, 6) AS symbol_ratio,
       |    round(CASE WHEN len(ls) > 0
       |      THEN CAST(len(list_filter(ls, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE)
       |           / CAST(len(ls) AS DOUBLE)
       |      ELSE 0.0 END, 6) AS bullet_frac,
       |    round(CASE WHEN len(ls) > 0
       |      THEN CAST(len(list_filter(ls, l -> ends_with(rtrim(l), '...'))) AS DOUBLE)
       |           / CAST(len(ls) AS DOUBLE)
       |      ELSE 0.0 END, 6) AS ellipsis_frac,
       |    round(CASE WHEN len(ws) > 0
       |      THEN CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
       |           / CAST(len(ws) AS DOUBLE)
       |      ELSE 0.0 END, 6) AS alpha_frac,
       |    CAST(len(list_filter(list_transform(ws, w -> lower(w)), x -> x IN $stopList)) AS BIGINT) AS n_stopwords,
       |    round(CASE WHEN len(segs) > 0
       |      THEN CAST(len(segs) - len(list_distinct(segs)) AS DOUBLE) / len(segs)
       |      ELSE 0.0 END, 6) AS dup_line_frac
       |  FROM base)""".stripMargin
  }

  private def gopherOracle: String =
    s"""WITH ${gopherCtes("documents")}
       |SELECT *, CAST(CASE WHEN $gopherKeepCond
       |  THEN 1 ELSE 0 END AS INTEGER) AS keep
       |FROM m ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for the composed curation pipeline: clean → Gopher
    * keep → exact dedup (min doc_id per text) → content-hash split —
    * the same operator chain the Spark gate runs, end-to-end. */
  private def curateOracle: String = {
    val cleanedExpr =
      "CASE WHEN lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) " +
        "IN ('', 'null', 'n/a', 'na', 'none', '-') THEN NULL " +
        "ELSE trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) END"
    val cleaned = "(SELECT doc_id, text FROM (SELECT doc_id, " +
      s"$cleanedExpr AS text FROM documents) WHERE text IS NOT NULL)"
    s"""WITH ${gopherCtes(cleaned)},
       |kept AS (
       |  SELECT b.doc_id, b.text FROM m JOIN base b ON m.doc_id = b.doc_id
       |  WHERE $gopherKeepCond)
       |SELECT doc_id, CASE WHEN substring(md5(text), 1, 8) < '${
        graft.operators.Split.thresholdHex(0.8)}' THEN 'train' ELSE 'test' END AS split
       |FROM kept
       |WHERE doc_id IN (SELECT min(doc_id) FROM kept GROUP BY text)
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB oracle for PII detect+redact, generated from the Pii pattern
    * constants (RE2/Java-portable by construction). */
  private def piiOracle: String = {
    import graft.operators.Pii._
    val inject = "text || ' reach user' || CAST(doc_id AS VARCHAR) || " +
      "'@example.com or 10.' || CAST(doc_id % 200 AS VARCHAR) || " +
      "'.0.1 ssn 123-45-6789 tel 555-123-4567'"
    val redacted = Seq(emailPattern -> "[EMAIL]", ssnPattern -> "[SSN]",
      phonePattern -> "[PHONE]", ipv4Pattern -> "[IP]")
      .foldLeft("text") { case (acc, (pat, tag)) =>
        s"regexp_replace($acc, '$pat', '$tag', 'g')"
      }
    s"""WITH injected AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 <> 0 THEN $inject ELSE text END AS text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$emailPattern')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(text, '$ssnPattern')) AS BIGINT) AS n_ssn,
       |  CAST(len(regexp_extract_all(text, '$phonePattern')) AS BIGINT) AS n_phone,
       |  CAST(len(regexp_extract_all(text, '$ipv4Pattern')) AS BIGINT) AS n_ip,
       |  CAST(CASE WHEN len(regexp_extract_all(text, '$emailPattern')) > 0
       |    OR len(regexp_extract_all(text, '$ssnPattern')) > 0
       |    OR len(regexp_extract_all(text, '$phonePattern')) > 0
       |    OR len(regexp_extract_all(text, '$ipv4Pattern')) > 0
       |    THEN 1 ELSE 0 END AS INTEGER) AS has_pii,
       |  $redacted AS redacted
       |FROM injected ORDER BY doc_id""".stripMargin
  }

  /** Twin annotations for the gates that legitimately have NO SQL
    * oracle (xxhash64-based signatures, zlib byte counts, float ANN
    * distances, binary decode): each maps to the hash-green gate that
    * certifies the same code path through a closed-form construction
    * (exact-twin corpus, threshold-1.0 signatures, deterministic fake
    * codec). Dumped by [[Verify]] as `twins.json` so the board can count
    * a `no_oracle` row as covered-by-twin instead of an unexplained err. */
  def twins: Map[String, String] = Map(
    "q_ann_ivf" -> "q_ann_ivf_twin",
    "q_ann_lsh" -> "q_ann_lsh_twin",
    "q_dedup_minhash" -> "q_dedup_minhash_exact",
    "q_dedup_simhash" -> "q_dedup_simhash_twins",
    "q_dedup_winnow" -> "q_dedup_winnow_twins",
    "q_eval_rouge_l" -> "q_eval_rouge_l_twin",
    "q_multimodal_decode" -> "q_multimodal_decode_real",
    "q_quality_compress" -> "q_quality_compress_twins",
    "q_text_fingerprint" -> "q_text_fingerprint_twins",
    "q_text_ncd" -> "q_text_ncd_twins",
    "q_text_winnow" -> "q_text_winnow_twins")

  /** DuckDB oracle for the stratified sample, generated from the same
    * fraction constants (thresholds via Split.thresholdHex). */
  private def sampleOracle: String = {
    val cases = sampleFractions.map { case (l, f) =>
      s"WHEN lang = '$l' THEN '${graft.operators.Split.thresholdHex(f)}'"
    }.mkString(" ")
    s"SELECT doc_id, lang FROM documents WHERE substring(md5(text), 1, 8) < " +
      s"CASE $cases ELSE '${graft.operators.Split.thresholdHex(0.1)}' END " +
      "ORDER BY doc_id"
  }

  def oracleSql: Map[String, String] = Map(
    "q_filter_gt" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem WHERE l_quantity > 30",
    "q_filter_andor" ->
      ("SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity, l_discount " +
        "FROM lineitem WHERE l_returnflag = 'A' AND l_quantity > 30 " +
        "OR l_linestatus = 'F' AND l_discount < 0.05"),
    "q_filter_in" ->
      "SELECT * FROM nation WHERE n_regionkey IN (1, 2)",
    "q_filter_notin" ->
      "SELECT * FROM supplier WHERE s_nationkey NOT IN (0, 1, 2, 3)",
    "q_filter_like" ->
      "SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%a%'",
    "q_filter_date" ->
      "SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem WHERE l_shipdate > '1996-01-01'",
    "q_filter_range" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem " +
        "WHERE l_quantity >= 10 AND l_quantity <= 20 AND l_returnflag != 'N'"),
    "q_filter_coerce" ->
      ("SELECT event_id, user_id, value FROM events " +
        "WHERE value > ' 42 ' AND value < 'Infinity' " +
        "OR user_id = '13.5' AND value >= '.5'"),
    "q_filter_coerce_special" ->
      ("SELECT event_id, user_id, value FROM events " +
        "WHERE value > '1e2' AND value != 'NaN' " +
        "OR value >= '+4' AND value <= '5.'"),
    "q_union3" ->
      ("SELECT n_regionkey AS k FROM nation UNION " +
        "SELECT c_nationkey AS k FROM customer UNION " +
        "SELECT s_nationkey AS k FROM supplier"),
    "q_join_inner" ->
      ("SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment " +
        "FROM orders JOIN customer ON o_custkey = c_custkey"),
    "q_join_left" ->
      ("SELECT c_custkey, c_name, o_orderkey, o_totalprice " +
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey"),
    "q_join_right" ->
      ("SELECT o_orderkey, o_totalprice, c_custkey, c_name " +
        "FROM orders RIGHT JOIN customer ON o_custkey = c_custkey"),
    "q_join_full" ->
      ("SELECT c_custkey, c_name, o_orderkey, o_totalprice " +
        "FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey"),
    "q_join_samekey_full" ->
      ("SELECT l.custkey AS custkey, l.o_orderkey, l.o_totalprice, r.c_name " +
        "FROM (SELECT o_custkey AS custkey, o_orderkey, o_totalprice FROM orders) l " +
        "FULL OUTER JOIN (SELECT c_custkey AS custkey, c_name FROM customer) r " +
        "ON l.custkey = r.custkey"),
    "q_union" ->
      ("SELECT c_mktsegment, c_nationkey FROM customer " +
        "UNION SELECT c_mktsegment, c_nationkey FROM customer"),
    "q_union_all" ->
      ("SELECT c_mktsegment, c_nationkey FROM customer " +
        "UNION ALL SELECT c_mktsegment, c_nationkey FROM customer"),
    "q_group" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, " +
        "min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price, " +
        "count(*) AS count_order " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag, l_linestatus"),
    "q_aggregate" ->
      ("SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue, " +
        "count(*) AS n_orders, min(o_totalprice) AS min_price, " +
        "max(o_totalprice) AS max_price FROM orders"),
    "q_select" ->
      ("SELECT p_partkey, p_name, upper(p_brand) AS brand_uc, " +
        "p_retailprice * 1.1 AS inflated FROM part"),
    "q_sort" ->
      "SELECT * FROM part ORDER BY p_size DESC, p_retailprice ASC, p_partkey ASC",
    "q_load_csv" ->
      s"SELECT * FROM read_csv_auto('$csvFixture', header=true)",
    "q_load_csv_fallback" ->
      s"SELECT * FROM read_csv_auto('$csvFixture', header=true, all_varchar=true)",
    "q_load_csv_quoted" ->
      s"SELECT * FROM read_csv_auto('$quotedFixture', header=true)",
    "q_load_jsonl" ->
      (s"SELECT id, title, score, flag, lang, CAST(created AS DATE) AS created " +
        s"FROM read_json_auto('$jsonlFixture')"),
    "q_load_jsonl_nested" ->
      (s"SELECT id, meta.source AS meta_source, meta.tokens AS meta_tokens, " +
        s"array_to_string(tags, ',') AS tags_csv " +
        s"FROM read_json_auto('$jsonlFixture')"),
    "q_export_jsonl" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "q_export_orc" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "q_export_wap" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "q_export_partitioned" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin,
    "q_load_parquet_merge" ->
      """SELECT doc_id, text, lang,
        |  CASE WHEN doc_id % 2 = 1 THEN source END AS source,
        |  CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
        |FROM documents""".stripMargin,
    "q_load_image_payload" ->
      ("SELECT * FROM (VALUES " +
        "(1, 9.99, DATE '2024-01-05', 'widget'), " +
        "(2, NULL, DATE '2024-02-10', 'gadget'), " +
        "(NULL, 1.5, NULL, 'gizmo')) " +
        "AS t(product_id, price, sold_on, label)"),
    "q_custom" -> sqlCustom,
    "q_custom_events" -> sqlEvents,
    "q_custom_exclude" -> sqlExclude,
    "q_custom_window" -> sqlWindow,
    "q_pipeline" ->
      ("SELECT c_mktsegment, count(*) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE o_totalprice > 1000 GROUP BY c_mktsegment " +
        "ORDER BY n_orders DESC, c_mktsegment ASC"),
    // Fuzz-promoted chains, rendered per the reference's per-stage SQL
    // (each CTE = one stage's materialized result table).
    "q_pipeline_fuzz1" ->
      """WITH s1 AS (SELECT l.*, r.* FROM orders l LEFT JOIN customer r
        |    ON l.o_custkey = r.c_custkey),
        |s2 AS (SELECT * FROM s1
        |    WHERE o_totalprice > 50000 OR c_mktsegment = 'BUILDING'),
        |s3 AS (SELECT c_mktsegment, o_orderstatus,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS f1_sum_dec,
        |    count(*) AS f1_n
        |  FROM s2 GROUP BY c_mktsegment, o_orderstatus),
        |s4 AS (SELECT c_mktsegment, o_orderstatus,
        |    CAST(f1_sum_dec AS DOUBLE) AS f1_sum, f1_n FROM s3)
        |SELECT * FROM s4
        |ORDER BY c_mktsegment NULLS LAST, o_orderstatus NULLS LAST""".stripMargin,
    "q_pipeline_fuzz2" ->
      """WITH s1 AS (SELECT * FROM customer UNION SELECT * FROM customer),
        |s2 AS (SELECT * FROM s1 WHERE c_acctbal >= 0
        |    AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE'))
        |SELECT c_custkey, c_mktsegment, c_acctbal FROM s2
        |ORDER BY c_custkey NULLS LAST""".stripMargin,
    "q_pipeline_fuzz3" ->
      """WITH s1 AS (SELECT l.*, r.* FROM customer l INNER JOIN nation r
        |    ON l.c_nationkey = r.n_nationkey),
        |s2 AS (SELECT * FROM s1 WHERE n_name LIKE 'A%' OR c_acctbal < 1000),
        |s3 AS (SELECT count(*) AS f3_n, min(c_custkey) AS f3_min,
        |    max(n_name) AS f3_maxname,
        |    sum(CAST(c_acctbal AS DECIMAL(18,2))) AS f3_bal_dec FROM s2)
        |SELECT f3_n, f3_min, f3_maxname,
        |  CAST(f3_bal_dec AS DOUBLE) AS f3_bal FROM s3""".stripMargin,
    "q_dedup_exact" ->
      ("SELECT * FROM documents WHERE doc_id IN " +
        "(SELECT min(doc_id) FROM documents GROUP BY text)"),
    "q_dedup_groups" ->
      ("SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, " +
        "count(*) AS dup_count FROM documents GROUP BY md5(text) ORDER BY content_hash"),
    "q_text_tokens" ->
      s"SELECT doc_id, len($toksSql) AS n_tokens FROM documents",
    // (DuckDB strings aren't backslash-escaped: only quotes double.)
    "q_text_bpe" ->
      ("SELECT doc_id, len(regexp_extract_all(text, " +
        s"'${TF.bpePattern.replace("'", "''")}')) AS n_bpe FROM documents"),
    "q_text_langid" -> langIdOracle,
    "q_text_quality" -> qualityOracle,
    "q_fuzzy_pairs" ->
      """SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
        |  CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS dist
        |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    "q_fuzzy_lookup" ->
      """SELECT p.s_suppkey AS probe_id, r.s_suppkey AS ref_id,
        |  CAST(levenshtein(replace(p.s_name, 'Supplier#', 'Suplier#'), r.s_name)
        |       AS INTEGER) AS dist
        |FROM supplier p JOIN supplier r
        |  ON levenshtein(replace(p.s_name, 'Supplier#', 'Suplier#'), r.s_name) <= 1
        |ORDER BY probe_id, ref_id""".stripMargin,
    "q_dedup_ngram" -> ngramJaccardOracle(n = 3, threshold = 0.5),
    // Sweep over the same pair query at cutoff 0.25: both engines
    // compare the ROUNDED score against each threshold, so the curve is
    // reproducible from the persisted pair table.
    "q_dedup_sweep" ->
      s"""WITH pairsq AS (${ngramPairsSql(n = 2, threshold = 0.1,
             corpus = "(SELECT * FROM documents WHERE doc_id < 600)")}),
        |t AS (SELECT unnest([CAST(0.1 AS DOUBLE), 0.12, 0.15, 0.5]) AS threshold),
        |j AS (SELECT t.threshold, p.id_a, p.id_b
        |      FROM t JOIN pairsq p ON p.jaccard >= t.threshold),
        |np AS (SELECT threshold, count(*) AS n_pairs FROM j GROUP BY 1),
        |nd AS (SELECT threshold, count(*) AS n_docs FROM (
        |  SELECT DISTINCT threshold, id FROM (
        |    SELECT threshold, unnest([id_a, id_b]) AS id FROM j)) GROUP BY 1)
        |SELECT t.threshold, CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
        |       CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
        |FROM t LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)
        |ORDER BY threshold""".stripMargin,
    // Mirrors Dedup.substringDupSpans: sliding 30-char windows, matches
    // grouped into diagonal islands (pos_a - pos_b constant, consecutive
    // pos_a), longest island -> longest shared run. DuckDB joins on the
    // window text directly; Spark keys the join on xxhash64 with a
    // residual text-equality filter — same match set by construction.
    "q_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS value FROM documents)
        |SELECT value, count(*) AS n FROM t GROUP BY value
        |HAVING count(*) * 40 > (SELECT count(*) FROM t)
        |ORDER BY value""".stripMargin,
    "q_dedup_substring" ->
      """WITH p AS (
        |  SELECT doc_id AS id, text,
        |         unnest(range(1, greatest(length(text) - 28, 1))) AS pos
        |  FROM documents WHERE length(text) >= 30),
        |s AS (SELECT id, pos, substr(text, pos, 30) AS sub FROM p),
        |sh AS (SELECT a.id AS id_a, b.id AS id_b, a.pos AS pos_a, b.pos AS pos_b
        |       FROM s a JOIN s b ON a.sub = b.sub AND a.id < b.id),
        |isl AS (SELECT id_a, id_b, pos_a,
        |          pos_a - row_number() OVER (
        |            PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS grp,
        |          pos_a - pos_b AS diag
        |        FROM sh),
        |runs AS (SELECT id_a, id_b, count(*) AS rw
        |         FROM isl GROUP BY id_a, id_b, diag, grp)
        |SELECT id_a, id_b, CAST(sum(rw) AS BIGINT) AS shared_windows,
        |       CAST(29 + max(rw) AS BIGINT) AS max_run_chars
        |FROM runs GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_substring_remove" ->
      """WITH w AS (
        |  SELECT doc_id AS id, unnest(range(1, length(text) - 28)) AS pos, text
        |  FROM documents WHERE length(text) >= 30),
        |w2 AS (SELECT id, pos, substring(text, pos, 30) AS sub FROM w),
        |d AS (SELECT id, pos,
        |        count(*) OVER (PARTITION BY sub) AS cnt,
        |        row_number() OVER (PARTITION BY sub ORDER BY id, pos) AS rn
        |      FROM w2),
        |del AS (SELECT id, pos FROM d WHERE cnt >= 2 AND rn > 1),
        |m AS (SELECT id, pos,
        |        max(pos + 30) OVER (PARTITION BY id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        |      FROM del),
        |m2 AS (SELECT id, pos,
        |         CASE WHEN pe IS NULL OR pos > pe THEN 1 ELSE 0 END AS brk
        |       FROM m),
        |m3 AS (SELECT id, pos,
        |         sum(brk) OVER (PARTITION BY id ORDER BY pos) AS g FROM m2),
        |isl AS (SELECT id, g, min(pos) AS s, max(pos) + 30 AS e
        |        FROM m3 GROUP BY id, g),
        |segs AS (
        |  SELECT id, coalesce(lag(e) OVER (PARTITION BY id ORDER BY s), 1)
        |           AS ss, s AS se
        |  FROM isl
        |  UNION ALL
        |  SELECT id, max(e) AS ss, NULL AS se FROM isl GROUP BY id),
        |rec AS (
        |  SELECT d0.doc_id,
        |    string_agg(CASE WHEN seg.se IS NULL
        |        THEN substring(d0.text, CAST(seg.ss AS INT),
        |               length(d0.text) - CAST(seg.ss AS INT) + 1)
        |        ELSE substring(d0.text, CAST(seg.ss AS INT),
        |               CAST(seg.se - seg.ss AS INT)) END,
        |      '' ORDER BY seg.ss) AS text_clean
        |  FROM documents d0 JOIN segs seg ON d0.doc_id = seg.id
        |  GROUP BY d0.doc_id)
        |SELECT d0.doc_id,
        |  coalesce(r.text_clean, d0.text) AS text_clean,
        |  CAST(length(d0.text) - length(coalesce(r.text_clean, d0.text))
        |    AS BIGINT) AS removed_chars
        |FROM documents d0 LEFT JOIN rec r ON d0.doc_id = r.doc_id
        |ORDER BY d0.doc_id""".stripMargin,
    "q_dedup_ngram_capped" ->
      ngramJaccardOracle(n = 3, threshold = 0.5, maxShingleFreq = Some(5)),
    "q_expect" ->
      """WITH v AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v0,
        |    sum(CASE WHEN l_quantity IS NOT NULL
        |             AND (l_quantity < 1 OR l_quantity > 50)
        |        THEN 1 ELSE 0 END) AS v1,
        |    sum(CASE WHEN l_returnflag IS NOT NULL
        |             AND l_returnflag NOT IN ('A','N','R')
        |        THEN 1 ELSE 0 END) AS v2,
        |    sum(CASE WHEN l_linestatus IS NOT NULL
        |             AND NOT regexp_matches(l_linestatus, '^[OF]$')
        |        THEN 1 ELSE 0 END) AS v3
        |  FROM lineitem),
        |u AS (SELECT sum(c) AS n, sum(c) - count(*) AS v
        |      FROM (SELECT count(*) AS c FROM lineitem
        |            GROUP BY l_orderkey, l_linenumber)),
        |f AS (SELECT (SELECT count(*) FROM lineitem) AS n,
        |        (SELECT count(*) FROM lineitem
        |         WHERE l_orderkey IS NOT NULL
        |           AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |          AS v)
        |SELECT * FROM (
        |  SELECT 'not_null(l_orderkey)' AS rule, CAST(n AS BIGINT) AS n_rows,
        |         CAST(v0 AS BIGINT) AS n_violations, v0 = 0 AS pass FROM v
        |  UNION ALL SELECT 'in_range(l_quantity,1.0,50.0)', CAST(n AS BIGINT),
        |         CAST(v1 AS BIGINT), v1 = 0 FROM v
        |  UNION ALL SELECT 'one_of(l_returnflag)', CAST(n AS BIGINT),
        |         CAST(v2 AS BIGINT), v2 = 0 FROM v
        |  UNION ALL SELECT 'matches(l_linestatus)', CAST(n AS BIGINT),
        |         CAST(v3 AS BIGINT), v3 = 0 FROM v
        |  UNION ALL SELECT 'unique(l_orderkey,l_linenumber)',
        |         CAST(n AS BIGINT), CAST(v AS BIGINT), v = 0 FROM u
        |  UNION ALL SELECT 'fk(l_orderkey->o_orderkey)', CAST(n AS BIGINT),
        |         CAST(v AS BIGINT), v = 0 FROM f)
        |ORDER BY rule""".stripMargin,
    "q_expect_quarantine" ->
      """WITH q AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_filter([
        |      CASE WHEN lang IS NOT NULL AND lang NOT IN ('en','fr','de')
        |           THEN 'one_of(lang)' END,
        |      CASE WHEN n_chars IS NOT NULL AND (n_chars < 1 OR n_chars > 400)
        |           THEN 'in_range(n_chars,1.0,400.0)' END,
        |      CASE WHEN text IS NULL THEN 'not_null(text)' END],
        |      x -> x IS NOT NULL) AS v
        |  FROM documents)
        |SELECT doc_id, lang, n_chars,
        |       coalesce(array_to_string(v, ','), '') AS violations,
        |       len(v) = 0 AS clean
        |FROM q ORDER BY doc_id""".stripMargin,
    "q_dedup_eval" ->
      s"""WITH ap AS (${ngramJaccardOracle(n = 3, threshold = 0.5,
             maxShingleFreq = Some(5))}),
         |ex AS (${ngramJaccardOracle(n = 3, threshold = 0.5)}),
         |j AS (SELECT a.id_a AS aa, e.id_a AS ea
         |      FROM ap a FULL OUTER JOIN ex e
         |        ON a.id_a = e.id_a AND a.id_b = e.id_b),
         |c AS (SELECT
         |  CAST(count(aa) AS BIGINT) AS n_approx,
         |  CAST(count(ea) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN aa IS NOT NULL AND ea IS NOT NULL
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_common
         |  FROM j)
         |SELECT n_approx, n_exact, n_common,
         |  round(CASE WHEN n_approx > 0 THEN
         |    CAST(n_common AS DOUBLE) / CAST(n_approx AS DOUBLE) END, 6)
         |    AS "precision",
         |  round(CASE WHEN n_exact > 0 THEN
         |    CAST(n_common AS DOUBLE) / CAST(n_exact AS DOUBLE) END, 6)
         |    AS recall,
         |  round(CASE WHEN n_approx + n_exact > 0 THEN
         |    2.0 * CAST(n_common AS DOUBLE) /
         |    CAST(n_approx + n_exact AS DOUBLE) END, 6) AS f1
         |FROM c""".stripMargin,
    "q_dedup_simhash_twins" ->
      ("SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, " +
        "CAST(0 AS INTEGER) AS hamming FROM documents ORDER BY id_a"),
    "q_dedup_minhash_exact" ->
      ngramJaccardOracle(n = 3, threshold = 1.0, corpus =
        "(SELECT doc_id, text FROM documents UNION ALL " +
          "SELECT doc_id + 1000000 AS doc_id, text FROM documents)"),
    "q_multimodal_meta" ->
      ("SELECT doc_id, 'application/octet-stream' AS mime, " +
        "octet_length(encode(text)) AS n_bytes FROM documents"),
    "q_clean_text" ->
      ("SELECT doc_id, CASE WHEN lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) " +
        "IN ('', 'null', 'n/a', 'na', 'none', '-') THEN NULL " +
        "ELSE trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) END AS text FROM documents"),
    "q_profile" -> (Seq("n_nationkey", "n_name", "n_regionkey").map { c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |count(*) - count($c) AS n_nulls,
         |count(DISTINCT $c) AS n_distinct,
         |CAST(min($c) AS VARCHAR) AS min_value,
         |CAST(max($c) AS VARCHAR) AS max_value FROM nation""".stripMargin
    }.mkString(" UNION ALL ") + " ORDER BY \"column\""),
    // Default window frames on both sides (RANGE to current row incl.
    // peers) — tie rows get identical running sums in both engines.
    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
        |              > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |numbered AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, min(ts) AS session_start,
        |       max(ts) AS session_end, count(*) AS n_events
        |FROM numbered GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q_session_stats" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
        |              > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |numbered AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_id
        |  FROM flagged),
        |sessions AS (
        |  SELECT user_id, session_id,
        |         epoch_us(CAST(max(ts) AS TIMESTAMP)) -
        |         epoch_us(CAST(min(ts) AS TIMESTAMP)) AS dur_us
        |  FROM numbered GROUP BY user_id, session_id),
        |durs AS (SELECT 'all' AS g, dur_us FROM sessions),
        |ranked AS (
        |  SELECT g, dur_us,
        |    row_number() OVER (PARTITION BY g ORDER BY dur_us ASC) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM durs)
        |SELECT g, CAST(p AS DOUBLE) AS p, dur_us AS value
        |FROM ranked CROSS JOIN (VALUES (0.5), (0.9), (0.99)) AS ps(p)
        |WHERE rn = CAST(ceil(p * n) AS BIGINT)
        |ORDER BY p""".stripMargin,
    "q_dedup_components" ->
      ("WITH all_docs AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents) " +
        "SELECT doc_id AS id, min(doc_id) OVER (PARTITION BY text) AS comp " +
        "FROM all_docs ORDER BY id"),
    "q_dedup_components_star" ->
      ("WITH all_docs AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents) " +
        "SELECT doc_id AS id, min(doc_id) OVER (PARTITION BY text) AS comp " +
        "FROM all_docs ORDER BY id"),
    "q_dedup_components_chain" ->
      ("SELECT doc_id AS id, (SELECT min(doc_id) FROM documents) AS comp " +
        "FROM documents ORDER BY id"),
    "q_split" ->
      ("SELECT doc_id, CASE WHEN substring(md5(text), 1, 8) < '" +
        graft.operators.Split.thresholdHex(0.8) +
        "' THEN 'train' ELSE 'test' END AS split FROM documents"),
    "q_drift_detail" ->
      s"""WITH $driftCtes
         |SELECT value, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |       round(p_a, 6) AS p_a, round(p_b, 6) AS p_b
         |FROM p ORDER BY value NULLS LAST""".stripMargin,
    "q_drift_js" ->
      s"""WITH $driftCtes
         |$driftJsSelect""".stripMargin,
    // Same scaffold, PSI tail: 9-dp-rounded proportions floored at 1e-4
    // before the (p_a−p_b)·ln(p_a/p_b) term — mirrors Drift.psi.
    "q_drift_psi" ->
      s"""WITH ${driftScaffold(
            "SELECT lang AS v FROM documents WHERE source = 'src0'",
            "SELECT lang AS v FROM documents WHERE source != 'src0'")}
         |SELECT CAST(count(*) AS BIGINT) AS n_values,
         |  round(CAST(sum(CAST(round(
         |    (greatest(round(p_a, 9), 0.0001) - greatest(round(p_b, 9), 0.0001)) *
         |    ln(greatest(round(p_a, 9), 0.0001) / greatest(round(p_b, 9), 0.0001)),
         |    9) AS DECIMAL(20,9))) AS DOUBLE), 6) AS psi
         |FROM p""".stripMargin,
    // Lag-collapse then lead-close — the two-window SCD2 build. The
    // window ORDER BY carries the operator's attribute-digest tie-break
    // (md5 of the null-sentineled attr), so the gate stays exact even
    // if testdata ever gains duplicate (user_id, ts) change rows.
    "q_snapshot_scd2" ->
      """WITH d AS (SELECT user_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, md5(coalesce(CAST(event_type AS VARCHAR),
        |                               chr(0) || '.'))) AS pe
        |  FROM events),
        |k AS (SELECT user_id, ts, event_type FROM d
        |      WHERE pe IS NULL OR pe != event_type),
        |f AS (SELECT user_id, event_type, ts AS valid_from,
        |        lead(ts) OVER (PARTITION BY user_id
        |          ORDER BY ts, md5(coalesce(CAST(event_type AS VARCHAR),
        |                                   chr(0) || '.'))) AS valid_to
        |      FROM k)
        |SELECT user_id, event_type, valid_from, valid_to,
        |       valid_to IS NULL AS is_current
        |FROM f ORDER BY user_id, valid_from""".stripMargin,
    "q_drift_embedding" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |ex AS (SELECT vec_id, label, unnest(v) AS x,
         |              unnest(range(1, len(v) + 1)) AS pos FROM e),
         |cent AS (
         |  SELECT label, pos,
         |    CAST(sum(CAST(round(x, 9) AS DECIMAL(27,9))) AS DOUBLE) / count(*) AS c
         |  FROM ex GROUP BY 1, 2),
         |cl AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1),
         |scored AS (
         |  SELECT e.vec_id,
         |         round(list_cosine_similarity(e.v, cl.cv), 6) AS cosine
         |  FROM e JOIN cl USING (label)),
         |${driftScaffold(
            "SELECT CAST(least(greatest(floor((CAST(cosine AS DOUBLE) - (-1.0)) / 0.1), 0), 19) AS BIGINT) AS v " +
              "FROM scored WHERE cosine IS NOT NULL",
            "SELECT CAST(least(greatest(floor((CAST(cosine AS DOUBLE) - (-1.0)) / 0.1), 0), 19) AS BIGINT) AS v " +
              "FROM scored WHERE cosine IS NOT NULL AND vec_id % 2 = 0")}
         |$driftJsSelect""".stripMargin,
    "q_drift_numeric" ->
      s"""WITH ${driftScaffold(
          "SELECT CAST(least(greatest(floor((CAST(n_chars AS DOUBLE) - 0.0) / 100.0), 0), 19) AS BIGINT) AS v " +
            "FROM documents WHERE n_chars IS NOT NULL",
          "SELECT CAST(least(greatest(floor((CAST(n_chars AS DOUBLE) - 0.0) / 100.0), 0), 19) AS BIGINT) AS v " +
            "FROM documents WHERE n_chars IS NOT NULL AND n_chars < 800")}
         |$driftJsSelect""".stripMargin,
    "q_clean_newlines" ->
      """WITH d2 AS (
        |  SELECT doc_id,
        |    substr(coalesce(text, ''), 1, 40) || chr(13) || chr(10) ||
        |    'mid ' || chr(9) || chr(10) ||
        |    substr(coalesce(text, ''), 41) || chr(13) ||
        |    chr(10) || chr(10) || chr(10) || chr(10) || 'end' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '\r\n?', chr(10), 'g'),
        |    '[ \t]+\n', chr(10), 'g'),
        |    '\n{3,}', chr(10) || chr(10), 'g') AS text
        |FROM d2 ORDER BY doc_id""".stripMargin,
    "q_shuffle" ->
      """SELECT CAST(row_number() OVER (
        |  ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
        |  AS BIGINT) AS pos, doc_id
        |FROM documents ORDER BY pos""".stripMargin,
    "q_clip_winsorize" ->
      """WITH cnt AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value ASC) AS rn,
        |    count(value) OVER (PARTITION BY user_id) AS n
        |  FROM events WHERE value IS NOT NULL),
        |b AS (
        |  SELECT user_id,
        |    min(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT) THEN value END) AS lo,
        |    max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN value END) AS hi
        |  FROM cnt GROUP BY user_id)
        |SELECT e.event_id,
        |  CASE WHEN e.value IS NULL THEN NULL
        |       ELSE least(greatest(e.value, b.lo), b.hi) END AS value_clipped,
        |  coalesce(e.value < b.lo OR e.value > b.hi, FALSE) AS was_clipped
        |FROM events e LEFT JOIN b USING (user_id)""".stripMargin,
    "q_sample_rate_limit" ->
      """SELECT event_id, user_id, value FROM (
        |  SELECT event_id, user_id, value,
        |    row_number() OVER (
        |      PARTITION BY user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY event_id""".stripMargin,
    "q_sample_negatives" ->
      """WITH pos AS (
        |  SELECT doc_id, CAST(row_number() OVER (
        |      ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
        |    AS BIGINT) AS pos,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM documents),
        |e AS (
        |  SELECT p.doc_id AS anchor_id, i.neg_idx,
        |    ((p.pos - 1 + i.neg_idx * greatest(n // 4, 1)) % n) + 1 AS neg_pos
        |  FROM pos p CROSS JOIN (VALUES (1), (2), (3)) AS i(neg_idx))
        |SELECT e.anchor_id, e.neg_idx, q.doc_id AS negative_id
        |FROM e JOIN pos q ON q.pos = e.neg_pos
        |WHERE e.anchor_id <> q.doc_id
        |ORDER BY anchor_id, neg_idx""".stripMargin,
    "q_anomaly_zscore" ->
      """WITH s AS (
        |  SELECT user_id,
        |    count(CAST(value AS DECIMAL(18,2))) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
        |    CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |      AS DOUBLE) AS svv
        |  FROM events GROUP BY user_id),
        |t AS (
        |  SELECT user_id, sv / n AS mean,
        |    sqrt(greatest((svv - sv * sv / n) / n, 0.0)) AS std
        |  FROM s)
        |SELECT e.event_id,
        |  CASE WHEN t.std > 0 THEN round((e.value - t.mean) / t.std, 6) END AS z,
        |  coalesce(abs(CASE WHEN t.std > 0
        |    THEN round((e.value - t.mean) / t.std, 6) END) > 2.0, FALSE) AS is_outlier
        |FROM events e JOIN t USING (user_id)""".stripMargin,
    "q_mix_weighted" ->
      """WITH src AS (
        |  SELECT doc_id, 0 AS mix_source, 3 AS w,
        |         md5('graft-mix-1:0' || ':' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents WHERE lang = 'en'
        |  UNION ALL
        |  SELECT doc_id, 1, 1,
        |         md5('graft-mix-1:1' || ':' || CAST(doc_id AS VARCHAR))
        |  FROM documents WHERE lang <> 'en' OR lang IS NULL),
        |stats AS (
        |  SELECT min(CAST(floor(CAST(n AS DOUBLE) / w) AS BIGINT)) AS t FROM (
        |    SELECT mix_source, w, count(*) AS n FROM src GROUP BY 1, 2)),
        |r AS (
        |  SELECT doc_id, mix_source, w,
        |         row_number() OVER (PARTITION BY mix_source ORDER BY h, doc_id) AS rn
        |  FROM src)
        |SELECT doc_id, mix_source FROM r, stats
        |WHERE rn <= w * t ORDER BY doc_id""".stripMargin,
    "q_mix_epochs" ->
      """WITH b AS (
        |  SELECT least(1200, 3 * count(*)) AS t, count(*) AS n FROM documents),
        |r AS (
        |  SELECT doc_id, row_number() OVER (
        |    ORDER BY md5('graft-epoch-1' || ':' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rn
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, CAST(ceil(CAST(t - rn AS DOUBLE) / n) AS BIGINT) AS reps
        |  FROM r, b)
        |SELECT doc_id, CAST(unnest(range(0, reps)) AS BIGINT) AS epoch
        |FROM k WHERE reps >= 1 ORDER BY doc_id, epoch""".stripMargin,
    "q_mix_budget" ->
      """WITH b AS (SELECT floor(count(*) * 0.9) AS bud FROM documents),
        |st AS (SELECT source, CAST(count(*) AS DOUBLE) AS cap,
        |         CAST(CAST(substring(source, 4) AS INT) % 4 + 1 AS DOUBLE) AS w
        |       FROM documents GROUP BY source),
        |s3 AS (SELECT source, cap, w, cap / w AS ratio,
        |         row_number() OVER (ORDER BY cap / w ASC, source ASC) AS rn,
        |         coalesce(sum(cap) OVER (ORDER BY cap / w ASC, source ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS capb,
        |         sum(w) OVER (ORDER BY cap / w ASC, source ASC
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS wfrom,
        |         bud
        |       FROM st CROSS JOIN b),
        |s4 AS (SELECT *, (bud - capb) / wfrom AS lam FROM s3),
        |stop AS (SELECT rn AS krn, lam AS klam FROM s4
        |         WHERE ratio >= lam ORDER BY rn LIMIT 1),
        |alloc AS (SELECT source,
        |    CASE WHEN krn IS NULL OR rn < krn THEN cap
        |         ELSE least(cap, floor(w * klam)) END AS alloc
        |  FROM s4 LEFT JOIN stop ON true),
        |ranked AS (SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY substring(md5('graft-mixb-1:' || CAST(doc_id AS VARCHAR)),
        |                       1, 16) ASC, doc_id ASC) AS rnk
        |  FROM documents)
        |SELECT r.doc_id, r.source FROM ranked r
        |JOIN alloc a ON r.source = a.source
        |WHERE r.rnk <= a.alloc ORDER BY r.doc_id""".stripMargin,
    "q_mix_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_rows FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS DOUBLE) AS N,
        |             sum(pow(CAST(n_rows AS DOUBLE), 0.5)) AS Z FROM c)
        |SELECT lang, n_rows,
        |  round(CAST(n_rows AS DOUBLE) / N, 6) AS p_raw,
        |  round(pow(CAST(n_rows AS DOUBLE), 0.5) / Z, 6) AS p_temp,
        |  CAST(round(pow(CAST(n_rows AS DOUBLE), 0.5) / Z * N, 0) AS BIGINT)
        |    AS target_rows
        |FROM c CROSS JOIN t ORDER BY lang""".stripMargin,
    "q_split3" ->
      ("SELECT doc_id, CASE WHEN substring(md5(text), 1, 8) < '" +
        graft.operators.Split.thresholdHex(0.8) +
        "' THEN 'train' WHEN substring(md5(text), 1, 8) < '" +
        graft.operators.Split.thresholdHex(0.8 + 0.1) +
        "' THEN 'val' ELSE 'test' END AS split FROM documents"),
    "q_split_group" ->
      ("SELECT doc_id, source, CASE WHEN substring(md5(source), 1, 8) < '" +
        graft.operators.Split.thresholdHex(0.5) +
        "' THEN 'train' ELSE 'test' END AS split FROM documents"),
    // first md5 byte via two strpos nibbles = Spark's conv(...,16,10);
    // within-shard order is the HEX STRING itself (lexicographic on
    // [0-9a-f] = numeric), so no cross-engine numeric parsing at all
    "q_split_order" ->
      """WITH h AS (SELECT doc_id,
        |    md5('graft:' || CAST(doc_id AS VARCHAR)) AS hx FROM documents),
        |s AS (SELECT doc_id, hx,
        |    CAST(((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) % 8
        |      AS INTEGER) AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard
        |    ORDER BY hx ASC, doc_id ASC) AS BIGINT) AS position
        |FROM s ORDER BY shard, position""".stripMargin,
    // strpos over the hex alphabet = the nibble value conv() reads.
    "q_split_kfold" ->
      """SELECT doc_id, CAST((strpos('0123456789abcdef',
        |  substring(md5(text), 1, 1)) - 1) % 4 AS INTEGER) AS fold
        |FROM documents""".stripMargin,
    "q_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE length(term) > 1 GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |ranked AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |         CAST(row_number() OVER (PARTITION BY tf.doc_id
        |           ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS BIGINT) AS rnk
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term)
        |SELECT doc_id, rnk, term, tf, df FROM ranked WHERE rnk <= 5
        |ORDER BY doc_id, rnk""".stripMargin,
    "q_dedup_winnow_twins" ->
      ("SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, " +
        "CAST(1.0 AS DOUBLE) AS jaccard FROM documents ORDER BY id_a"),
    "q_text_fingerprint_twins" ->
      ("SELECT doc_id AS id_a, doc_id + 1000000 AS id_b " +
        "FROM documents ORDER BY id_a"),
    "q_text_winnow_twins" ->
      ("SELECT doc_id, TRUE AS same_count, TRUE AS same_digest, " +
        "TRUE AS matches_spec FROM documents ORDER BY doc_id"),
    "q_dedup_phash" ->
      s"""WITH h AS ($phashCorpusSql)
         |SELECT a.id AS id_a, b.id AS id_b,
         |       CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
         |FROM h a JOIN h b ON a.id < b.id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_phash_clusters" ->
      s"""WITH RECURSIVE h AS ($phashCorpusSql),
         |e AS (SELECT a.id AS src, b.id AS dst FROM h a JOIN h b ON a.id <> b.id
         |      WHERE bit_count(xor(a.fp, b.fp)) <= 3),
        |reach(id, comp) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN e ON e.src = r.id)
        |SELECT id, min(comp) AS comp FROM reach GROUP BY id ORDER BY id""".stripMargin,
    "q_vocab_merges" ->
      s"""WITH toks AS (SELECT unnest($toksSql) AS w FROM documents),
         |p AS (SELECT substr(w, i, 2) AS pair
         |      FROM (SELECT w, unnest(range(1, length(w))) AS i
         |            FROM toks WHERE length(w) >= 2)),
         |c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY pair)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC) AS BIGINT) AS rank,
         |       pair, cnt
         |FROM c ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin,
    "q_vocab_encode" -> bpeEncodeOracle(bpeGateMerges),
    "q_vocab_fertility" ->
      (s"""WITH t AS (SELECT lang,
         |  len(regexp_extract_all(text, '${TF.bpePattern.replace("'", "''")}')) AS b,
         |  len(list_filter(regexp_split_to_array(trim(text),
         |    '[ \\t\\n\\x0b\\f\\r]+'), w -> length(w) > 0)) AS w,
         |  length(text) AS c
         |  FROM documents)
         |SELECT lang, CAST(sum(b) AS BIGINT) AS n_bpe,
         |  CAST(sum(w) AS BIGINT) AS n_words,
         |  CAST(sum(c) AS BIGINT) AS n_chars,
         |  round(CAST(sum(b) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6)
         |    AS fertility,
         |  round(CAST(sum(c) AS DOUBLE) / CAST(sum(b) AS DOUBLE), 6)
         |    AS chars_per_token
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin),
    "q_sft_render" ->
      s"""WITH t AS ($sftTurnsSql)
         |SELECT conv_id, count(*) AS n_turns,
         |       string_agg('<|im_start|>' || role || chr(10) || content || '<|im_end|>' || chr(10),
         |                  '' ORDER BY turn) AS rendered
         |FROM t GROUP BY conv_id ORDER BY conv_id""".stripMargin,
    "q_sft_truncate" ->
      s"""WITH t AS ($sftTurnsSql),
         |k AS (SELECT conv_id, turn, role, content,
         |        row_number() OVER (PARTITION BY conv_id ORDER BY turn DESC) AS rd
         |      FROM t)
         |SELECT conv_id, count(*) AS n_turns,
         |       string_agg('<|im_start|>' || role || chr(10) || content || '<|im_end|>' || chr(10),
         |                  '' ORDER BY turn) AS rendered
         |FROM k WHERE rd <= 2 GROUP BY conv_id ORDER BY conv_id""".stripMargin,
    "q_sft_roundtrip" ->
      s"""SELECT conv_id, turn, role, content FROM ($sftTurnsSql)
         |ORDER BY conv_id, turn""".stripMargin,
    "q_dedup_index" ->
      ("SELECT doc_id + 1000000 AS id_new, doc_id AS id_hist, " +
        "CAST(1.0 AS DOUBLE) AS jaccard_est FROM documents ORDER BY id_hist"),
    "q_decontaminate_semantic" ->
      ("SELECT vec_id, vec_id AS eval_id, CAST(1.0 AS DOUBLE) AS cosine " +
        "FROM embeddings WHERE vec_id % 20 = 0 ORDER BY vec_id"),
    "q_text_diversity" ->
      s"""WITH ch AS (
         |  SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS c
         |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
         |        FROM documents)),
         |cf AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
         |cd AS (SELECT doc_id,
         |         round(1.0 - CAST(sum(n * n) AS DOUBLE)
         |           / CAST(sum(n) * sum(n) AS DOUBLE), 6) AS char_div
         |       FROM cf GROUP BY doc_id),
         |tk AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |tf2 AS (SELECT doc_id, w, count(*) AS n FROM tk GROUP BY 1, 2),
         |td AS (SELECT doc_id,
         |         round(1.0 - CAST(sum(n * n) AS DOUBLE)
         |           / CAST(sum(n) * sum(n) AS DOUBLE), 6) AS token_div
         |       FROM tf2 GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(cd.char_div, 0.0) AS char_div,
         |       coalesce(td.token_div, 0.0) AS token_div
         |FROM documents d
         |LEFT JOIN cd USING (doc_id) LEFT JOIN td USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q_rank_normalize" ->
      ("SELECT doc_id, lang, n_chars, round(percent_rank() OVER " +
        "(PARTITION BY lang ORDER BY n_chars), 6) AS pct_rank " +
        "FROM documents ORDER BY doc_id"),
    "q_domain_quality" ->
      s"""WITH q AS ($qualityOracle),
         |s AS (SELECT d.doc_id, d.source, q.quality
         |      FROM documents d JOIN q USING (doc_id)),
         |m AS (SELECT source,
         |        CAST(sum(CAST(round(quality, 9) AS DECIMAL(27,9))) AS DOUBLE)
         |          / count(*) AS mean_q,
         |        count(*) AS n_docs
         |      FROM s GROUP BY source)
         |SELECT s.doc_id, s.source, m.n_docs,
         |       round(m.mean_q, 6) AS domain_mean,
         |       m.mean_q >= 0.4 AS keep
         |FROM s JOIN m USING (source) ORDER BY doc_id""".stripMargin,
    "q_json_screen" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 0
        |              THEN '{"id": ' || doc_id || ', "lang": "' || lang || '"}'
        |              ELSE 'not-json: ' || text END AS payload
        |  FROM documents)
        |SELECT doc_id, json_valid(payload) AS is_valid_json,
        |       CASE WHEN json_valid(payload)
        |            THEN json_extract_string(payload, '$.id') END AS id_field,
        |       CASE WHEN json_valid(payload)
        |            THEN json_extract_string(payload, '$.lang') END AS lang_field
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_pref_pairs" ->
      s"""WITH q AS ($qualityOracle),
         |s AS (SELECT d.lang, d.doc_id, q.quality
         |      FROM documents d JOIN q USING (doc_id)),
         |b AS (SELECT lang,
         |        first(doc_id ORDER BY quality DESC, doc_id ASC) AS chosen_id,
         |        first(quality ORDER BY quality DESC, doc_id ASC) AS s_best,
         |        first(doc_id ORDER BY quality ASC, doc_id ASC) AS rejected_id,
         |        first(quality ORDER BY quality ASC, doc_id ASC) AS s_worst
         |      FROM s GROUP BY lang)
         |SELECT lang, chosen_id, rejected_id,
         |       round(s_best - s_worst, 6) AS margin
         |FROM b
         |WHERE chosen_id != rejected_id AND round(s_best - s_worst, 6) >= 0.05
         |ORDER BY lang""".stripMargin,
    "q_pref_topk" ->
      s"""WITH q AS ($qualityOracle),
         |s AS (SELECT d.lang, d.doc_id, q.quality
         |      FROM documents d JOIN q USING (doc_id)),
         |r AS (SELECT lang, doc_id, quality,
         |        CAST(row_number() OVER (PARTITION BY lang
         |          ORDER BY quality DESC, doc_id ASC) AS BIGINT) AS r_top,
         |        CAST(row_number() OVER (PARTITION BY lang
         |          ORDER BY quality ASC, doc_id ASC) AS BIGINT) AS r_bot,
         |        count(*) OVER (PARTITION BY lang) AS n
         |      FROM s),
         |t AS (SELECT lang, r_top AS rank, doc_id AS chosen_id,
         |             quality AS s_best
         |      FROM r WHERE r_top <= 3 AND r_top * 2 <= n),
         |b AS (SELECT lang, r_bot AS rank, doc_id AS rejected_id,
         |             quality AS s_worst
         |      FROM r WHERE r_bot <= 3 AND r_bot * 2 <= n)
         |SELECT lang, rank, chosen_id, rejected_id,
         |       round(s_best - s_worst, 6) AS margin
         |FROM t JOIN b USING (lang, rank)
         |WHERE round(s_best - s_worst, 6) >= 0.0
         |ORDER BY lang, rank""".stripMargin,
    "q_pref_bt" -> btOracle(iterations = 3),
    "q_pref_bt_ties" -> btTiesOracle(iterations = 3),
    "q_classifier_fit" ->
      classifierOracle(buckets = 64, iterations = 3, lr = 0.5, score = false),
    "q_classifier_group" ->
      classifierGroupOracle(buckets = 64, iterations = 2, lr = 0.5),
    "q_classifier_group_score" ->
      classifierGroupOracle(buckets = 64, iterations = 2, lr = 0.5,
        score = true),
    "q_classifier_score" ->
      classifierOracle(buckets = 64, iterations = 3, lr = 0.5, score = true),
    "q_layout_audit" ->
      s"""WITH ${layoutZCte(8)},
         |b AS (SELECT user_id, event_id, (z * 16) // 65536 AS bucket
         |      FROM zt)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(user_id) AS user_id_min, max(user_id) AS user_id_max,
         |  min(event_id) AS event_id_min, max(event_id) AS event_id_max
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_layout_prune" ->
      s"""WITH ${layoutZCte(8)},
         |b AS (SELECT user_id, event_id, (z * 16) // 65536 AS bucket
         |      FROM zt),
         |a AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
         |        min(user_id) AS mn, max(user_id) AS mx
         |      FROM b GROUP BY bucket),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |        CAST(sum(CASE WHEN mn <= 37 AND mx >= 0 THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_overlapping,
         |        CAST(sum(n_rows) AS BIGINT) AS rows_total,
         |        CAST(sum(CASE WHEN mn <= 37 AND mx >= 0 THEN n_rows
         |                 ELSE 0 END) AS BIGINT) AS rows_scanned
         |      FROM a)
         |SELECT n_buckets, n_overlapping, rows_total, rows_scanned,
         |  round(1.0 - CAST(rows_scanned AS DOUBLE) / rows_total, 6)
         |    AS frac_pruned
         |FROM t""".stripMargin,
    "q_pref_leaderboard" ->
      s"""WITH $arenaCte,
         |$leaderboardCte
         |SELECT item, games, wins, win_rate, rank
         |FROM board ORDER BY item""".stripMargin,
    "q_pref_leaderboard_ci" -> {
      val z = 1.96; val z2 = z * z
      s"""WITH $arenaCte,
         |$leaderboardCte,
         |ci AS (SELECT item, games, wins, win_rate, rank,
         |    CAST(games AS DOUBLE) AS n,
         |    CAST(wins AS DOUBLE) / CAST(games AS DOUBLE) AS p
         |  FROM board)
         |SELECT item, games, wins, win_rate,
         |  round(greatest((p + $z2 / (2.0 * n)) / (1.0 + $z2 / n)
         |    - ($z * sqrt(p * (1.0 - p) / n + $z2 / (4.0 * n * n)))
         |      / (1.0 + $z2 / n), 0.0), 6) AS ci_lo,
         |  round(least((p + $z2 / (2.0 * n)) / (1.0 + $z2 / n)
         |    + ($z * sqrt(p * (1.0 - p) / n + $z2 / (4.0 * n * n)))
         |      / (1.0 + $z2 / n), 1.0), 6) AS ci_hi,
         |  rank
         |FROM ci ORDER BY item""".stripMargin
    },
    "q_cluster_assign" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |ex AS (SELECT vec_id, label, unnest(v) AS x,
         |              unnest(range(1, len(v) + 1)) AS pos FROM e),
         |cent AS (
         |  SELECT label, pos,
         |    CAST(sum(CAST(round(x, 9) AS DECIMAL(27,9))) AS DOUBLE) / count(*) AS c
         |  FROM ex GROUP BY 1, 2),
         |cl AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1),
         |sc AS (SELECT e.vec_id, cl.label,
         |              round(list_cosine_similarity(e.v, cl.cv), 6) AS c
         |       FROM e CROSS JOIN cl)
         |SELECT vec_id,
         |       first(label ORDER BY c DESC, label ASC) AS cluster,
         |       first(c ORDER BY c DESC, label ASC) AS cosine
         |FROM sc GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "q_cluster_lloyd" -> lloydOracle(iterations = 2),
    // Simplified silhouette: same centroid/score CTEs as
    // q_cluster_assign, then a = 1 − best cosine, b = 1 − best cosine
    // among the OTHER labels, s = (b − a)/max(a, b).
    "q_cluster_silhouette" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |ex AS (SELECT vec_id, label, unnest(v) AS x,
        |              unnest(range(1, len(v) + 1)) AS pos FROM e),
        |cent AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(round(x, 9) AS DECIMAL(27,9))) AS DOUBLE) /
        |      count(*) AS c
        |  FROM ex GROUP BY 1, 2),
        |cl AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1),
        |sc AS (SELECT e.vec_id, cl.label,
        |              round(list_cosine_similarity(e.v, cl.cv), 6) AS c
        |       FROM e CROSS JOIN cl),
        |top AS (SELECT vec_id,
        |          first(label ORDER BY c DESC, label ASC) AS cluster,
        |          round(1.0 - first(c ORDER BY c DESC, label ASC), 6) AS a
        |        FROM sc GROUP BY vec_id),
        |sec AS (SELECT sc.vec_id,
        |          round(1.0 - first(sc.c ORDER BY sc.c DESC, sc.label ASC),
        |            6) AS b
        |        FROM sc JOIN top ON sc.vec_id = top.vec_id
        |          AND sc.label <> top.cluster
        |        GROUP BY sc.vec_id)
        |SELECT t.vec_id, t.cluster, t.a, s.b,
        |  CASE WHEN s.b IS NULL THEN NULL
        |       WHEN greatest(t.a, s.b) = 0.0 THEN 0.0
        |       ELSE round((s.b - t.a) / greatest(t.a, s.b), 6)
        |  END AS silhouette
        |FROM top t LEFT JOIN sec s ON t.vec_id = s.vec_id
        |ORDER BY t.vec_id""".stripMargin,
    "q_dedup_minhash_estimate" ->
      ("SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, " +
        "CAST(1.0 AS DOUBLE) AS jaccard_est FROM documents ORDER BY id_a"),
    "q_dedup_incremental" ->
      ("SELECT doc_id + 1000000 AS doc_id FROM documents " +
        "WHERE doc_id < 50 ORDER BY doc_id"),
    "q_dedup_containment" ->
      ngramJaccardOracle(n = 3, threshold = 0.6, containment = true),
    "q_text_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, toks,
        |        CASE WHEN len(toks) <= 32 THEN 1
        |             ELSE CAST(floor((CAST(len(toks) - 32 AS DOUBLE) + 23) / 24.0) AS INTEGER) + 1
        |        END AS k
        |      FROM t),
        |e AS (SELECT doc_id, toks, unnest(range(0, k)) AS i FROM c)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_index,
        |       array_to_string(list_slice(toks, i*24 + 1, i*24 + 32), ' ') AS chunk
        |FROM e ORDER BY doc_id, chunk_index""".stripMargin,
    "q_corpus_stats" ->
      s"""WITH q AS ($qualityOracle)
         |SELECT d.lang, d.source, count(*) AS n_docs,
         |  CAST(sum(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS total_tokens,
         |  CAST(sum(CAST(q.quality AS DECIMAL(9,6))) AS DOUBLE) / count(*) AS avg_quality
         |FROM q JOIN documents d ON q.doc_id = d.doc_id
         |GROUP BY d.lang, d.source ORDER BY d.lang, d.source""".stripMargin,
    "q_dedup_normalized" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000 AS doc_id, upper(text) || ' !!' AS text
        |  FROM documents),
        |k AS (SELECT doc_id,
        |        trim(regexp_replace(regexp_replace(lower(text),
        |          '[^\p{L}\p{N} \t\n\x0b\f\r]', ' ', 'g'), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS nk
        |      FROM all_docs)
        |SELECT doc_id FROM k
        |WHERE doc_id IN (SELECT min(doc_id) FROM k GROUP BY nk)
        |ORDER BY doc_id""".stripMargin,
    "q_asof_join" ->
      """WITH ref AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ref_ts, max(event_id) AS ref_event
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, CAST(ts AS TIMESTAMP)),
        |ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT ev.event_id, ev.user_id, ev.ts, ref.ref_ts, ref.ref_event
        |FROM ev ASOF JOIN ref ON ev.user_id = ref.user_id AND ev.ts >= ref.ref_ts
        |ORDER BY ev.event_id""".stripMargin,
    "q_interval_join" ->
      """WITH r AS (
        |  SELECT id AS range_id,
        |    TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (id * 6) HOUR AS r_start,
        |    TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (id * 6 + id % 18 + 2) HOUR AS r_end
        |  FROM range(80) t(id))
        |SELECT e.event_id, r.range_id
        |FROM events e JOIN r ON CAST(e.ts AS TIMESTAMP) >= r.r_start
        |  AND CAST(e.ts AS TIMESTAMP) < r.r_end""".stripMargin,
    "q_skew_join" ->
      ("SELECT l.partkey, l_orderkey, l_linenumber, l_quantity, p_name, p_retailprice " +
        "FROM (SELECT l_partkey AS partkey, l_orderkey, l_linenumber, l_quantity FROM lineitem) l " +
        "JOIN (SELECT p_partkey AS partkey, p_name, p_retailprice FROM part) r " +
        "ON l.partkey = r.partkey"),
    "q_custom_simhash" ->
      "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents ORDER BY id_a",
    "q_multimodal_decode_real" ->
      ("SELECT * FROM (VALUES " +
        "('tiny.png', 'image/png', 4, 3, 3), " +
        "('tiny.wav', 'audio/wav', 800, 8000, 1)) " +
        "AS t(file, mime, width, height, channels) ORDER BY file"),
    // Pinned aHash of the committed 4×3 PNG (spec proves re-encode and
    // brightness invariance; this pins the exact bit layout).
    "q_multimodal_phash" ->
      ("SELECT * FROM (VALUES " +
        "('tiny.png', CAST(93458493603840 AS BIGINT)), " +
        "('tiny.wav', CAST(NULL AS BIGINT))) " +
        "AS t(file, phash) ORDER BY file"),
    "q_multimodal_resize" ->
      ("SELECT * FROM (VALUES ('tiny.png', 2, 2, 3)) " +
        "AS t(file, width, height, channels)"),
    "q_skew_agg" ->
      ("SELECT l_returnflag, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "count(*) AS n_rows, min(l_extendedprice) AS min_price, " +
        "max(l_extendedprice) AS max_price, " +
        "CAST(sum(l_linenumber) AS DOUBLE) / count(l_linenumber) AS avg_linenum " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_agg_avg" ->
      ("SELECT p_brand, avg(p_size) AS avg_size, count(*) AS n_parts, " +
        "CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price " +
        "FROM part GROUP BY p_brand ORDER BY p_brand"),
    "q_embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 1000),
        |s AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
        |x AS (SELECT vec_id, scale, v, unnest(range(1, len(v)+1)) AS i FROM s)
        |SELECT vec_id, round(scale, 6) AS scale, CAST(i - 1 AS INTEGER) AS idx,
        |  CASE WHEN scale = 0.0 THEN 0
        |       ELSE CAST(floor(v[i] / scale * 127.0 + 0.5) AS INTEGER) END AS code
        |FROM x ORDER BY vec_id, idx""".stripMargin,
    "q_embed_matryoshka" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
        |           FROM embeddings WHERE vec_id < 1000),
        |t AS (SELECT vec_id, v0[1:16] AS tv FROM e),
        |n AS (SELECT vec_id, tv,
        |        sqrt(list_reduce(list_transform(tv, x -> x*x),
        |                         (a, b) -> a + b)) AS nrm
        |      FROM t),
        |x AS (SELECT vec_id, tv, nrm, unnest(range(1, len(tv)+1)) AS i FROM n)
        |SELECT vec_id, CAST(i - 1 AS INTEGER) AS idx,
        |  round(CASE WHEN nrm = 0.0 THEN tv[i] ELSE tv[i] / nrm END, 6) AS val
        |FROM x ORDER BY vec_id, idx""".stripMargin,
    // Mean = the labelCentroids decimal recipe; norm = the same
    // index-order left fold as VF.l2Norm (proven by q_embed_matryoshka).
    "q_embed_pool" ->
      """WITH e AS (SELECT vec_id % 250 AS parent_id,
        |                  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT parent_id, unnest(range(1, len(v)+1)) AS i, v FROM e),
        |d AS (SELECT parent_id, i, v[i] AS x FROM x),
        |m AS (SELECT parent_id, i,
        |        CAST(sum(CAST(round(x, 9) AS DECIMAL(27,9))) AS DOUBLE)
        |          / count(*) AS c
        |      FROM d GROUP BY 1, 2),
        |vec AS (SELECT parent_id, list(c ORDER BY i) AS cv FROM m GROUP BY 1),
        |n AS (SELECT parent_id, cv,
        |        sqrt(list_reduce(list_transform(cv, x -> x*x),
        |                         (a, b) -> a + b)) AS nrm
        |      FROM vec),
        |y AS (SELECT parent_id, cv, nrm,
        |        unnest(range(1, len(cv)+1)) AS i FROM n)
        |SELECT parent_id, CAST(i - 1 AS INTEGER) AS idx,
        |  round(CASE WHEN nrm = 0.0 THEN cv[i] ELSE cv[i] / nrm END, 6) AS val
        |FROM y ORDER BY parent_id, idx""".stripMargin,
    // The q_dedup_embed corpus is embeddings ∪ exact twins (id+1e6, v×2):
    // twin pairs have cosine exactly 1.0 after round(…,6) and LSH recall 1
    // by sign-invariance under positive scaling; no real pair reaches the
    // 0.9 threshold (max ~0.6 in testdata), so the result is exactly the
    // twin pairs — closed-form oracle, no vector math needed in DuckDB.
    "q_dedup_embed" ->
      ("SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, " +
        "CAST(1.0 AS DOUBLE) AS cosine FROM embeddings ORDER BY id_a, id_b"),
    "q_ann_lsh_twin" ->
      ("SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS rank, " +
        "vec_id + 1000000 AS vec_id, CAST(1.0 AS DOUBLE) AS cosine " +
        "FROM embeddings WHERE vec_id < 5 ORDER BY query_id"),
    "q_ann_ivf_twin" ->
      ("SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS rank, " +
        "vec_id + 1000000 AS vec_id, CAST(1.0 AS DOUBLE) AS cosine " +
        "FROM embeddings WHERE vec_id < 5 ORDER BY query_id"),
    // save/load must be a no-op on results: same closed-form oracle
    "q_ann_ivf_persisted" ->
      ("SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS rank, " +
        "vec_id + 1000000 AS vec_id, CAST(1.0 AS DOUBLE) AS cosine " +
        "FROM embeddings WHERE vec_id < 5 ORDER BY query_id"),
    // append against frozen centroids must find the appended twins
    "q_ann_ivf_append" ->
      ("SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS rank, " +
        "vec_id + 1000000 AS vec_id, CAST(1.0 AS DOUBLE) AS cosine " +
        "FROM embeddings WHERE vec_id < 5 ORDER BY query_id"),
    // the stream-legal plan must lose nothing: same closed-form oracle
    "q_ann_ivf_stream" ->
      ("SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS rank, " +
        "vec_id + 1000000 AS vec_id, CAST(1.0 AS DOUBLE) AS cosine " +
        "FROM embeddings WHERE vec_id < 5 ORDER BY query_id"),
    // Exact brute-force top-k IS DuckDB-expressible: both engines compute
    // double cosine (differences live below the 6-decimal rounding), and
    // rank ties break on vec_id in both. Top-10 cosine gaps in the
    // testdata are ~1e-3, far above FP noise, so ranks are stable.
    "q_ann_bruteforce" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT p.query_id, e.vec_id, list_cosine_similarity(p.qv, e.v) AS cosine
        |  FROM e CROSS JOIN p WHERE e.vec_id != p.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cosine,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, round(cosine, 6) AS cosine
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // Same exact top-10 ranking (unrounded cosine, id tie-break), then
    // neighbor labels vote: majority = (count DESC, label ASC) rank-1,
    // agreement = exact-integer ratio rounded once at 6 dp.
    "q_label_knn_noise" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             label FROM embeddings),
        |p AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 50),
        |scored AS (
        |  SELECT p.query_id, e.vec_id,
        |    list_cosine_similarity(p.qv, e.v) AS cosine
        |  FROM e CROSS JOIN p WHERE e.vec_id != p.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, row_number() OVER (
        |    PARTITION BY query_id
        |    ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM scored),
        |top AS (SELECT query_id, vec_id FROM ranked WHERE rank <= 10),
        |votes AS (SELECT t.query_id, e.label, count(*) AS n
        |          FROM top t JOIN e ON t.vec_id = e.vec_id GROUP BY 1, 2),
        |tot AS (SELECT query_id, sum(n) AS n_votes FROM votes GROUP BY 1),
        |maj AS (SELECT query_id, label AS knn_label, n AS n_majority
        |        FROM (SELECT query_id, label, n, row_number() OVER (
        |                PARTITION BY query_id
        |                ORDER BY n DESC, label ASC) AS rn FROM votes) t
        |        WHERE rn = 1)
        |SELECT m.query_id AS id, e.label, m.knn_label,
        |  CAST(tot.n_votes AS BIGINT) AS n_votes, m.n_majority,
        |  round(CAST(m.n_majority AS DOUBLE) / tot.n_votes, 6)
        |    AS agreement,
        |  e.label != m.knn_label AS suspect
        |FROM maj m JOIN tot ON m.query_id = tot.query_id
        |JOIN e ON m.query_id = e.vec_id
        |ORDER BY id""".stripMargin,
    // Same bruteforce top-10; rank-1 rows are the positives, the rest
    // re-rank on the ROUNDED cosine (the operator consumes topK's
    // 6-dp output) with id tie-breaks.
    "q_sample_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT p.query_id, e.vec_id, list_cosine_similarity(p.qv, e.v) AS cosine
        |  FROM e CROSS JOIN p WHERE e.vec_id != p.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cosine,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM scored),
        |top AS (SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank
        |        FROM ranked WHERE rank <= 10),
        |h AS (SELECT query_id, vec_id, cosine FROM top WHERE rank <> 1)
        |SELECT anchor_id, neg_rank, neg_id, score FROM (
        |  SELECT query_id AS anchor_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS neg_rank,
        |    vec_id AS neg_id, cosine AS score
        |  FROM h) t
        |WHERE neg_rank <= 3 ORDER BY anchor_id, neg_rank""".stripMargin,
    "q_quality_gopher" -> gopherOracle,
    // First-failing-rule attribution via one nested CASE, then the
    // |rules|-row cumulative window — mirrors funnelReport exactly.
    "q_quality_funnel" ->
      s"""WITH f AS (SELECT CASE
        |    WHEN NOT coalesce(n_chars >= 60, FALSE) THEN 0
        |    WHEN NOT coalesce(lang = 'en', FALSE) THEN 1
        |    WHEN NOT coalesce(len($toksSql) >= 25, FALSE) THEN 2
        |    WHEN NOT coalesce(n_chars <= 900, FALSE) THEN 3 END AS ff
        |  FROM documents),
        |c AS (SELECT ff, count(*) AS c FROM f GROUP BY 1),
        |tot AS (SELECT count(*) AS total FROM f),
        |meta AS (SELECT * FROM (VALUES (0, 'min_chars'), (1, 'en_only'),
        |  (2, 'min_tokens'), (3, 'max_chars')) v(rule_order, rule)),
        |r AS (SELECT m.rule_order, m.rule, coalesce(c.c, 0) AS n_removed
        |      FROM meta m LEFT JOIN c ON c.ff = m.rule_order),
        |w AS (SELECT rule_order, rule, n_removed,
        |  total - coalesce(sum(n_removed) OVER (ORDER BY rule_order
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_in
        |  FROM r CROSS JOIN tot)
        |SELECT rule_order, rule, CAST(n_in AS BIGINT) AS n_in,
        |  CAST(n_removed AS BIGINT) AS n_removed,
        |  CAST(n_in - n_removed AS BIGINT) AS n_out,
        |  CASE WHEN n_in > 0 THEN round(CAST(n_removed AS DOUBLE)/n_in, 6)
        |  END AS removal_rate
        |FROM w ORDER BY rule_order""".stripMargin,
    // GROUP BY text ≡ the digest grouping (nulls group together both
    // ways); strlen = UTF-8 bytes, matching Spark octet_length.
    "q_dedup_report" ->
      """WITH c AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |g AS (SELECT count(*) AS n,
        |        sum(coalesce(strlen(text), 0)) AS bytes,
        |        min(coalesce(strlen(text), 0)) AS one
        |      FROM c GROUP BY text),
        |a AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
        |        CAST(count(*) AS BIGINT) AS n_distinct,
        |        CAST(sum(n - 1) AS BIGINT) AS dup_docs,
        |        CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |        CAST(sum(bytes - one) AS BIGINT) AS dup_bytes FROM g)
        |SELECT n_docs, n_distinct, dup_docs,
        |  CASE WHEN n_docs = 0 THEN NULL
        |       ELSE round(CAST(dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
        |  END AS dup_doc_frac,
        |  total_bytes, dup_bytes,
        |  CASE WHEN total_bytes = 0 THEN NULL
        |       ELSE round(CAST(dup_bytes AS DOUBLE) / CAST(total_bytes AS DOUBLE), 6)
        |  END AS dup_byte_frac
        |FROM a""".stripMargin,
    // Compression-monotonicity twin: the properties are structural zlib
    // guarantees, so the oracle predicts the booleans without being able
    // to reproduce the byte counts (q_quality_compress stays rows-only).
    "q_quality_compress_twins" ->
      """SELECT doc_id, true AS repetition_compresses, true AS bounded_by_plain
        |FROM documents WHERE n_chars >= 64 ORDER BY doc_id""".stripMargin,
    "q_text_ncd_twins" ->
      """SELECT a.doc_id AS id, true AS self_beats_cross, true AS in_band
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.n_chars >= 64 AND b.n_chars >= 64
        |ORDER BY id""".stripMargin,
    "q_curate_pipeline" -> curateOracle,
    "q_sample_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY substring(md5(text), 1, 16) ASC, doc_id ASC) AS rn
        |  FROM documents) t
        |WHERE rn <= 15 ORDER BY doc_id""".stripMargin,
    "q_sample_topk" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents) t
        |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "q_sample_topfrac" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    percent_rank() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id ASC) AS pr
        |  FROM documents) t
        |WHERE pr <= 0.2 ORDER BY doc_id""".stripMargin,
    "q_profile_gini" ->
      """WITH t AS (SELECT source AS k, sum(n_chars) AS t
        |           FROM documents GROUP BY 1),
        |r AS (SELECT k, t, CAST(row_number() OVER (ORDER BY t ASC, k ASC)
        |        AS BIGINT) AS r FROM t),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |        CAST(sum(t) AS BIGINT) AS total,
        |        sum(CAST(r AS DECIMAL(38,0)) * t) AS rt FROM r)
        |SELECT n_groups, total,
        |  CASE WHEN total <= 0 OR n_groups < 2 THEN NULL
        |       ELSE round(2.0 * CAST(rt AS DOUBLE) /
        |              (CAST(n_groups AS DOUBLE) * CAST(total AS DOUBLE)) -
        |              (CAST(n_groups AS DOUBLE) + 1.0) /
        |                CAST(n_groups AS DOUBLE), 6)
        |  END AS gini
        |FROM a""".stripMargin,
    "q_sample_topmass" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(round(CAST(n_chars AS DOUBLE), 6) AS DECIMAL(24,6)) AS s,
        |    sum(CAST(round(CAST(n_chars AS DOUBLE), 6) AS DECIMAL(24,6)))
        |      OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC
        |            ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(CAST(round(CAST(n_chars AS DOUBLE), 6) AS DECIMAL(24,6)))
        |      OVER (PARTITION BY lang) AS tot
        |  FROM documents) t
        |WHERE cum - s < tot * CAST(0.8 AS DECIMAL(10,9))
        |ORDER BY doc_id""".stripMargin,
    "q_olap_rollup" ->
      ("SELECT o_orderpriority, o_orderstatus, " +
        "CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid, " +
        "count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev " +
        "FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)"),
    "q_olap_cube" ->
      ("SELECT o_orderpriority, o_orderstatus, " +
        "CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid, " +
        "count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev " +
        "FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)"),
    "q_olap_grouping_sets" ->
      ("SELECT o_orderpriority, o_orderstatus, " +
        "CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid, " +
        "count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev " +
        "FROM orders GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))"),
    "q_window_nav" ->
      """SELECT event_id, user_id, CAST(row_number() OVER w AS INTEGER) AS rn,
        |  epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
        |    AS gap_micros,
        |  lead(value) OVER w AS next_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)""".stripMargin,
    "q_olap_pivot" ->
      ("SELECT CAST(ts AS DATE) AS day, " +
        "count(*) FILTER (WHERE event_type = 'click') AS click, " +
        "count(*) FILTER (WHERE event_type = 'error') AS error, " +
        "count(*) FILTER (WHERE event_type = 'purchase') AS purchase, " +
        "count(*) FILTER (WHERE event_type = 'signup') AS signup, " +
        "count(*) FILTER (WHERE event_type = 'view') AS view " +
        "FROM events GROUP BY CAST(ts AS DATE)"),
    "q_olap_unpivot" ->
      """WITH f AS (SELECT * FROM lineitem WHERE l_orderkey % 50 = 0),
        |u AS (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM f
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM f
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM f
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM f)
        |SELECT * FROM u ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "q_profile_hist" ->
      """SELECT bucket, 0.0 + bucket * 100.0 AS lo_edge, count(*) AS n FROM (
        |  SELECT CAST(least(greatest(floor((CAST(n_chars AS DOUBLE) - 0.0) / 100.0), 0), 19) AS BIGINT) AS bucket
        |  FROM documents WHERE n_chars IS NOT NULL) t
        |GROUP BY bucket""".stripMargin,
    "q_profile_quantiles" ->
      """WITH ranked AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars ASC) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT lang, CAST(p AS DOUBLE) AS p, n_chars AS value
        |FROM ranked CROSS JOIN (VALUES (0.5), (0.9), (0.99)) AS ps(p)
        |WHERE rn = CAST(ceil(p * n) AS BIGINT)""".stripMargin,
    "q_sketch_cardinality" ->
      ("SELECT lang, count(DISTINCT text) AS n_exact, TRUE AS within_tol " +
        "FROM documents GROUP BY lang"),
    "q_sketch_quantiles" ->
      """WITH ranked AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars ASC) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT lang, CAST(p AS DOUBLE) AS p, n_chars AS value, TRUE AS within_tol
        |FROM ranked CROSS JOIN (VALUES (0.5), (0.9), (0.99)) AS ps(p)
        |WHERE rn = CAST(ceil(p * n) AS BIGINT)""".stripMargin,
    "q_pii_pseudo" ->
      ("SELECT event_id, CASE WHEN user_id IS NOT NULL THEN " +
        "sha256('graft-salt-1' || CAST(user_id AS VARCHAR)) END AS user_id " +
        "FROM events"),
    "q_pii_kanon" ->
      """SELECT lang, source, n_chars % 10 AS len_bucket, count(*) AS n
        |FROM documents GROUP BY 1, 2, 3 HAVING count(*) < 4
        |ORDER BY lang NULLS LAST, source NULLS LAST,
        |  len_bucket NULLS LAST""".stripMargin,
    "q_pii_ldiv" ->
      """SELECT lang, source, count(*) AS n,
        |  count(DISTINCT n_chars % 10) AS n_sensitive
        |FROM documents GROUP BY 1, 2
        |HAVING count(DISTINCT n_chars % 10) < 10
        |ORDER BY lang NULLS LAST, source NULLS LAST""".stripMargin,
    // OHLC mirror: identical (ts, event_id) row_number tie-break for
    // open/close; extremes and counts exact.
    "q_ts_ohlc" ->
      """WITH r AS (SELECT CAST(ts AS DATE) AS day, value,
        |    row_number() OVER (PARTITION BY CAST(ts AS DATE)
        |      ORDER BY ts ASC, event_id ASC) AS ra,
        |    row_number() OVER (PARTITION BY CAST(ts AS DATE)
        |      ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL)
        |SELECT day, count(*) AS n,
        |  round(max(CASE WHEN ra = 1 THEN value END), 6) AS open,
        |  round(max(value), 6) AS high,
        |  round(min(value), 6) AS low,
        |  round(max(CASE WHEN rd = 1 THEN value END), 6) AS close
        |FROM r GROUP BY day ORDER BY day""".stripMargin,
    "q_rolling_window" ->
      """SELECT event_id, count(*) OVER w AS n_window,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_window
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_web_block" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://cdn' || CAST(doc_id % 5 AS VARCHAR) || '.' || source ||
        |      '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |h AS (SELECT doc_id, url,
        |    regexp_replace(lower(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1)), '\.$', '') AS host
        |  FROM u)
        |SELECT doc_id, url FROM h
        |WHERE NOT (host = 'src2.example.com' OR host LIKE '%.src2.example.com'
        |  OR host = 'cdn1.src5.example.com' OR host LIKE '%.cdn1.src5.example.com'
        |  OR host = 'example.net' OR host LIKE '%.example.net')
        |ORDER BY doc_id""".stripMargin,
    "q_text_nfc" ->
      ("SELECT doc_id, nfc_normalize(text || ' re\u0301sume\u0301') AS nfc_text " +
        "FROM documents"),
    "q_vocab_oov" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS term
        |  FROM documents),
        |nz AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |vocab AS (
        |  SELECT term FROM (
        |    SELECT term, count(*) AS n FROM nz GROUP BY term
        |    ORDER BY n DESC, term ASC LIMIT 200)),
        |j AS (SELECT nz.doc_id, CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
        |      FROM nz LEFT JOIN vocab v ON nz.term = v.term)
        |SELECT doc_id, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov,
        |  round(CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_pack" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
        |      FROM t)
        |SELECT doc_id, shard,
        |  CAST(floor(CAST(cum - n_tokens AS DOUBLE) / CAST(500 AS DOUBLE)) AS BIGINT) AS pack,
        |  n_tokens
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_pack_assemble" ->
      """WITH t AS (
        |  SELECT doc_id, text, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, text, shard, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
        |      FROM t),
        |p AS (SELECT doc_id, text, shard, n_tokens,
        |        CAST(floor(CAST(cum - n_tokens AS DOUBLE) / CAST(500 AS DOUBLE)) AS BIGINT) AS pack
        |      FROM c)
        |SELECT shard, pack, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS text
        |FROM p GROUP BY shard, pack ORDER BY shard, pack""".stripMargin,
    "q_pack_buckets" ->
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |    CAST(CASE WHEN n_chars <= 256 THEN 256 WHEN n_chars <= 512 THEN 512
        |         WHEN n_chars <= 1024 THEN 1024 ELSE 2048 END AS BIGINT) AS bucket_cap,
        |    doc_id % 8 AS shard
        |  FROM documents)
        |SELECT doc_id, bucket_cap, shard,
        |  CAST(floor((row_number() OVER (PARTITION BY bucket_cap, shard
        |    ORDER BY doc_id) - 1) / 32.0) AS BIGINT) AS batch,
        |  bucket_cap - least(n_chars, bucket_cap) AS padding
        |FROM b""".stripMargin,
    "q_custom_quality" ->
      s"""WITH ${gopherCtes("documents")}
         |SELECT doc_id, n_words, mean_word_len, dup_line_frac
         |FROM m ORDER BY doc_id""".stripMargin,
    "q_quality_repetition" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks)-1, 1)+1),
        |    i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS ngram
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+') AS toks
        |        FROM documents)),
        |c AS (SELECT doc_id, ngram, count(*) AS cnt FROM g GROUP BY doc_id, ngram),
        |r AS (SELECT doc_id, ngram, cnt,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, ngram ASC) AS rn,
        |        sum(CASE WHEN cnt >= 2 THEN cnt * length(ngram) ELSE 0 END)
        |          OVER (PARTITION BY doc_id) AS dup_chars
        |      FROM c)
        |SELECT r.doc_id, ngram AS top_ngram, CAST(cnt AS BIGINT) AS top_count,
        |  round(CASE WHEN length(d.text) > 0
        |    THEN CAST(cnt * length(ngram) AS DOUBLE) / CAST(length(d.text) AS DOUBLE)
        |    ELSE 0.0 END, 6) AS top_frac,
        |  round(CASE WHEN length(d.text) > 0
        |    THEN CAST(dup_chars AS DOUBLE) / CAST(length(d.text) AS DOUBLE)
        |    ELSE 0.0 END, 6) AS dup_frac
        |FROM r JOIN documents d ON r.doc_id = d.doc_id
        |WHERE rn = 1 ORDER BY r.doc_id""".stripMargin,
    "q_pii_redact" -> piiOracle,
    "q_sample_stratified" -> sampleOracle,
    "q_ngram_counts" ->
      """WITH grams AS (
        |  SELECT unnest(list_transform(range(1, greatest(len(toks)-1, 1)+1),
        |    i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS ngram
        |  FROM (SELECT regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
        |        FROM documents))
        |SELECT ngram, count(*) AS n_occurrences FROM grams
        |WHERE length(ngram) > 0
        |GROUP BY ngram ORDER BY n_occurrences DESC, ngram ASC LIMIT 100""".stripMargin,
    // PMI: the bigram CTE reuses the shingle formulation above; the
    // whole-doc fallback shingle of 1-token docs has no space and is
    // filtered on both sides. The PMI product chain is parenthesized
    // identically to the Spark expression.
    "q_pmi_collocations" ->
      """WITH bg0 AS (
        |  SELECT unnest(list_transform(range(1, greatest(len(toks)-1, 1)+1),
        |    i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS g
        |  FROM (SELECT regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
        |        FROM documents)),
        |bg AS (SELECT g FROM bg0 WHERE g LIKE '% %'),
        |ut AS (SELECT unnest(regexp_split_to_array(trim(lower(text)),
        |         '[ \t\n\x0b\f\r]+')) AS w FROM documents),
        |cu AS (SELECT w, count(*) AS cu FROM ut
        |       WHERE length(w) > 0 GROUP BY 1),
        |cb AS (SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
        |              count(*) AS c_pair
        |       FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
        |tot AS (SELECT (SELECT CAST(sum(cu) AS DOUBLE) FROM cu) AS n_tok,
        |               (SELECT CAST(count(*) AS DOUBLE) FROM bg) AS n_big),
        |s AS (SELECT w1, w2, c_pair,
        |        round(ln(CAST(c_pair AS DOUBLE) * n_tok * n_tok /
        |              (n_big * CAST(a.cu AS DOUBLE) * CAST(b.cu AS DOUBLE))), 6) AS pmi
        |      FROM cb JOIN cu a ON a.w = cb.w1 JOIN cu b ON b.w = cb.w2
        |      CROSS JOIN tot)
        |SELECT w1, w2, c_pair, pmi FROM s
        |ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 50""".stripMargin,
    "q_decontaminate" ->
      """WITH docs AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
        |         i -> array_to_string(list_slice(toks, i, i+2), ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+') AS toks
        |        FROM documents)),
        |ev AS (SELECT DISTINCT unnest(sh) AS s FROM docs WHERE doc_id < 10),
        |inv AS (SELECT doc_id, unnest(sh) AS s FROM docs)
        |SELECT inv.doc_id, count(*) AS n_hits
        |FROM inv JOIN ev ON inv.s = ev.s
        |GROUP BY inv.doc_id ORDER BY doc_id""".stripMargin,
    "q_decontaminate_remove" ->
      """WITH docs AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
        |         i -> array_to_string(list_slice(toks, i, i+2), ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+') AS toks
        |        FROM documents)),
        |ev AS (SELECT DISTINCT unnest(sh) AS s FROM docs WHERE doc_id < 10),
        |inv AS (SELECT doc_id, unnest(sh) AS s FROM docs),
        |hit AS (SELECT DISTINCT inv.doc_id FROM inv JOIN ev ON inv.s = ev.s)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM hit)
        |ORDER BY d.doc_id""".stripMargin,
    // Same closed-form twin construction as q_dedup_embed: the result is
    // exactly the N twin pairs (cell assignment is scale-invariant).
    "q_dedup_semantic_twins" ->
      ("SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, " +
        "CAST(1.0 AS DOUBLE) AS cosine FROM embeddings ORDER BY id_a, id_b"),
    "q_dedup_semantic" ->
      "SELECT vec_id FROM embeddings ORDER BY vec_id",
    "q_lines_dedup" ->
      s"""WITH d2 AS ($lineDocsSql),
         |ex AS (
         |  SELECT doc_id, unnest(ss) AS line,
         |         unnest(range(1, len(ss) + 1)) AS pos
         |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ss FROM d2)),
         |hot AS (
         |  SELECT line FROM (
         |    SELECT line, count(DISTINCT doc_id) AS n_docs FROM ex GROUP BY 1
         |  ) WHERE n_docs > 20),
         |kept AS (SELECT * FROM ex WHERE line NOT IN (SELECT line FROM hot)),
         |rebuilt AS (
         |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
         |  FROM kept GROUP BY 1)
         |SELECT d2.doc_id, coalesce(r.text, '') AS text
         |FROM d2 LEFT JOIN rebuilt r USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_lines_dup_stats" ->
      s"""WITH d2 AS ($lineDocsSql),
         |ex AS (
         |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM d2)
         |SELECT line, count(DISTINCT doc_id) AS n_docs FROM ex GROUP BY 1
         |HAVING count(DISTINCT doc_id) > 20
         |ORDER BY n_docs DESC, line ASC""".stripMargin,
    // Same synthesized pages; regexp_extract_all in document order,
    // positions via the range-unnest pattern, hosts via the shared
    // host regex (NULL for the relative link).
    "q_web_links" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><body><a href="http://site' || CAST(doc_id % 7 AS VARCHAR) ||
        |  '.example.com/page/' || CAST(doc_id AS VARCHAR) ||
        |  '">first</a><p>' || substr(coalesce(text, ''), 1, 40) ||
        |  '</p><a class=''x'' href=''/local/' || CAST(doc_id AS VARCHAR) ||
        |  '''>rel</a><a href="#top">frag</a><a HREF="HTTPS://Ref.Example.ORG/d?id=' ||
        |  CAST(doc_id + 1 AS VARCHAR) || '&x=1">case</a></body></html>' AS html
        |  FROM documents),
        |l AS (SELECT doc_id, regexp_extract_all(html,
        |  '(?i)<a\s[^>]*href\s*=\s*["'']([^"''#>][^"''>]*)["'']', 1) AS ls FROM h),
        |x AS (SELECT doc_id, i-1 AS pos, ls[i] AS url FROM (
        |  SELECT doc_id, ls, unnest(range(1, len(ls)+1)) AS i FROM l))
        |SELECT doc_id, CAST(pos AS INTEGER) AS pos, url,
        |  regexp_replace(lower(nullif(regexp_extract(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1), '')),
        |    '\.$', '') AS host
        |FROM x ORDER BY doc_id, pos""".stripMargin,
    "q_web_extract" ->
      s"""WITH h AS ($htmlDocsSql)
         |SELECT doc_id,
         |regexp_replace(trim(regexp_replace(regexp_replace(regexp_replace(
         |  replace(replace(replace(replace(replace(replace(
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(regexp_replace(regexp_replace(html,
         |          '(?is)<script[^>]*>.*?</script>', '', 'g'),
         |          '(?is)<style[^>]*>.*?</style>', '', 'g'),
         |          '(?s)<!--.*?-->', '', 'g'),
         |        '(?i)</?(?:p|div|br|li|ul|ol|h[1-6]|tr|table|blockquote)[^>]*>',
         |        chr(10), 'g'),
         |      '<[^>]*>', '', 'g'),
         |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
         |    '&nbsp;', ' '), '&amp;', '&'),
         |  '[ \\t]+', ' ', 'g'),
         |  ' ?\\n ?', chr(10), 'g'),
         |  '\\n+', chr(10), 'g')),
         |  '^\\n|\\n$$', '', 'g') AS text
         |FROM h ORDER BY doc_id""".stripMargin,
    "q_search_bm25" ->
      """WITH q AS (
        |  SELECT CAST(query_id AS BIGINT) AS query_id, term
        |  FROM (VALUES (1, 'spark'), (1, 'join'), (2, 'window'), (2, 'merge'),
        |               (2, 'sort'), (3, 'customer')) v(query_id, term)),
        |toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
        |    '[ \t\n\x0b\f\r]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT term, count(*) AS n_t FROM tf GROUP BY 1),
        |stats AS (
        |  SELECT (SELECT count(*) FROM documents) AS n,
        |         (SELECT CAST(sum(dl) AS DOUBLE) / count(*) FROM dl) AS avgdl),
        |contrib AS (
        |  SELECT q.query_id, tf.doc_id,
        |    round(ln(1 + (n - n_t + 0.5) / (n_t + 0.5)) * (tf * 2.2) /
        |          (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9) AS w
        |  FROM tf JOIN q USING (term) JOIN dfreq USING (term)
        |       JOIN dl USING (doc_id) CROSS JOIN stats),
        |scored AS (
        |  SELECT query_id, doc_id,
        |    round(CAST(sum(CAST(w AS DECIMAL(20,9))) AS DOUBLE), 6) AS score
        |  FROM contrib GROUP BY 1, 2),
        |ranked AS (
        |  SELECT query_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
        |    doc_id, score
        |  FROM scored)
        |SELECT query_id, rank, doc_id, score FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q_search_hybrid" ->
      """WITH q AS (
        |  SELECT CAST(query_id AS BIGINT) AS query_id, term
        |  FROM (VALUES (1, 'spark'), (1, 'join'), (2, 'window'), (2, 'merge'),
        |               (2, 'sort'), (3, 'customer')) v(query_id, term)),
        |toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
        |    '[ \t\n\x0b\f\r]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT term, count(*) AS n_t FROM tf GROUP BY 1),
        |stats AS (
        |  SELECT (SELECT count(*) FROM documents) AS n,
        |         (SELECT CAST(sum(dl) AS DOUBLE) / count(*) FROM dl) AS avgdl),
        |contrib AS (
        |  SELECT q.query_id, tf.doc_id,
        |    round(ln(1 + (n - n_t + 0.5) / (n_t + 0.5)) * (tf * 2.2) /
        |          (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9) AS w
        |  FROM tf JOIN q USING (term) JOIN dfreq USING (term)
        |       JOIN dl USING (doc_id) CROSS JOIN stats),
        |scoredb AS (
        |  SELECT query_id, doc_id,
        |    round(CAST(sum(CAST(w AS DECIMAL(20,9))) AS DOUBLE), 6) AS score
        |  FROM contrib GROUP BY 1, 2),
        |bm AS (SELECT query_id, rank, doc_id FROM (
        |  SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
        |  FROM scoredb) WHERE rank <= 10),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (1, 2, 3)),
        |scoreda AS (
        |  SELECT p.query_id, e.vec_id, list_cosine_similarity(p.qv, e.v) AS cosine
        |  FROM e CROSS JOIN p WHERE e.vec_id != p.query_id),
        |ann AS (SELECT query_id, rank, vec_id AS doc_id FROM (
        |  SELECT query_id, vec_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
        |  FROM scoreda) WHERE rank <= 10),
        |f AS (
        |  SELECT coalesce(bm.query_id, ann.query_id) AS query_id,
        |    coalesce(bm.doc_id, ann.doc_id) AS doc_id,
        |    round(coalesce(CAST(1.0 AS DOUBLE) / (60 + bm.rank), 0) +
        |          coalesce(CAST(1.0 AS DOUBLE) / (60 + ann.rank), 0), 9) AS rrf
        |  FROM bm FULL OUTER JOIN ann
        |    ON bm.query_id = ann.query_id AND bm.doc_id = ann.doc_id)
        |SELECT query_id, rank, doc_id, rrf FROM (
        |  SELECT query_id, doc_id, rrf,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rank
        |  FROM f) WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    "q_ann_mutual" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 50),
        |p AS (SELECT vec_id AS query_id, v AS qv FROM e),
        |scored AS (
        |  SELECT p.query_id, e.vec_id, list_cosine_similarity(p.qv, e.v) AS cosine
        |  FROM e CROSS JOIN p WHERE e.vec_id != p.query_id),
        |top AS (SELECT query_id, vec_id, round(cosine, 6) AS cosine FROM (
        |  SELECT query_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM scored) t WHERE rank <= 5)
        |SELECT a.query_id AS id_a, a.vec_id AS id_b,
        |  a.cosine AS cosine_ab, b.cosine AS cosine_ba
        |FROM top a JOIN top b
        |  ON a.query_id = b.vec_id AND a.vec_id = b.query_id
        |WHERE a.query_id < a.vec_id
        |ORDER BY id_a, id_b""".stripMargin,
    // Neighborhood means = exact DECIMAL sums of the 6-dp top-4 cosines
    // / count as DOUBLE, rounded 9 dp; margin = one division rounded
    // 6 dp — the operator's float discipline, term for term.
    "q_mine_margin" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |xs AS (SELECT * FROM e WHERE vec_id % 2 = 0),
        |ys AS (SELECT * FROM e WHERE vec_id % 2 = 1),
        |fs AS (SELECT x.vec_id AS query_id, y.vec_id AS vec_id,
        |         list_cosine_similarity(x.v, y.v) AS c
        |       FROM xs x CROSS JOIN ys y),
        |fwd AS (SELECT query_id, vec_id, round(c, 6) AS cosine FROM (
        |  SELECT query_id, vec_id, c, row_number() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, vec_id ASC) AS rank FROM fs) t WHERE rank <= 4),
        |bs AS (SELECT y.vec_id AS query_id, x.vec_id AS vec_id,
        |         list_cosine_similarity(y.v, x.v) AS c
        |       FROM ys y CROSS JOIN xs x),
        |bwd AS (SELECT query_id, vec_id, round(c, 6) AS cosine FROM (
        |  SELECT query_id, vec_id, c, row_number() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, vec_id ASC) AS rank FROM bs) t WHERE rank <= 4),
        |ax AS (SELECT query_id AS id,
        |         round(CAST(sum(CAST(cosine AS DECIMAL(10,6))) AS DOUBLE)
        |               / count(*), 9) AS ax
        |       FROM fwd GROUP BY 1),
        |ay AS (SELECT query_id AS id,
        |         round(CAST(sum(CAST(cosine AS DECIMAL(10,6))) AS DOUBLE)
        |               / count(*), 9) AS ay
        |       FROM bwd GROUP BY 1),
        |m AS (SELECT f.query_id, f.vec_id, f.cosine,
        |        round(f.cosine / ((ax.ax + ay.ay) / 2.0), 6) AS margin
        |      FROM fwd f JOIN ax ON f.query_id = ax.id
        |                 JOIN ay ON f.vec_id = ay.id),
        |best AS (SELECT * FROM (
        |  SELECT m.*, row_number() OVER (PARTITION BY query_id
        |    ORDER BY margin DESC, vec_id ASC) AS rn FROM m) t WHERE rn = 1)
        |SELECT query_id AS src_id, vec_id AS tgt_id, cosine, margin
        |FROM best WHERE margin >= 1.0 ORDER BY src_id""".stripMargin,
    // Same bm/ann CTEs as q_search_hybrid; ann's top-10 is the gold set
    // (n_gold = 10 per query here, so the ideal-DCG prefix is the
    // constant Σ_{i=1..10} — matching the operator's least(k, n_gold)).
    "q_retrieval_eval" ->
      """WITH q AS (
        |  SELECT CAST(query_id AS BIGINT) AS query_id, term
        |  FROM (VALUES (1, 'spark'), (1, 'join'), (2, 'window'), (2, 'merge'),
        |               (2, 'sort'), (3, 'customer')) v(query_id, term)),
        |toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
        |    '[ \t\n\x0b\f\r]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT term, count(*) AS n_t FROM tf GROUP BY 1),
        |stats AS (
        |  SELECT (SELECT count(*) FROM documents) AS n,
        |         (SELECT CAST(sum(dl) AS DOUBLE) / count(*) FROM dl) AS avgdl),
        |contrib AS (
        |  SELECT q.query_id, tf.doc_id,
        |    round(ln(1 + (n - n_t + 0.5) / (n_t + 0.5)) * (tf * 2.2) /
        |          (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9) AS w
        |  FROM tf JOIN q USING (term) JOIN dfreq USING (term)
        |       JOIN dl USING (doc_id) CROSS JOIN stats),
        |scoredb AS (
        |  SELECT query_id, doc_id,
        |    round(CAST(sum(CAST(w AS DECIMAL(20,9))) AS DOUBLE), 6) AS score
        |  FROM contrib GROUP BY 1, 2),
        |bm AS (SELECT query_id, rank, doc_id FROM (
        |  SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
        |  FROM scoredb) WHERE rank <= 10),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (1, 2, 3)),
        |scoreda AS (
        |  SELECT p.query_id, e.vec_id, list_cosine_similarity(p.qv, e.v) AS cosine
        |  FROM e CROSS JOIN p WHERE e.vec_id != p.query_id),
        |ann AS (SELECT query_id, vec_id AS doc_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |         ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM scoreda) WHERE rank <= 10),
        |gct AS (SELECT query_id, count(*) AS n_gold FROM ann GROUP BY 1),
        |h AS (SELECT bm.query_id, bm.rank FROM bm JOIN ann USING (query_id, doc_id)),
        |perq AS (
        |  SELECT query_id, count(*) AS hits, min(rank) AS first_rank,
        |    CAST(sum(CAST(round(CAST(1.0 AS DOUBLE) / log2(rank + 1), 9)
        |             AS DECIMAL(20,9))) AS DOUBLE) AS dcg
        |  FROM h GROUP BY 1),
        |ideal AS (
        |  SELECT CAST(sum(CAST(round(CAST(1.0 AS DOUBLE) / log2(i + 1), 9)
        |             AS DECIMAL(20,9))) AS DOUBLE) AS idcg
        |  FROM range(1, 11) t(i))
        |SELECT g.query_id, g.n_gold,
        |  coalesce(p.hits, 0) AS hits,
        |  round(CAST(coalesce(p.hits, 0) AS DOUBLE) / g.n_gold, 6) AS recall_at_k,
        |  CASE WHEN p.first_rank IS NULL THEN CAST(0.0 AS DOUBLE)
        |       ELSE round(CAST(1.0 AS DOUBLE) / p.first_rank, 6) END AS mrr_at_k,
        |  CASE WHEN p.dcg IS NULL THEN CAST(0.0 AS DOUBLE)
        |       ELSE round(p.dcg / idcg, 6) END AS ndcg_at_k
        |FROM gct g LEFT JOIN perq p USING (query_id) CROSS JOIN ideal
        |ORDER BY query_id""".stripMargin,
    "q_keywords_logodds" ->
      """WITH toks AS (SELECT lang = 'es' AS t,
        |    unnest(regexp_split_to_array(trim(lower(text)),
        |      '[ \t\n\x0b\f\r]+')) AS term
        |  FROM documents),
        |f AS (SELECT t, term FROM toks WHERE length(term) > 1),
        |cells AS (SELECT term,
        |    sum(CASE WHEN t THEN 1 ELSE 0 END) AS n_target,
        |    sum(CASE WHEN t THEN 0 ELSE 1 END) AS n_rest
        |  FROM f GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_target) AS DOUBLE) AS nt,
        |    CAST(sum(n_rest) AS DOUBLE) AS nr, count(*) AS v FROM cells),
        |s AS (SELECT term, n_target, n_rest,
        |    round(ln((n_target + 0.01)/(nt + 0.01*v - n_target - 0.01)) -
        |          ln((n_rest + 0.01)/(nr + 0.01*v - n_rest - 0.01)), 9) AS delta
        |  FROM cells CROSS JOIN tot)
        |SELECT term, CAST(n_target AS BIGINT) AS n_target,
        |  CAST(n_rest AS BIGINT) AS n_rest,
        |  round(delta / sqrt(1.0/(n_target + 0.01) + 1.0/(n_rest + 0.01)), 6) AS z
        |FROM s ORDER BY z DESC, term ASC LIMIT 15""".stripMargin,
    // Joint cells + marginals; every plogp term 9-dp in DECIMAL.
    "q_profile_mi" ->
      """WITH cells AS (SELECT CAST(lang AS VARCHAR) AS a,
        |    CAST(source AS VARCHAR) AS b, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
        |ma AS (SELECT a, sum(c) AS na FROM cells GROUP BY 1),
        |mb AS (SELECT b, sum(c) AS nb FROM cells GROUP BY 1),
        |ha AS (SELECT sum(CAST(round(-(CAST(na AS DOUBLE)/n) *
        |    ln(CAST(na AS DOUBLE)/n), 9) AS DECIMAL(20,9))) AS h
        |  FROM ma CROSS JOIN nn),
        |hb AS (SELECT sum(CAST(round(-(CAST(nb AS DOUBLE)/n) *
        |    ln(CAST(nb AS DOUBLE)/n), 9) AS DECIMAL(20,9))) AS h
        |  FROM mb CROSS JOIN nn),
        |mi AS (SELECT sum(CAST(round((CAST(c AS DOUBLE)/n) *
        |    ln((CAST(c AS DOUBLE)*n)/(CAST(na AS DOUBLE)*CAST(nb AS DOUBLE))),
        |    9) AS DECIMAL(20,9))) AS m
        |  FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN nn)
        |SELECT n, round(CAST(ha.h AS DOUBLE), 6) AS h_a,
        |  round(CAST(hb.h AS DOUBLE), 6) AS h_b,
        |  round(CAST(mi.m AS DOUBLE), 6) AS mi,
        |  CASE WHEN ha.h > 0 AND hb.h > 0 THEN
        |    round(CAST(mi.m AS DOUBLE) /
        |          sqrt(CAST(ha.h AS DOUBLE) * CAST(hb.h AS DOUBLE)), 6)
        |  END AS nmi
        |FROM nn CROSS JOIN ha CROSS JOIN hb CROSS JOIN mi""".stripMargin,
    // Per-x max-y cells, descending running max, membership join back.
    "q_sample_pareto" -> paretoOracle("CAST(n_chars AS DOUBLE)"),
    // Wide-range skyline twin: x = doc_id·π, one distinct 6-dp x-cell
    // per document over a corpus-growing range (the oracle applies
    // the operator's 6-dp rounding internally; output keeps raw q1).
    "q_sample_pareto_wide" ->
      paretoOracle("CAST(doc_id AS DOUBLE) * pi()"),
    // Average-rank Mann-Whitney over per-score cells; ranks kept
    // integral as ×2 until the one division.
    "q_eval_auc" ->
      """WITH sc AS (SELECT round(CAST((doc_id * 37) % 101 AS DOUBLE) / 100.0 +
        |    CASE WHEN lang = 'en' THEN 0.15 ELSE 0.0 END, 6) AS s,
        |  lang = 'en' AS y FROM documents),
        |cells AS (SELECT s, count(*) AS n,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS np FROM sc GROUP BY 1),
        |r AS (SELECT *, coalesce(sum(n) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bf
        |  FROM cells),
        |a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |    CAST(sum(n - np) AS BIGINT) AS n_neg,
        |    sum(np * (2*bf + n + 1)) AS s2 FROM r)
        |SELECT n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    round((CAST(s2 AS DOUBLE)/2.0 - CAST(n_pos AS DOUBLE)*(n_pos+1)/2.0)
        |          / (CAST(n_pos AS DOUBLE)*CAST(n_neg AS DOUBLE)), 6) END AS auc
        |FROM a""".stripMargin,
    "q_eval_calibration" ->
      """WITH sc AS (SELECT round(CAST((doc_id * 37) % 101 AS DOUBLE) / 100.0 +
        |    CASE WHEN lang = 'en' THEN 0.15 ELSE 0.0 END, 6) AS s,
        |  lang = 'en' AS y FROM documents),
        |cl AS (SELECT least(greatest(s, 0.0), 1.0) AS s2, y FROM sc),
        |cells AS (SELECT CAST(least(floor(s2 * 10), 9) AS INTEGER) AS bin,
        |    count(*) AS n, sum(CAST(s2 AS DECIMAL(20,9))) AS ss,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS np
        |  FROM cl GROUP BY 1),
        |t AS (SELECT sum(n) AS tt FROM cells)
        |SELECT bin, CAST(n AS BIGINT) AS n,
        |  round(CAST(ss AS DOUBLE)/n, 6) AS avg_score,
        |  round(CAST(np AS DOUBLE)/n, 6) AS pos_rate,
        |  round((CAST(n AS DOUBLE)/tt) *
        |        abs(round(CAST(ss AS DOUBLE)/n, 6) -
        |            round(CAST(np AS DOUBLE)/n, 6)), 6) AS ece_term
        |FROM cells CROSS JOIN t ORDER BY bin""".stripMargin,
    "q_eval_brier" ->
      """WITH sc AS (SELECT round(CAST((doc_id * 37) % 101 AS DOUBLE) / 100.0 +
        |    CASE WHEN lang = 'en' THEN 0.15 ELSE 0.0 END, 6) AS s,
        |  lang = 'en' AS b FROM documents),
        |cl AS (SELECT least(greatest(s, 0.0), 1.0) AS s2,
        |    CASE WHEN b THEN 1.0 ELSE 0.0 END AS y FROM sc),
        |cells AS (SELECT CAST(least(floor(s2 * 10), 9) AS INTEGER) AS bin,
        |    count(*) AS n, sum(CAST(s2 AS DECIMAL(28,9))) AS ss,
        |    sum(CAST(y AS DECIMAL(28,9))) AS sy,
        |    sum(CAST(round((s2 - y) * (s2 - y), 9) AS DECIMAL(28,9))) AS sq
        |  FROM cl GROUP BY 1),
        |t AS (SELECT sum(n) AS n, sum(sq) AS sqt, sum(sy) AS syt FROM cells),
        |terms AS (SELECT t.n, t.sqt,
        |    round(CAST(t.syt AS DOUBLE) / t.n, 9) AS yb,
        |    CAST(round(CAST(c.n AS DOUBLE) *
        |      round((round(CAST(c.ss AS DOUBLE)/c.n, 9) -
        |             round(CAST(c.sy AS DOUBLE)/c.n, 9)) *
        |            (round(CAST(c.ss AS DOUBLE)/c.n, 9) -
        |             round(CAST(c.sy AS DOUBLE)/c.n, 9)), 9), 9)
        |      AS DECIMAL(28,9)) AS rel,
        |    CAST(round(CAST(c.n AS DOUBLE) *
        |      round((round(CAST(c.sy AS DOUBLE)/c.n, 9) -
        |             round(CAST(t.syt AS DOUBLE)/t.n, 9)) *
        |            (round(CAST(c.sy AS DOUBLE)/c.n, 9) -
        |             round(CAST(t.syt AS DOUBLE)/t.n, 9)), 9), 9)
        |      AS DECIMAL(28,9)) AS res
        |  FROM cells c CROSS JOIN t)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(CAST(sqt AS DOUBLE) / n, 6) AS brier,
        |  round(CAST(sum(rel) AS DOUBLE) / n, 6) AS reliability,
        |  round(CAST(sum(res) AS DOUBLE) / n, 6) AS resolution,
        |  round(yb * (1.0 - yb), 6) AS uncertainty
        |FROM terms GROUP BY n, sqt, yb""".stripMargin,
    // Bag-of-tokens intersection WITH multiplicity: per-token min of the
    // two count tables; F1 = 2·overlap/(n_pred+n_gold) algebraically.
    "q_eval_token_f1" ->
      s"""WITH $evalPairsSql,
        |base AS (SELECT id, $predToksSql AS pt, $goldToksSql AS gt,
        |  regexp_replace(trim(coalesce(pred, '')), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g') AS pn,
        |  regexp_replace(trim(coalesce(gold, '')), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g') AS gn
        |  FROM pairs),
        |ptc AS (SELECT id, t, count(*) AS cp
        |        FROM (SELECT id, unnest(pt) AS t FROM base) GROUP BY 1, 2),
        |gtc AS (SELECT id, t, count(*) AS cg
        |        FROM (SELECT id, unnest(gt) AS t FROM base) GROUP BY 1, 2),
        |ov AS (SELECT id, sum(least(cp, cg)) AS ov
        |       FROM ptc JOIN gtc USING (id, t) GROUP BY 1)
        |SELECT b.id,
        |  CAST(len(pt) AS BIGINT) AS n_pred, CAST(len(gt) AS BIGINT) AS n_gold,
        |  CAST(coalesce(o.ov, 0) AS BIGINT) AS overlap,
        |  CASE WHEN len(pt) > 0
        |    THEN round(CAST(coalesce(o.ov, 0) AS DOUBLE) / len(pt), 6) END AS "precision",
        |  CASE WHEN len(gt) > 0
        |    THEN round(CAST(coalesce(o.ov, 0) AS DOUBLE) / len(gt), 6) END AS recall,
        |  CASE WHEN len(pt) + len(gt) > 0
        |    THEN round(2.0 * coalesce(o.ov, 0) /
        |               CAST(len(pt) + len(gt) AS DOUBLE), 6) END AS f1,
        |  CASE WHEN pn = gn THEN 1 ELSE 0 END AS exact_match
        |FROM base b LEFT JOIN ov o USING (id) ORDER BY id""".stripMargin,
    "q_eval_bleu" -> bleuOracle(4),
    "q_eval_wer" ->
      s"""WITH $werPairsSql
        |SELECT id, CAST(length(rs) AS BIGINT) AS n_ref,
        |  CAST(length(hs) AS BIGINT) AS n_hyp,
        |  CAST(levenshtein(hs, rs) AS BIGINT) AS edits,
        |  CASE WHEN length(rs) > 0 THEN
        |    round(CAST(levenshtein(hs, rs) AS DOUBLE) / length(rs), 6)
        |  END AS wer
        |FROM g ORDER BY id""".stripMargin,
    "q_eval_wer_corpus" ->
      s"""WITH $werPairsSql
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(length(rs)) AS BIGINT) AS ref_tokens,
        |  CAST(sum(levenshtein(hs, rs)) AS BIGINT) AS edits,
        |  CASE WHEN sum(length(rs)) > 0 THEN
        |    round(CAST(sum(levenshtein(hs, rs)) AS DOUBLE) /
        |          sum(length(rs)), 6)
        |  END AS wer
        |FROM g""".stripMargin,
    "q_eval_chrf" -> chrfOracle(6, 2.0),
    "q_sample_kcenter" -> kCenterOracle(4),
    // Regenerates the ±1 matrix from SQL md5 (same seed:j:i strings,
    // same first-nibble parity) and left-folds the products in index
    // order — list_reduce starting from 0.0+t1 reproduces the exact
    // IEEE partial sums of the operator's sequential aggregate.
    "q_embed_jl" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |r AS (SELECT vec_id,
        |  list_transform(range(1, 17), j ->
        |    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, 65), i ->
        |        (CASE WHEN substr(md5('graft:' || CAST(j AS VARCHAR) || ':' ||
        |                              CAST(i AS VARCHAR)), 1, 1)
        |                IN ('0', '2', '4', '6', '8', 'a', 'c', 'e')
        |              THEN 1.0 ELSE -1.0 END) * v[i])),
        |      (a, b) -> a + b) / sqrt(16.0), 6)) AS v
        |FROM e)
        |SELECT vec_id, CAST(dim AS INTEGER) AS dim, v[dim] AS value
        |FROM (SELECT vec_id, v, unnest(range(1, 17)) AS dim FROM r)
        |ORDER BY vec_id, dim""".stripMargin,
    "q_embed_pq_codes" -> pqCodesOracle,
    "q_embed_pq_error" -> pqErrorOracle,
    "q_ann_pq" -> pqAdcOracle,
    // all cells probed -> cell tier is a no-op -> plain ADC oracle
    "q_ann_ivfpq" -> pqAdcOracle,
    "q_ann_ivfpq_residual" -> pqResidualAdcOracle,
    "q_ann_pq_recall" -> pqRecallOracle,
    // save/load must be a no-op on ADC results: same plain-ADC oracle
    "q_ann_pq_persisted" -> pqAdcOracle,
    "q_embed_dimstats" ->
      """WITH x AS (
        |  SELECT i AS dim, round(v[i], 9) AS x FROM (
        |    SELECT CAST(embedding AS DOUBLE[]) AS v,
        |           unnest(range(1, len(embedding)+1)) AS i
        |    FROM embeddings)),
        |a AS (SELECT dim, count(*) AS n,
        |        sum(CAST(x AS DECIMAL(28,9))) AS s,
        |        sum(CAST(round(x*x, 9) AS DECIMAL(28,9))) AS s2,
        |        min(x) AS min_val, max(x) AS max_val
        |      FROM x GROUP BY 1),
        |m AS (SELECT dim, n, round(CAST(s AS DOUBLE)/n, 9) AS mn,
        |        round(CAST(s2 AS DOUBLE)/n, 9) AS e2, min_val, max_val
        |      FROM a)
        |SELECT CAST(dim AS INTEGER) AS dim, CAST(n AS BIGINT) AS n,
        |  round(mn, 6) AS mean, round(e2 - mn*mn, 6) AS variance,
        |  min_val, max_val
        |FROM m ORDER BY dim""".stripMargin,
    // Same one-pass explode: each vector contributes its d(d+1)/2
    // upper-triangle products. Rounds appear ONLY on sum operands
    // (order-independence); cov itself is full IEEE double, published
    // once at 6 dp with +0.0 collapsing -0.0 — rounding short decimals
    // again would manufacture cross-engine .5 ties.
    "q_embed_covariance" ->
      """WITH x AS (SELECT CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE embedding IS NOT NULL),
        |a AS (SELECT v, unnest(range(1, len(v)+1)) AS i FROM x),
        |c AS (SELECT i, v, unnest(range(1, len(v)+1)) AS j FROM a),
        |p AS (SELECT i, j, v[i] AS xi, v[j] AS xj FROM c WHERE j >= i),
        |g AS (SELECT i, j, count(*) AS n,
        |        sum(CAST(round(xi*xj, 9) AS DECIMAL(38,9))) AS sxy,
        |        sum(CAST(round(xi, 9) AS DECIMAL(38,9))) AS sx,
        |        sum(CAST(round(xj, 9) AS DECIMAL(38,9))) AS sy
        |      FROM p GROUP BY 1, 2)
        |SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j, n,
        |  round(CAST(sxy AS DOUBLE)/n -
        |    (CAST(sx AS DOUBLE)/n) * (CAST(sy AS DOUBLE)/n), 6) + 0.0
        |    AS cov
        |FROM g ORDER BY i, j""".stripMargin,
    // Full-precision covariance mirrored to the full matrix, then 3
    // unrolled power-iteration rounds (w = C.v, v = w/||w||). The only
    // rounds are the 12-dp sum-operand rounds; means, norms and
    // normalized components are raw IEEE doubles — bit-identical across
    // engines — published once at 6 dp (+0.0 collapses -0.0).
    "q_embed_pca" ->
      """WITH x AS (SELECT CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE embedding IS NOT NULL),
        |a AS (SELECT v, unnest(range(1, len(v)+1)) AS i FROM x),
        |c AS (SELECT i, v, unnest(range(1, len(v)+1)) AS j FROM a),
        |p AS (SELECT i, j, v[i] AS xi, v[j] AS xj FROM c WHERE j >= i),
        |g AS (SELECT i, j, count(*) AS n,
        |        sum(CAST(round(xi*xj, 9) AS DECIMAL(38,9))) AS sxy,
        |        sum(CAST(round(xi, 9) AS DECIMAL(38,9))) AS sx,
        |        sum(CAST(round(xj, 9) AS DECIMAL(38,9))) AS sy
        |      FROM p GROUP BY 1, 2),
        |up AS (SELECT i, j,
        |         CAST(sxy AS DOUBLE)/n -
        |           (CAST(sx AS DOUBLE)/n) * (CAST(sy AS DOUBLE)/n) AS cov
        |       FROM g),
        |cm AS (SELECT i, j, cov FROM up
        |       UNION ALL SELECT j, i, cov FROM up WHERE i != j),
        |dd AS (SELECT CAST(max(j) AS DOUBLE) AS d FROM up),
        |v0 AS (SELECT DISTINCT i AS dim,
        |         1.0 / sqrt((SELECT d FROM dd)) AS x FROM cm),
        |w1 AS (SELECT cm.i AS wdim,
        |         CAST(sum(CAST(round(cm.cov * v.x, 12)
        |           AS DECIMAL(38,12))) AS DOUBLE) AS w
        |       FROM cm JOIN v0 v ON cm.j = v.dim GROUP BY 1),
        |n1 AS (SELECT sqrt(CAST(sum(CAST(round(w*w, 12)
        |         AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM w1),
        |v1 AS (SELECT wdim AS dim, w / (SELECT nrm FROM n1) AS x FROM w1),
        |w2 AS (SELECT cm.i AS wdim,
        |         CAST(sum(CAST(round(cm.cov * v.x, 12)
        |           AS DECIMAL(38,12))) AS DOUBLE) AS w
        |       FROM cm JOIN v1 v ON cm.j = v.dim GROUP BY 1),
        |n2 AS (SELECT sqrt(CAST(sum(CAST(round(w*w, 12)
        |         AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM w2),
        |v2 AS (SELECT wdim AS dim, w / (SELECT nrm FROM n2) AS x FROM w2),
        |w3 AS (SELECT cm.i AS wdim,
        |         CAST(sum(CAST(round(cm.cov * v.x, 12)
        |           AS DECIMAL(38,12))) AS DOUBLE) AS w
        |       FROM cm JOIN v2 v ON cm.j = v.dim GROUP BY 1),
        |n3 AS (SELECT sqrt(CAST(sum(CAST(round(w*w, 12)
        |         AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM w3),
        |v3 AS (SELECT wdim AS dim, w / (SELECT nrm FROM n3) AS x FROM w3)
        |SELECT dim, round(x, 6) + 0.0 AS loading,
        |  round((SELECT nrm FROM n3), 6) + 0.0 AS eigenvalue
        |FROM v3 ORDER BY dim""".stripMargin,
    // Left-fold dot product (list_reduce with 0.0 prepended == Spark's
    // aggregate init) against the same exact-binary ±0.125 direction,
    // then the per-element correction, rounded once at 6 dp.
    "q_embed_remove_top" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |p AS (SELECT vec_id, v,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(range(1, 65), i ->
        |      (CASE WHEN i % 2 = 1 THEN 0.125 ELSE -0.125 END) * v[i])),
        |    (a, b) -> a + b) AS pr
        |  FROM e),
        |r AS (SELECT vec_id,
        |  list_transform(range(1, 65), i ->
        |    round(v[i] - pr * (CASE WHEN i % 2 = 1 THEN 0.125
        |                            ELSE -0.125 END), 6) + 0.0) AS v
        |FROM p)
        |SELECT vec_id, CAST(dim AS INTEGER) AS dim, v[dim] AS value
        |FROM (SELECT vec_id, v, unnest(range(1, 65)) AS dim FROM r)
        |ORDER BY vec_id, dim""".stripMargin,
    // d-cell stats (decimal-summed operands, raw-double mean/sigma),
    // assembled into dim-ordered lists, then the same (x-mu)/sd
    // element math — one publish round at 6 dp.
    "q_embed_standardize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |x AS (SELECT i AS d, v[i] AS x FROM
        |        (SELECT v, unnest(range(1, len(v)+1)) AS i FROM e)),
        |st AS (SELECT d, count(*) AS n,
        |         sum(CAST(round(x, 9) AS DECIMAL(38,9))) AS s,
        |         sum(CAST(round(x*x, 9) AS DECIMAL(38,9))) AS s2
        |       FROM x GROUP BY 1),
        |ms AS (SELECT d, CAST(s AS DOUBLE)/n AS mu,
        |         sqrt(greatest(CAST(s2 AS DOUBLE)/n -
        |           (CAST(s AS DOUBLE)/n)*(CAST(s AS DOUBLE)/n), 0.0))
        |           AS sd
        |       FROM st),
        |arrs AS (SELECT list(mu ORDER BY d) AS mus,
        |           list(greatest(sd, 1e-9) ORDER BY d) AS sds FROM ms),
        |r AS (SELECT vec_id,
        |  list_transform(range(1, 65), i ->
        |    round((v[i] - mus[i]) / sds[i], 6) + 0.0) AS v
        |FROM e CROSS JOIN arrs)
        |SELECT vec_id, CAST(dim AS INTEGER) AS dim, v[dim] AS value
        |FROM (SELECT vec_id, v, unnest(range(1, 65)) AS dim FROM r)
        |ORDER BY vec_id, dim""".stripMargin,
    // Replays the deterministic construction exactly: same md5 block
    // hash (threshold 0.2 → '33333333'), same run merging, same ordered
    // re-assembly — string_agg(… ORDER BY pos) ≡ the array_sort fold.
    "q_augment_span" ->
      s"""WITH base AS (SELECT doc_id AS id, $toksSql AS t FROM documents),
        |tok0 AS (SELECT id, t, unnest(range(1, len(t)+1)) AS i FROM base),
        |tok AS (SELECT id, i-1 AS pos, t[i] AS tok, (i-1)//3 AS blk FROM tok0),
        |fl AS (SELECT id, pos, tok,
        |  substr(md5('graft:' || CAST(id AS VARCHAR) || ':' ||
        |             CAST(blk AS VARCHAR)), 1, 8)
        |    < '${graft.operators.Split.thresholdHex(0.2)}' AS drp FROM tok),
        |st AS (SELECT *, drp AND NOT coalesce(
        |    lag(drp) OVER (PARTITION BY id ORDER BY pos), FALSE) AS strt
        |  FROM fl),
        |rn AS (SELECT *, sum(CASE WHEN strt THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM st),
        |io AS (SELECT id, pos, drp, run,
        |  CASE WHEN NOT drp THEN tok
        |       WHEN strt THEN '<extra_id_' || CAST(run-1 AS VARCHAR) || '>'
        |  END AS itok,
        |  CASE WHEN drp AND strt
        |         THEN '<extra_id_' || CAST(run-1 AS VARCHAR) || '> ' || tok
        |       WHEN drp THEN tok END AS ttok
        |  FROM rn),
        |built AS (SELECT id,
        |  string_agg(itok, ' ' ORDER BY pos) FILTER (WHERE itok IS NOT NULL)
        |    AS input_text,
        |  string_agg(ttok, ' ' ORDER BY pos) FILTER (WHERE ttok IS NOT NULL)
        |    AS target_text,
        |  sum(CASE WHEN drp THEN 1 ELSE 0 END) AS n_dropped,
        |  max(run) AS n_spans
        |  FROM io GROUP BY 1)
        |SELECT b.id, coalesce(bu.input_text, '') AS input_text,
        |  coalesce(bu.target_text, '') AS target_text,
        |  CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(bu.n_dropped, 0) AS BIGINT) AS n_dropped,
        |  CAST(coalesce(bu.n_spans, 0) AS BIGINT) AS n_spans
        |FROM base b LEFT JOIN built bu USING (id) ORDER BY id""".stripMargin,
    // Same clipped-count pattern as tokenF1, on bigrams.
    "q_eval_rouge2" ->
      s"""WITH $evalPairsSql,
        |b0 AS (SELECT id, $predToksSql AS pt, $goldToksSql AS gt FROM pairs),
        |base AS (SELECT id,
        |  list_transform(range(1, greatest(len(pt)-1, 0)+1),
        |    i -> array_to_string(list_slice(pt, i, i+1), ' ')) AS pg,
        |  list_transform(range(1, greatest(len(gt)-1, 0)+1),
        |    i -> array_to_string(list_slice(gt, i, i+1), ' ')) AS gg
        |  FROM b0),
        |ptc AS (SELECT id, g, count(*) AS cp
        |        FROM (SELECT id, unnest(pg) AS g FROM base) GROUP BY 1, 2),
        |gtc AS (SELECT id, g, count(*) AS cg
        |        FROM (SELECT id, unnest(gg) AS g FROM base) GROUP BY 1, 2),
        |ov AS (SELECT id, sum(least(cp, cg)) AS ov
        |       FROM ptc JOIN gtc USING (id, g) GROUP BY 1)
        |SELECT b.id,
        |  CAST(len(pg) AS BIGINT) AS n_pred_ngrams,
        |  CAST(len(gg) AS BIGINT) AS n_gold_ngrams,
        |  CAST(coalesce(o.ov, 0) AS BIGINT) AS overlap,
        |  CASE WHEN len(pg) > 0
        |    THEN round(CAST(coalesce(o.ov, 0) AS DOUBLE) / len(pg), 6)
        |  END AS "precision",
        |  CASE WHEN len(gg) > 0
        |    THEN round(CAST(coalesce(o.ov, 0) AS DOUBLE) / len(gg), 6)
        |  END AS recall,
        |  CASE WHEN len(pg) + len(gg) > 0
        |    THEN round(2.0 * coalesce(o.ov, 0) /
        |               CAST(len(pg) + len(gg) AS DOUBLE), 6)
        |  END AS f1
        |FROM base b LEFT JOIN ov o USING (id) ORDER BY id""".stripMargin,
    // Closed-form LCS arithmetic: even docs n/n/n, odd docs
    // (⌈n/2⌉+1)/n/⌈n/2⌉ — see the q_eval_rouge_l_twin gate comment.
    "q_eval_rouge_l_twin" ->
      s"""WITH b AS (SELECT doc_id AS id, len($toksSql) AS n FROM documents),
        |c AS (SELECT id, n,
        |  CASE WHEN id % 2 = 0 THEN n ELSE (n+1)//2 + 1 END AS n_pred,
        |  n AS n_gold,
        |  CASE WHEN id % 2 = 0 THEN n ELSE (n+1)//2 END AS lcs
        |  FROM b)
        |SELECT id, CAST(n_pred AS BIGINT) AS n_pred,
        |  CAST(n_gold AS BIGINT) AS n_gold, CAST(lcs AS BIGINT) AS lcs,
        |  CASE WHEN n_pred > 0
        |    THEN round(CAST(lcs AS DOUBLE)/n_pred, 6) END AS "precision",
        |  CASE WHEN n_gold > 0
        |    THEN round(CAST(lcs AS DOUBLE)/n_gold, 6) END AS recall,
        |  CASE WHEN n_pred + n_gold > 0
        |    THEN round(2.0*lcs/CAST(n_pred + n_gold AS DOUBLE), 6)
        |  END AS f1
        |FROM c ORDER BY id""".stripMargin,
    "q_rater_kappa" ->
      """WITH r AS (
        |  SELECT CASE WHEN n_chars >= 400 THEN 'keep' ELSE 'drop' END AS a,
        |         CASE WHEN len(regexp_split_to_array(trim(text),
        |           '[ \t\n\x0b\f\r]+')) >= 60 THEN 'keep' ELSE 'drop' END AS b
        |  FROM documents),
        |cells AS (SELECT a, b, count(*) AS c FROM r GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |               CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS agree
        |        FROM cells),
        |ma AS (SELECT a, sum(c) AS na FROM cells GROUP BY 1),
        |mb AS (SELECT b, sum(c) AS nb FROM cells GROUP BY 1),
        |ch AS (SELECT sum(na * nb) AS prod FROM ma JOIN mb ON ma.a = mb.b)
        |SELECT n, agree,
        |  round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS observed_agreement,
        |  round(CAST(prod AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
        |    AS chance_agreement,
        |  CASE WHEN CAST(prod AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) = 1.0
        |       THEN NULL
        |       ELSE round((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) -
        |                   CAST(prod AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) /
        |                  (1.0 - CAST(prod AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))),
        |                  6) END AS kappa
        |FROM tot CROSS JOIN ch""".stripMargin,
    // Per-item disagreement terms round to 9 dp and decimal-sum (the
    // BM25 recipe); category products run in DECIMAL; divisions mirror
    // the operator's expression shapes exactly.
    "q_rater_alpha" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    CASE WHEN n_chars >= 400 THEN 'keep' ELSE 'drop' END AS r_len,
        |    CASE WHEN len(regexp_split_to_array(trim(text),
        |      '[ \t\n\x0b\f\r]+')) >= 60 THEN 'keep' ELSE 'drop' END AS r_tok,
        |    CASE WHEN doc_id % 3 = 0 THEN NULL
        |         WHEN len(string_split(text, chr(10))) >= 5
        |         THEN 'keep' ELSE 'drop' END AS r_lines
        |  FROM documents),
        |long AS (
        |  SELECT doc_id, r_len AS label FROM r UNION ALL
        |  SELECT doc_id, r_tok FROM r UNION ALL
        |  SELECT doc_id, r_lines FROM r),
        |cells AS (SELECT doc_id, label, count(*) AS nij FROM long
        |          WHERE label IS NOT NULL GROUP BY 1, 2),
        |items AS (SELECT doc_id, sum(nij) AS mi FROM cells
        |          GROUP BY 1 HAVING sum(nij) >= 2),
        |pair AS (SELECT c.doc_id, c.label, c.nij, i.mi
        |         FROM cells c JOIN items i USING (doc_id)),
        |obs AS (SELECT sum(CAST(round(
        |          CAST(nij * (mi - nij) AS DOUBLE) / CAST(mi - 1 AS DOUBLE), 9)
        |          AS DECIMAL(28,9))) AS d_o FROM pair),
        |tot AS (SELECT CAST(sum(mi) AS BIGINT) AS n,
        |               CAST(count(*) AS BIGINT) AS n_items FROM items),
        |cat AS (SELECT sum(CAST(nc AS DECIMAL(38,0)) * nc) AS nc2 FROM (
        |          SELECT label, sum(nij) AS nc FROM pair GROUP BY 1)),
        |m AS (SELECT n_items, n,
        |        CAST(d_o AS DOUBLE) / CAST(n AS DOUBLE) AS davg,
        |        CAST(CAST(n AS DECIMAL(38,0)) * n - nc2 AS DOUBLE) /
        |          CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE) AS de
        |      FROM tot CROSS JOIN obs CROSS JOIN cat)
        |SELECT n_items, n, round(davg, 6) AS observed_disagreement,
        |  round(de, 6) AS expected_disagreement,
        |  CASE WHEN de = 0.0 THEN NULL
        |       ELSE round(1.0 - davg / de, 6) END AS alpha
        |FROM m""".stripMargin,
    // All operands are small exact integers in doubles, so each division
    // is IEEE-identical cross-engine; multiplication order mirrors the
    // operator ((N·n)·(n−1) and (N·n)·(N·n)).
    "q_rater_fleiss" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    CASE WHEN n_chars >= 400 THEN 'keep' ELSE 'drop' END AS r_len,
        |    CASE WHEN len(regexp_split_to_array(trim(text),
        |      '[ \t\n\x0b\f\r]+')) >= 60 THEN 'keep' ELSE 'drop' END AS r_tok,
        |    CASE WHEN len(string_split(text, chr(10))) >= 5
        |         THEN 'keep' ELSE 'drop' END AS r_lines
        |  FROM documents),
        |long AS (
        |  SELECT doc_id, r_len AS label FROM r UNION ALL
        |  SELECT doc_id, r_tok FROM r UNION ALL
        |  SELECT doc_id, r_lines FROM r),
        |cells AS (SELECT doc_id, label, count(*) AS nij FROM long GROUP BY 1, 2),
        |peri AS (SELECT doc_id, sum(nij) AS ni, sum(nij * nij) AS sq
        |         FROM cells GROUP BY 1 HAVING sum(nij) = 3),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
        |               sum(sq - 3) AS agree_num FROM peri),
        |cat AS (SELECT sum(cj * cj) AS cj2 FROM (
        |  SELECT label, sum(nij) AS cj
        |  FROM cells JOIN peri USING (doc_id) GROUP BY 1)),
        |m AS (SELECT n_items,
        |  CAST(agree_num AS DOUBLE) /
        |    (CAST(n_items AS DOUBLE) * 3.0 * 2.0) AS po,
        |  CAST(cj2 AS DOUBLE) /
        |    ((CAST(n_items AS DOUBLE) * 3.0) * (CAST(n_items AS DOUBLE) * 3.0)) AS pe
        |  FROM agg CROSS JOIN cat)
        |SELECT n_items, round(po, 6) AS observed_agreement,
        |  round(pe, 6) AS chance_agreement,
        |  CASE WHEN pe = 1.0 THEN NULL
        |       ELSE round((po - pe) / (1.0 - pe), 6) END AS kappa
        |FROM m""".stripMargin,
    "q_lm_score" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)),
        |    '[ \t\n\x0b\f\r]+')) AS term
        |  FROM documents),
        |counts AS (SELECT term, count(*) AS c FROM toks
        |           WHERE length(term) > 0 GROUP BY 1),
        |stats AS (SELECT CAST(sum(c) AS DOUBLE) AS t_total,
        |                 CAST(count(*) AS DOUBLE) AS v FROM counts),
        |dtoks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
        |    '[ \t\n\x0b\f\r]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM dtoks
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |contrib AS (
        |  SELECT doc_id, tf,
        |    round(-tf * ln((coalesce(c, 0) + 0.5) /
        |          (t_total + 0.5 * (v + 1.0))), 9) AS w
        |  FROM tf LEFT JOIN counts USING (term) CROSS JOIN stats),
        |scored AS (
        |  SELECT doc_id, sum(tf) AS n_tokens,
        |    round(CAST(sum(CAST(w AS DECIMAL(20,9))) AS DOUBLE) / sum(tf), 6) AS nll
        |  FROM contrib GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens, s.nll
        |FROM documents d LEFT JOIN scored s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // CCNet tiers: identical scoring CTE as q_lm_score, then a
    // per-language ntile with NULLS LAST pinned on both engines.
    "q_lm_buckets" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)),
        |    '[ \t\n\x0b\f\r]+')) AS term
        |  FROM documents),
        |counts AS (SELECT term, count(*) AS c FROM toks
        |           WHERE length(term) > 0 GROUP BY 1),
        |stats AS (SELECT CAST(sum(c) AS DOUBLE) AS t_total,
        |                 CAST(count(*) AS DOUBLE) AS v FROM counts),
        |dtoks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
        |    '[ \t\n\x0b\f\r]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM dtoks
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |contrib AS (
        |  SELECT doc_id, tf,
        |    round(-tf * ln((coalesce(c, 0) + 0.5) /
        |          (t_total + 0.5 * (v + 1.0))), 9) AS w
        |  FROM tf LEFT JOIN counts USING (term) CROSS JOIN stats),
        |scored AS (
        |  SELECT doc_id, sum(tf) AS n_tokens,
        |    round(CAST(sum(CAST(w AS DECIMAL(20,9))) AS DOUBLE) / sum(tf), 6) AS nll
        |  FROM contrib GROUP BY 1)
        |SELECT d.doc_id, d.lang,
        |  CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens, s.nll,
        |  CAST(ntile(3) OVER (PARTITION BY d.lang
        |       ORDER BY s.nll ASC NULLS LAST, d.doc_id ASC) AS INT) AS bucket
        |FROM documents d LEFT JOIN scored s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Interpolated Kneser-Ney bigram NLL; identical count tables,
    // identically-parenthesized probability expression, LmScore
    // decimal-sum determinism recipe.
    "q_lm_kn" ->
      """WITH bg AS (
        |  SELECT doc_id, string_split(g, ' ')[1] AS w1,
        |         string_split(g, ' ')[2] AS w2
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(toks)-1, 1)+1),
        |      i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS g
        |    FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)),
        |            '[ \t\n\x0b\f\r]+') AS toks FROM documents))
        |  WHERE g LIKE '% %'),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(c12) AS c1, count(*) AS n1fw
        |        FROM c12 GROUP BY 1),
        |cont AS (SELECT w2, count(*) AS n1bw FROM c12 GROUP BY 1),
        |tot AS (SELECT
        |  (SELECT CAST(count(*) AS DOUBLE) FROM c12) AS nbig,
        |  (SELECT CAST(count(DISTINCT w) AS DOUBLE) FROM
        |     (SELECT unnest(regexp_split_to_array(trim(lower(text)),
        |        '[ \t\n\x0b\f\r]+')) AS w FROM documents)
        |     WHERE length(w) > 0) AS v),
        |tf AS (SELECT doc_id, w1, w2, count(*) AS tf
        |       FROM bg GROUP BY 1, 2, 3),
        |p AS (SELECT doc_id, tf, v,
        |  (greatest(CAST(coalesce(c12, 0) AS DOUBLE) - 0.75, 0.0) +
        |   0.75 * CAST(coalesce(n1fw, 0) AS DOUBLE) *
        |     CAST(coalesce(n1bw, 0) AS DOUBLE) / nbig)
        |  / CAST(c1 AS DOUBLE) AS p0
        |  FROM tf LEFT JOIN c12 USING (w1, w2) LEFT JOIN ctx USING (w1)
        |       LEFT JOIN cont USING (w2) CROSS JOIN tot),
        |con AS (SELECT doc_id, tf,
        |  round(-tf * ln(CASE WHEN p0 IS NULL OR p0 = 0.0
        |                      THEN 1.0 / (v + 1.0) ELSE p0 END), 9) AS w
        |  FROM p),
        |s AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |  round(CAST(sum(CAST(w AS DECIMAL(20,9))) AS DOUBLE) / sum(tf), 6)
        |    AS kn_nll
        |  FROM con GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |       s.kn_nll
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_profile_corr" -> corrOracle("lineitem",
      Seq("l_quantity", "l_extendedprice", "l_discount")),
    "q_sample_topk_heap" ->
      s"""WITH q AS ($qualityOracle),
         |s AS (SELECT d.lang, d.doc_id, q.quality AS score
         |      FROM documents d JOIN q USING (doc_id)),
         |r AS (SELECT lang, doc_id, score,
         |        row_number() OVER (PARTITION BY lang
         |          ORDER BY score DESC, doc_id ASC) AS rn
         |      FROM s)
         |SELECT lang, doc_id, score FROM r WHERE rn <= 5
         |ORDER BY lang, doc_id""".stripMargin,
    "q_augment_dropout" -> augmentTokenOracle(0.1, drop = true),
    "q_augment_mask" -> augmentTokenOracle(0.15, drop = false),
    // Moore-Lewis: the q_lm_score CTE twice (target = English slice,
    // general = whole corpus), diff of the two 6-dp scores.
    "q_lm_moore_lewis" ->
      """WITH dtoks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
        |    '[ \t\n\x0b\f\r]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM dtoks
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |ttoks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)),
        |    '[ \t\n\x0b\f\r]+')) AS term
        |  FROM documents WHERE lang = 'en'),
        |tcounts AS (SELECT term, count(*) AS c FROM ttoks
        |            WHERE length(term) > 0 GROUP BY 1),
        |tstats AS (SELECT CAST(sum(c) AS DOUBLE) AS t_total,
        |                  CAST(count(*) AS DOUBLE) AS v FROM tcounts),
        |tcontrib AS (
        |  SELECT doc_id, tf,
        |    round(-tf * ln((coalesce(c, 0) + 0.5) /
        |          (t_total + 0.5 * (v + 1.0))), 9) AS w
        |  FROM tf LEFT JOIN tcounts USING (term) CROSS JOIN tstats),
        |tscored AS (
        |  SELECT doc_id, sum(tf) AS n_tokens,
        |    round(CAST(sum(CAST(w AS DECIMAL(20,9))) AS DOUBLE) / sum(tf), 6)
        |      AS nll
        |  FROM tcontrib GROUP BY 1),
        |gtoks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)),
        |    '[ \t\n\x0b\f\r]+')) AS term
        |  FROM documents),
        |gcounts AS (SELECT term, count(*) AS c FROM gtoks
        |            WHERE length(term) > 0 GROUP BY 1),
        |gstats AS (SELECT CAST(sum(c) AS DOUBLE) AS t_total,
        |                  CAST(count(*) AS DOUBLE) AS v FROM gcounts),
        |gcontrib AS (
        |  SELECT doc_id, tf,
        |    round(-tf * ln((coalesce(c, 0) + 0.5) /
        |          (t_total + 0.5 * (v + 1.0))), 9) AS w
        |  FROM tf LEFT JOIN gcounts USING (term) CROSS JOIN gstats),
        |gscored AS (
        |  SELECT doc_id,
        |    round(CAST(sum(CAST(w AS DECIMAL(20,9))) AS DOUBLE) / sum(tf), 6)
        |      AS nll
        |  FROM gcontrib GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  round(t.nll - g.nll, 6) AS ce_diff
        |FROM documents d LEFT JOIN tscored t USING (doc_id)
        |     LEFT JOIN gscored g USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_lm_kn3" ->
      """WITH tg AS (
        |  SELECT doc_id, string_split(g, ' ')[1] AS w1,
        |         string_split(g, ' ')[2] AS w2,
        |         string_split(g, ' ')[3] AS w3
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(toks)-2, 1)+1),
        |      i -> array_to_string(list_slice(toks, i, i+2), ' '))) AS g
        |    FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)),
        |            '[ \t\n\x0b\f\r]+') AS toks FROM documents))
        |  WHERE len(string_split(g, ' ')) = 3),
        |c123 AS (SELECT w1, w2, w3, count(*) AS c123 FROM tg GROUP BY 1, 2, 3),
        |ctx12 AS (SELECT w1, w2, sum(c123) AS c12dot, count(*) AS n1fw12
        |          FROM c123 GROUP BY 1, 2),
        |t23 AS (SELECT w2, w3, count(*) AS ct23 FROM c123 GROUP BY 1, 2),
        |mid AS (SELECT w2, sum(ct23) AS t2dot, count(*) AS n1fw2
        |        FROM t23 GROUP BY 1),
        |cont AS (SELECT w3, count(*) AS n1bw3 FROM t23 GROUP BY 1),
        |tot AS (SELECT
        |  (SELECT CAST(count(*) AS DOUBLE) FROM t23) AS nbt,
        |  (SELECT CAST(count(DISTINCT w) AS DOUBLE) FROM
        |     (SELECT unnest(regexp_split_to_array(trim(lower(text)),
        |        '[ \t\n\x0b\f\r]+')) AS w FROM documents)
        |     WHERE length(w) > 0) AS v),
        |tf AS (SELECT doc_id, w1, w2, w3, count(*) AS tf
        |       FROM tg GROUP BY 1, 2, 3, 4),
        |p AS (SELECT doc_id, tf, v,
        |  (greatest(CAST(coalesce(c123, 0) AS DOUBLE) - 0.75, 0.0) +
        |   0.75 * CAST(coalesce(n1fw12, 0) AS DOUBLE) *
        |     ((greatest(CAST(coalesce(ct23, 0) AS DOUBLE) - 0.75, 0.0) +
        |       0.75 * CAST(coalesce(n1fw2, 0) AS DOUBLE) *
        |         (CAST(coalesce(n1bw3, 0) AS DOUBLE) / nbt))
        |      / CAST(t2dot AS DOUBLE)))
        |  / CAST(c12dot AS DOUBLE) AS p0
        |  FROM tf LEFT JOIN c123 USING (w1, w2, w3)
        |       LEFT JOIN ctx12 USING (w1, w2)
        |       LEFT JOIN t23 USING (w2, w3)
        |       LEFT JOIN mid USING (w2)
        |       LEFT JOIN cont USING (w3) CROSS JOIN tot),
        |con AS (SELECT doc_id, tf,
        |  round(-tf * ln(CASE WHEN p0 IS NULL OR p0 = 0.0
        |                      THEN 1.0 / (v + 1.0) ELSE p0 END), 9) AS w
        |  FROM p),
        |s AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
        |  round(CAST(sum(CAST(w AS DECIMAL(20,9))) AS DOUBLE) / sum(tf), 6)
        |    AS kn3_nll
        |  FROM con GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(coalesce(s.n_trigrams, 0) AS BIGINT) AS n_trigrams,
        |       s.kn3_nll
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // DSIR: the polynomial bucket hash is reproduced character-by-
    // character — list_reduce seeds with the first code point, which
    // equals the Spark fold's first step because PolyMod > 0x10FFFF.
    "q_dsir_weights" -> dsirWeightsSql,
    // Stream-score: per-occurrence rounded bucket weights, exact
    // decimal sum per doc (associative — any summation order matches
    // the Spark HOF's left fold).
    "q_dsir_stream_score" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS ws
        |  FROM documents),
        |uni AS (
        |  SELECT doc_id, lang, w, i
        |  FROM (SELECT doc_id, lang, unnest(ws) AS w,
        |               unnest(range(1, len(ws) + 1)) AS i FROM toks)
        |  WHERE length(w) > 0),
        |feats AS (
        |  SELECT doc_id, lang, w AS f FROM uni
        |  UNION ALL
        |  SELECT a.doc_id, a.lang, a.w || ' ' || b.w
        |  FROM uni a JOIN uni b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        |fb AS (
        |  SELECT doc_id, lang,
        |    list_reduce(list_transform(string_split(f, ''), x -> unicode(x)),
        |                (h, c) -> (h * 31 + c) % 2000003) % 4096 AS b
        |  FROM feats),
        |tc AS (SELECT b, count(*) AS ct FROM fb WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT b, count(*) AS cr FROM fb GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(ct) AS DOUBLE) FROM tc) AS tt,
        |               (SELECT CAST(sum(cr) AS DOUBLE) FROM rc) AS tr),
        |wt AS (SELECT t.b,
        |         round(ln((coalesce(ct, 0) + 1.0) / (tt + 1.0 * 4096)) -
        |               ln((coalesce(cr, 0) + 1.0) / (tr + 1.0 * 4096)), 9) AS w
        |       FROM (SELECT unnest(range(0, 4096)) AS b) t
        |       LEFT JOIN tc USING (b) LEFT JOIN rc USING (b) CROSS JOIN tot),
        |sc AS (SELECT fb.doc_id,
        |         round(CAST(sum(CAST(w AS DECIMAL(20,9))) AS DOUBLE), 6)
        |           AS dsir_score
        |       FROM fb JOIN wt USING (b) GROUP BY 1)
        |SELECT d.doc_id, sc.dsir_score
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Gumbel top-k over the same weights: u replays the Spark-side
    // polynomial fold of the doc id, so the sample is bit-identical.
    "q_dsir_sample" ->
      s"""WITH dw AS ($dsirWeightsSql)
         |SELECT doc_id, n_feats, dsir_weight,
         |  round(dsir_weight + (-ln(-ln(
         |    (CAST(list_reduce(list_transform(
         |       string_split(CAST(doc_id AS VARCHAR), ''), x -> unicode(x)),
         |       (h, c) -> (h * 31 + c) % 2000003) AS DOUBLE) + 0.5)
         |    / 2000003.0))), 6) AS gumbel_key
         |FROM dw
         |ORDER BY gumbel_key DESC NULLS LAST, doc_id ASC
         |LIMIT 50""".stripMargin,
    // Within-doc line dedup over the self-repeating construction;
    // DuckDB's list_filter index is 1-based where Spark's is 0-based.
    "q_lines_dedup_within" ->
      """WITH d2 AS (
        |  SELECT doc_id,
        |    substr(coalesce(text, ''), 1, 60) || chr(10) ||
        |    'PLEASE SUBSCRIBE TO OUR NEWSLETTER' || chr(10) ||
        |    substr(coalesce(text, ''), 61) || chr(10) ||
        |    'PLEASE SUBSCRIBE TO OUR NEWSLETTER' || chr(10) ||
        |    substr(coalesce(text, ''), 1, 60) AS text
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM d2),
        |k AS (SELECT doc_id, l,
        |        list_filter(l, (x, i) -> list_position(l, x) = i) AS kept
        |      FROM ls)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS text,
        |       CAST(len(l) AS BIGINT) AS n_lines,
        |       CAST(len(l) - len(kept) AS BIGINT) AS n_removed
        |FROM k ORDER BY doc_id""".stripMargin,
    "q_lines_inline" ->
      s"""WITH d2 AS ($lineDocsSql)
         |SELECT doc_id, array_to_string(
         |  list_filter(string_split(text, chr(10)),
         |    x -> NOT list_contains(
         |      ['PLEASE SUBSCRIBE TO OUR NEWSLETTER', 'FROM src0'], x)),
         |  chr(10)) AS text
         |FROM d2 ORDER BY doc_id""".stripMargin,
    "q_funnel" ->
      """WITH ev AS (SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS ts,
        |              event_type AS et FROM events),
        |s1 AS (SELECT u, min(ts) AS t FROM ev WHERE et = 'view' GROUP BY 1),
        |s2 AS (SELECT e.u, min(e.ts) AS t FROM ev e JOIN s1 ON e.u = s1.u
        |       WHERE e.et = 'click' AND e.ts > s1.t GROUP BY e.u),
        |s3 AS (SELECT e.u, min(e.ts) AS t FROM ev e JOIN s2 ON e.u = s2.u
        |       WHERE e.et = 'purchase' AND e.ts > s2.t GROUP BY e.u)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
        |       (SELECT count(*) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        |ORDER BY step""".stripMargin,
    // Same lag pairing with the (ts, event_id) total order; p is an
    // exact-integer count over an exact-integer row sum, one 6-dp round.
    "q_event_transitions" ->
      """WITH s AS (SELECT user_id, event_type, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |g AS (SELECT prev AS from_event, event_type AS to_event,
        |        count(*) AS n
        |      FROM s WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT from_event, to_event, n,
        |  round(CAST(n AS DOUBLE) /
        |    sum(n) OVER (PARTITION BY from_event), 6) AS p
        |FROM g ORDER BY from_event, to_event""".stripMargin,
    "q_filter_content" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))),
        |      '[ \t\n\x0b\f\r]+'), x -> x IN ('spark', 'vector'))) AS hits
        |  FROM documents)
        |WHERE hits = 0 ORDER BY doc_id""".stripMargin,
    "q_funnel_latency" ->
      """WITH ev AS (SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS ts,
        |              event_type AS et FROM events),
        |s1 AS (SELECT u, min(ts) AS t1 FROM ev WHERE et = 'view' GROUP BY 1),
        |s2 AS (SELECT e.u, s1.t1, min(e.ts) AS t2 FROM ev e JOIN s1 ON e.u = s1.u
        |       WHERE e.et = 'click' AND e.ts > s1.t1 GROUP BY e.u, s1.t1),
        |s3 AS (SELECT e.u, s2.t1, min(e.ts) AS t3 FROM ev e JOIN s2 ON e.u = s2.u
        |       WHERE e.et = 'purchase' AND e.ts > s2.t2 GROUP BY e.u, s2.t1),
        |durs AS (SELECT 'all' AS g, epoch_us(t3) - epoch_us(t1) AS dur_us FROM s3),
        |ranked AS (
        |  SELECT g, dur_us,
        |    row_number() OVER (PARTITION BY g ORDER BY dur_us ASC) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM durs)
        |SELECT g, CAST(p AS DOUBLE) AS p, dur_us AS value
        |FROM ranked CROSS JOIN (VALUES (0.5), (0.9), (0.99)) AS ps(p)
        |WHERE rn = CAST(ceil(p * n) AS BIGINT)
        |ORDER BY p""".stripMargin,
    "q_funnel_window" ->
      """WITH ev AS (SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS ts,
        |              event_type AS et FROM events),
        |s1 AS (SELECT u, min(ts) AS t, min(ts) AS t1 FROM ev
        |       WHERE et = 'view' GROUP BY 1),
        |s2 AS (SELECT e.u, min(e.ts) AS t, s1.t1 FROM ev e JOIN s1 ON e.u = s1.u
        |       WHERE e.et = 'click' AND e.ts > s1.t
        |         AND e.ts <= s1.t1 + INTERVAL 86400 SECONDS
        |       GROUP BY e.u, s1.t1),
        |s3 AS (SELECT e.u, min(e.ts) AS t, s2.t1 FROM ev e JOIN s2 ON e.u = s2.u
        |       WHERE e.et = 'purchase' AND e.ts > s2.t
        |         AND e.ts <= s2.t1 + INTERVAL 86400 SECONDS
        |       GROUP BY e.u, s2.t1)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
        |       (SELECT count(*) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        |ORDER BY step""".stripMargin,
    "q_cohort_retention" ->
      """WITH ev AS (SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |fst AS (SELECT u, min(ts) AS first_ts FROM ev GROUP BY 1),
        |active AS (
        |  SELECT DISTINCT e.u,
        |    CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort,
        |    CAST(datediff('day',
        |           CAST(date_trunc('week', f.first_ts) AS DATE),
        |           CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS BIGINT)
        |      AS period_offset
        |  FROM ev e JOIN fst f ON e.u = f.u)
        |SELECT cohort, period_offset, count(*) AS n_users
        |FROM active GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_cohort_rate" ->
      """WITH ev AS (SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |fst AS (SELECT u, min(ts) AS first_ts FROM ev GROUP BY 1),
        |active AS (
        |  SELECT DISTINCT e.u,
        |    CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort,
        |    CAST(datediff('day',
        |           CAST(date_trunc('week', f.first_ts) AS DATE),
        |           CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS BIGINT)
        |      AS period_offset
        |  FROM ev e JOIN fst f ON e.u = f.u),
        |tri AS (SELECT cohort, period_offset, count(*) AS n_users
        |        FROM active GROUP BY 1, 2)
        |SELECT cohort, period_offset, n_users,
        |  round(n_users / CAST(max(CASE WHEN period_offset = 0 THEN n_users END)
        |        OVER (PARTITION BY cohort) AS DOUBLE), 6) AS rate
        |FROM tri ORDER BY cohort, period_offset""".stripMargin,
    // Kaplan–Meier: the product-limit estimator in the operator's exact
    // log-space DECIMAL discipline (9-dp terms, 9-dp ln, 6-dp exp).
    "q_survival_km" ->
      s"""WITH $survivalSubjSql,
         |cells AS (
         |  SELECT grp0 AS grp, dur AS t,
         |    count(*) FILTER (WHERE ev) AS events,
         |    count(*) FILTER (WHERE NOT ev) AS cens
         |  FROM subj GROUP BY 1, 2),
         |steps AS (
         |  SELECT grp, t, events,
         |    CAST(sum(events + cens) OVER (PARTITION BY grp)
         |      - sum(events + cens) OVER (PARTITION BY grp ORDER BY t)
         |      + events + cens AS BIGINT) AS at_risk
         |  FROM cells),
         |st AS (
         |  SELECT grp, t, at_risk, events,
         |    round(1.0 - CAST(events AS DOUBLE) / CAST(at_risk AS DOUBLE), 9)
         |      AS term
         |  FROM steps WHERE events > 0),
         |acc AS (
         |  SELECT grp, t, at_risk, events,
         |    max(CASE WHEN term = 0.0 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY grp ORDER BY t) AS dead,
         |    sum(CAST(round(ln(CASE WHEN term > 0.0 THEN term ELSE 1.0 END), 9)
         |             AS DECIMAL(28,9)))
         |      OVER (PARTITION BY grp ORDER BY t) AS logsum
         |  FROM st)
         |SELECT grp, t, at_risk, events,
         |  CASE WHEN dead = 1 THEN 0.0
         |       ELSE round(exp(CAST(logsum AS DOUBLE)), 6) END AS survival
         |FROM acc ORDER BY grp, t""".stripMargin,
    // Mantel–Cox: per-event-time hypergeometric expectation/variance,
    // DECIMAL-accumulated, one final 6-dp round.
    "q_survival_logrank" -> logRankOracle(survivalSubjSql),
    // Wide-range twin: fractional-second durations (distinct 6-dp
    // event time per subject, corpus-growing range).
    "q_survival_logrank_wide" -> logRankOracle(survivalSubjSecondsSql),
    // Nelson–Aalen: per-step 9-dp hazards, DECIMAL cumsum, 6-dp
    // publish; exp(−H) is the Fleming–Harrington survival.
    "q_survival_hazard" ->
      s"""WITH $survivalSubjSql,
         |cells AS (
         |  SELECT grp0 AS grp, dur AS t,
         |    count(*) FILTER (WHERE ev) AS events,
         |    count(*) FILTER (WHERE NOT ev) AS cens
         |  FROM subj GROUP BY 1, 2),
         |steps AS (
         |  SELECT grp, t, events,
         |    CAST(sum(events + cens) OVER (PARTITION BY grp)
         |      - sum(events + cens) OVER (PARTITION BY grp ORDER BY t)
         |      + events + cens AS BIGINT) AS at_risk
         |  FROM cells),
         |st AS (
         |  SELECT grp, t, at_risk, events,
         |    round(CAST(events AS DOUBLE) / CAST(at_risk AS DOUBLE), 9) AS h
         |  FROM steps WHERE events > 0),
         |acc AS (
         |  SELECT grp, t, at_risk, events,
         |    sum(CAST(h AS DECIMAL(28,9)))
         |      OVER (PARTITION BY grp ORDER BY t) AS hsum
         |  FROM st)
         |SELECT grp, t, at_risk, events,
         |  round(CAST(hsum AS DOUBLE), 6) AS cum_hazard,
         |  round(exp(-CAST(hsum AS DOUBLE)), 6) AS survival_fh
         |FROM acc ORDER BY grp, t""".stripMargin,
    "q_attribution_first" -> attributionOracle(
      "CAST(CASE WHEN rn = 1 THEN 1.0 ELSE 0.0 END AS DOUBLE)"),
    "q_attribution_linear" -> attributionOracle(
      "round(CAST(1.0 AS DOUBLE) / CAST(k AS DOUBLE), 9)"),
    "q_attribution_position" -> attributionOracle(
      """CAST(CASE WHEN k = 1 THEN 1.0 WHEN k = 2 THEN 0.5
        |     WHEN rn = 1 OR rn = k THEN 0.4
        |     ELSE round(CAST(0.2 AS DOUBLE) / (CAST(k AS DOUBLE) - 2.0), 9)
        |     END AS DOUBLE)""".stripMargin),
    "q_attribution_decay" -> attributionOracle(
      s"""round($attributionDecayW /
         |  CAST(sum(CAST($attributionDecayW AS DECIMAL(28,9)))
         |       OVER (PARTITION BY u) AS DOUBLE), 9)""".stripMargin),
    "q_attribution_markov" -> markovOracle(12),
    // Cosine/lift mirror of the recommender table: same presence
    // dedup, basket cap, pair floor, and (cosine DESC, pair_count
    // DESC, neighbor ASC) top-5 window.
    "q_item_similarity" ->
      """WITH pres0 AS (
        |  SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS b,
        |         CAST(l_partkey % 50 AS VARCHAR) AS i
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |pres AS (SELECT p.* FROM pres0 p JOIN (
        |  SELECT b FROM pres0 GROUP BY b HAVING count(*) <= 10) ok
        |  ON p.b = ok.b),
        |nb AS (SELECT count(DISTINCT b) AS nbv FROM pres),
        |ic AS (SELECT i, count(*) AS ni FROM pres GROUP BY 1),
        |pr AS (SELECT a.i AS ia, b2.i AS ib, count(*) AS np
        |       FROM pres a JOIN pres b2 ON a.b = b2.b AND a.i < b2.i
        |       GROUP BY 1, 2 HAVING count(*) >= 5),
        |bidir AS (SELECT ia AS item, ib AS neighbor, np FROM pr
        |          UNION ALL SELECT ib, ia, np FROM pr),
        |sc AS (SELECT item, neighbor, np AS pair_count,
        |         round(CAST(np AS DOUBLE) /
        |           sqrt(CAST(a.ni AS DOUBLE) * CAST(n2.ni AS DOUBLE)), 6)
        |           AS cosine,
        |         round(CAST(np AS DOUBLE) * CAST(nbv AS DOUBLE) /
        |           (CAST(a.ni AS DOUBLE) * CAST(n2.ni AS DOUBLE)), 6)
        |           AS lift
        |       FROM bidir JOIN ic a ON bidir.item = a.i
        |                  JOIN ic n2 ON bidir.neighbor = n2.i, nb),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY item
        |         ORDER BY cosine DESC, pair_count DESC, neighbor ASC)
        |         AS rn FROM sc)
        |SELECT item, neighbor, pair_count, cosine, lift FROM rk
        |WHERE rn <= 5 ORDER BY item, neighbor""".stripMargin,
    "q_basket_rules" -> basketOracle(0.25, None),
    "q_basket_rules_capped" -> basketOracle(0.25, Some(45L)),
    "q_ts_daily" ->
      s"""WITH $tsGridSql
         |SELECT day, n FROM g2 ORDER BY day""".stripMargin,
    // STL-lite mirror: 9-dp trend/seasonal/residual, DECIMAL cross-row
    // sums, population sigma, 6-dp publish.
    "q_ts_anomaly" ->
      s"""WITH $tsGridSql,
         |tr AS (SELECT day, n, (day - DATE '1970-01-05') % 7 AS wd,
         |    CASE WHEN count(*) OVER w = 7
         |         THEN round(CAST(sum(n) OVER w AS DOUBLE) / 7.0, 9) END
         |      AS trend
         |  FROM g2
         |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
         |               AND 3 FOLLOWING)),
         |dv AS (SELECT *, round(CAST(n AS DOUBLE) - trend, 9) AS dev
         |       FROM tr),
         |se AS (SELECT *,
         |    round(CAST(sum(CAST(dev AS DECIMAL(28,9)))
         |               OVER (PARTITION BY wd) AS DOUBLE) /
         |          CAST(count(dev) OVER (PARTITION BY wd) AS DOUBLE), 9)
         |      AS seasonal
         |  FROM dv),
         |rs AS (SELECT *,
         |    round(CAST(n AS DOUBLE) - trend - seasonal, 9) AS resid
         |  FROM se),
         |gl AS (SELECT *,
         |    round(CAST(sum(CAST(resid AS DECIMAL(28,9))) OVER ()
         |               AS DOUBLE) /
         |          CAST(count(resid) OVER () AS DOUBLE), 9) AS rmean,
         |    round(CAST(sum(CAST(round(resid * resid, 9) AS DECIMAL(28,9)))
         |               OVER () AS DOUBLE) /
         |          CAST(count(resid) OVER () AS DOUBLE), 9) AS rsq
         |  FROM rs),
         |sg AS (SELECT *,
         |    round(sqrt(greatest(round(rsq - rmean * rmean, 9), 0.0)), 9)
         |      AS sigma
         |  FROM gl),
         |zt AS (SELECT *, CASE WHEN sigma > 0.0
         |                      THEN round(resid / sigma, 6) END AS zz
         |       FROM sg)
         |SELECT day, n, round(trend, 6) AS trend,
         |  round(seasonal, 6) AS seasonal, zz AS z,
         |  coalesce(abs(zz) > 3.0, false) AS anomaly
         |FROM zt ORDER BY day""".stripMargin,
    // ACF mirror: 9-dp mean/dev, DECIMAL sums, 6-dp publish; the lag
    // join runs on the same zero-filled grid.
    "q_ts_acf" ->
      s"""WITH $tsGridSql,
         |b AS (SELECT day, n, CAST(row_number() OVER (ORDER BY day)
         |             AS BIGINT) AS rn FROM g2),
         |m AS (SELECT round(CAST(sum(CAST(n AS DECIMAL(28,9))) AS DOUBLE) /
         |             CAST(count(*) AS DOUBLE), 9) AS mean FROM b),
         |dv AS (SELECT rn, round(CAST(n AS DOUBLE) - mean, 9) AS dev
         |       FROM b, m),
         |den AS (SELECT CAST(sum(CAST(round(dev * dev, 9) AS DECIMAL(28,9)))
         |               AS DOUBLE) AS denom FROM dv),
         |lg AS (SELECT CAST(unnest(generate_series(1, 14)) AS BIGINT)
         |         AS "lag"),
         |nm AS (SELECT "lag", count(*) AS n_pairs,
         |    CAST(sum(CAST(round(a.dev * b2.dev, 9) AS DECIMAL(28,9)))
         |         AS DOUBLE) AS num
         |  FROM lg JOIN dv a ON a.rn > "lag"
         |          JOIN dv b2 ON b2.rn = a.rn - "lag"
         |  GROUP BY "lag")
         |SELECT "lag", coalesce(n_pairs, 0) AS n_pairs,
         |  CASE WHEN denom > 0 AND num IS NOT NULL
         |       THEN round(num / denom, 6) END AS acf
         |FROM lg LEFT JOIN nm USING ("lag"), den ORDER BY "lag"""".stripMargin,
    "q_ts_cusum" ->
      s"""WITH $tsGridSql,
         |m AS (SELECT round(CAST(sum(CAST(n AS DECIMAL(28,9))) AS DOUBLE) /
         |             CAST(count(*) AS DOUBLE), 9) AS mean FROM g2),
         |dv AS (SELECT day, n, round(CAST(n AS DOUBLE) - mean, 9) AS dev
         |       FROM g2, m)
         |SELECT day, n,
         |  round(CAST(sum(CAST(dev AS DECIMAL(28,9)))
         |    OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6)
         |    AS cusum
         |FROM dv ORDER BY day""".stripMargin,
    "q_ts_changepoint" ->
      s"""WITH $tsGridSql,
         |m AS (SELECT
         |    round(CAST(sum(CAST(n AS DECIMAL(28,9))) AS DOUBLE) /
         |          CAST(count(*) AS DOUBLE), 9) AS mean,
         |    round(CAST(sum(CAST(round(CAST(n AS DOUBLE) * CAST(n AS DOUBLE),
         |          9) AS DECIMAL(28,9))) AS DOUBLE) /
         |          CAST(count(*) AS DOUBLE), 9) AS rsq,
         |    count(*) AS t FROM g2),
         |s AS (SELECT day,
         |    round(CAST(sum(CAST(round(CAST(n AS DOUBLE) - mean, 9)
         |      AS DECIMAL(28,9))) OVER (ORDER BY day ROWS UNBOUNDED
         |      PRECEDING) AS DOUBLE), 9) AS s9 FROM g2, m),
         |sg AS (SELECT round(sqrt(greatest(round(rsq - mean * mean, 9),
         |         0.0)), 9) AS sigma, t FROM m),
         |mx AS (SELECT max(abs(s9)) AS a FROM s),
         |cd AS (SELECT min(day) AS change_day FROM s, mx
         |       WHERE abs(s9) = a)
         |SELECT change_day, round(a, 6) AS cusum_abs,
         |  CASE WHEN sigma > 0 THEN round(a /
         |    round(sigma * round(sqrt(CAST(t AS DOUBLE)), 9), 9), 6) END
         |    AS stat
         |FROM cd, mx, sg""".stripMargin,
    // EWMA closed-form mirror: ln/exp 9-dp decay powers, same term
    // nesting and DECIMAL accumulation as the operator.
    "q_ts_ewma" ->
      s"""WITH $tsGridSql,
         |b AS (SELECT day, n, CAST(row_number() OVER (ORDER BY day)
         |             AS BIGINT) AS rn FROM g2),
         |p AS (SELECT t.day, t.n, a.rn AS ri, t.rn - a.rn AS k,
         |             CAST(a.n AS DOUBLE) AS x
         |      FROM b t JOIN b a ON a.rn <= t.rn),
         |w AS (SELECT day, n, ri, x,
         |    CASE WHEN k = 0 THEN 1.0
         |         ELSE round(exp(round(k * round(ln(0.7), 9), 9)), 9) END
         |      AS wt FROM p),
         |tm AS (SELECT day, n,
         |    CASE WHEN ri = 1 THEN round(wt * x, 9)
         |         ELSE round(0.3 * wt * x, 9) END AS term FROM w)
         |SELECT day, n,
         |  round(CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6)
         |    AS ewma
         |FROM tm GROUP BY day, n ORDER BY day""".stripMargin,
    "q_ts_backtest" ->
      s"""WITH $tsGridSql,
         |f AS (SELECT day, n, lag(n, 7) OVER (ORDER BY day) AS fc FROM g2),
         |e AS (SELECT day, n, fc,
         |    round(CAST(n AS DOUBLE) - CAST(fc AS DOUBLE), 9) AS err
         |  FROM f WHERE fc IS NOT NULL),
         |s AS (SELECT day, n, fc, err,
         |    CASE WHEN n = 0 AND fc = 0 THEN 0.0
         |         ELSE round(2.0 * abs(err) /
         |           (CAST(n AS DOUBLE) + CAST(fc AS DOUBLE)), 9) END AS sm
         |  FROM e)
         |SELECT count(*) AS n_days,
         |  round(CAST(sum(CAST(round(abs(err), 9) AS DECIMAL(28,9)))
         |    AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mae,
         |  round(sqrt(round(CAST(sum(CAST(round(err * err, 9)
         |    AS DECIMAL(28,9))) AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE), 9)), 6) AS rmse,
         |  round(CAST(sum(CAST(sm AS DECIMAL(28,9))) AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE), 6) AS smape
         |FROM s""".stripMargin,
    // Median/MAD mirror: both medians via the discrete rank-⌈N/2⌉
    // convention over per-value counts, 9-dp adev, 6-dp z.
    "q_ts_robust" ->
      s"""WITH $tsGridSql,
         |vc AS (SELECT CAST(n AS DOUBLE) AS v, count(*) AS c
         |       FROM g2 GROUP BY 1),
         |m1 AS (SELECT v AS med FROM
         |  (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum,
         |          sum(c) OVER () AS nn FROM vc)
         |  WHERE cum - c < CAST(ceil(round(0.5 * CAST(nn AS DOUBLE), 9))
         |          AS BIGINT)
         |    AND CAST(ceil(round(0.5 * CAST(nn AS DOUBLE), 9)) AS BIGINT)
         |          <= cum),
         |ad AS (SELECT day, n, med,
         |         round(abs(CAST(n AS DOUBLE) - med), 9) AS adev
         |       FROM g2, m1),
         |ac AS (SELECT adev AS v, count(*) AS c FROM ad GROUP BY 1),
         |m2 AS (SELECT v AS madv FROM
         |  (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum,
         |          sum(c) OVER () AS nn FROM ac)
         |  WHERE cum - c < CAST(ceil(round(0.5 * CAST(nn AS DOUBLE), 9))
         |          AS BIGINT)
         |    AND CAST(ceil(round(0.5 * CAST(nn AS DOUBLE), 9)) AS BIGINT)
         |          <= cum),
         |z AS (SELECT day, n, med, madv,
         |    CASE WHEN madv > 0 THEN
         |      CAST(round(CAST(round(
         |        0.6745 * round(CAST(n AS DOUBLE) - med, 9) / madv, 9)
         |        AS DECIMAL(28,9)), 6) AS DOUBLE)
         |    END AS zz
         |  FROM ad, m2)
         |SELECT day, n, med AS median, madv AS mad, zz AS z,
         |  coalesce(abs(zz) > 3.5, false) AS anomaly
         |FROM z ORDER BY day""".stripMargin,
    "q_path_top" ->
      """WITH e AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn)
        |        AS path, CAST(count(*) AS INT) AS steps
        |      FROM e WHERE rn <= 5 GROUP BY user_id),
        |c AS (SELECT path, steps, count(*) AS n FROM p GROUP BY 1, 2)
        |SELECT path, steps, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT) AS rank
        |FROM c ORDER BY n DESC, path LIMIT 20""".stripMargin,
    // Engagement mirror: distinct (user, day) pairs exploded into the
    // trailing windows they serve.
    "q_engagement" ->
      """WITH pairs AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
        |               FROM events
        |               WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM pairs),
        |grid AS (SELECT CAST(unnest(generate_series(d0, d1,
        |                INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |dau AS (SELECT day, count(DISTINCT u) AS dau FROM pairs GROUP BY 1),
        |wau AS (SELECT day, count(DISTINCT u) AS wau FROM (
        |    SELECT p.u, CAST(unnest(generate_series(p.day,
        |      least(CAST(p.day + INTERVAL 6 DAY AS DATE), b.d1),
        |      INTERVAL 1 DAY)) AS DATE) AS day
        |    FROM pairs p, b) GROUP BY 1),
        |mau AS (SELECT day, count(DISTINCT u) AS mau FROM (
        |    SELECT p.u, CAST(unnest(generate_series(p.day,
        |      least(CAST(p.day + INTERVAL 27 DAY AS DATE), b.d1),
        |      INTERVAL 1 DAY)) AS DATE) AS day
        |    FROM pairs p, b) GROUP BY 1)
        |SELECT g.day, coalesce(d.dau, 0) AS dau, coalesce(w.wau, 0) AS wau,
        |  coalesce(m.mau, 0) AS mau,
        |  CASE WHEN coalesce(m.mau, 0) = 0 THEN NULL
        |       ELSE round(CAST(coalesce(d.dau, 0) AS DOUBLE) /
        |         CAST(m.mau AS DOUBLE), 6) END AS stickiness
        |FROM grid g LEFT JOIN dau d ON g.day = d.day
        |  LEFT JOIN wau w ON g.day = w.day
        |  LEFT JOIN mau m ON g.day = m.day
        |ORDER BY g.day""".stripMargin,
    // Churn mirror: distinct (user, period) pairs, +1-shifted self-join.
    // WoW-growth mirror: same anchored period index and adjacency
    // condition on the lag.
    "q_ts_growth" ->
      """WITH r AS (SELECT event_type AS key, CAST(ts AS DATE) AS day
        |           FROM events
        |           WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |dz AS (SELECT min(day) AS d0 FROM r),
        |cells AS (SELECT key, CAST(floor(
        |            date_diff('day', dz.d0, day) / 7) AS BIGINT) AS p,
        |            count(*) AS n
        |          FROM r, dz GROUP BY 1, 2),
        |w AS (SELECT key, p, n,
        |        lag(p) OVER (PARTITION BY key ORDER BY p) AS pp,
        |        lag(n) OVER (PARTITION BY key ORDER BY p) AS pn
        |      FROM cells)
        |SELECT key, dz.d0 + CAST(p * 7 AS INT) AS period, n,
        |  CASE WHEN pp = p - 1 THEN pn END AS prev_n,
        |  CASE WHEN pp = p - 1
        |       THEN round(CAST(n - pn AS DOUBLE) / CAST(pn AS DOUBLE), 6)
        |  END AS growth
        |FROM w, dz ORDER BY key, period""".stripMargin,
    // Mojibake mirror: identical literal alternation pattern, identical
    // deterministic corruption.
    "q_clean_mojibake" ->
      ("""WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0
        |       THEN text || ' cafÃ© â€” lossy �' ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '�')) AS BIGINT)
        |    AS n_replacement,
        |  CAST(len(regexp_extract_all(text, '""".stripMargin +
        "Ã©|Ã¨|Ã¤|Ã¶|Ã¼|Ã±|Ã¡|Ã­|Ã³|Ãº|â€™|â€œ|â€|â€“|â€”|â€¦|Â '" +
        """)) AS BIGINT) AS n_mojibake,
        |  len(regexp_extract_all(text, '�')) > 0 OR
        |  len(regexp_extract_all(text, '""".stripMargin +
        "Ã©|Ã¨|Ã¤|Ã¶|Ã¼|Ã±|Ã¡|Ã­|Ã³|Ãº|â€™|â€œ|â€|â€“|â€”|â€¦|Â '" +
        """)) > 0 AS damaged
        |FROM d ORDER BY doc_id""".stripMargin),
    // PSI-timeline mirror: baseline probs from the first-week rows,
    // days × values grid, per-cell 9-dp floored terms, DECIMAL sums.
    "q_drift_timeline" ->
      """WITH r AS (SELECT CAST(ts AS DATE) AS day, event_type AS value
        |           FROM events WHERE ts IS NOT NULL),
        |d0 AS (SELECT min(day) AS dz FROM r),
        |base AS (SELECT value, count(*) AS nb FROM r, d0
        |         WHERE date_diff('day', dz, day) < 7 GROUP BY 1),
        |basep AS (SELECT value, CAST(nb AS DOUBLE) /
        |            CAST((SELECT sum(nb) FROM base) AS DOUBLE) AS pb
        |          FROM base),
        |dc AS (SELECT day, value, count(*) AS nd FROM r GROUP BY 1, 2),
        |dt AS (SELECT day, CAST(sum(nd) AS BIGINT) AS td FROM dc
        |       GROUP BY 1),
        |grid AS (SELECT dt.day, dt.td, v.value FROM dt
        |         CROSS JOIN (SELECT DISTINCT value FROM r) v),
        |cells AS (SELECT g.day, g.td,
        |            coalesce(dc.nd, 0) AS nd, coalesce(bp.pb, 0.0) AS pb
        |          FROM grid g
        |          LEFT JOIN dc ON g.day = dc.day
        |            AND g.value IS NOT DISTINCT FROM dc.value
        |          LEFT JOIN basep bp
        |            ON g.value IS NOT DISTINCT FROM bp.value),
        |w AS (SELECT day, td,
        |        round((greatest(round(CAST(nd AS DOUBLE) /
        |                 CAST(td AS DOUBLE), 9), 0.0001) -
        |               greatest(round(pb, 9), 0.0001)) *
        |          ln(greatest(round(CAST(nd AS DOUBLE) /
        |               CAST(td AS DOUBLE), 9), 0.0001) /
        |             greatest(round(pb, 9), 0.0001)), 9) AS wv
        |      FROM cells)
        |SELECT day, max(td) AS n_day,
        |  CAST(round(sum(CAST(wv AS DECIMAL(20,9))), 6) AS DOUBLE) AS psi
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    // Decayed-count mirror: ln2 at the same 9-dp driver constant, exp
    // through the shared ln/exp snap discipline, DECIMAL cell sums.
    "q_ts_trending" ->
      """WITH d AS (SELECT event_type AS key, CAST(ts AS DATE) AS day
        |           FROM events
        |           WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |mx AS (SELECT max(day) AS m FROM d),
        |cells AS (SELECT key, day, count(*) AS n FROM d GROUP BY 1, 2),
        |w AS (SELECT key, n,
        |        round(exp(round(-0.693147181 *
        |          date_diff('day', day, m) / 7.0, 9)), 9) AS wt
        |      FROM cells, mx)
        |SELECT key, CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(round(sum(CAST(round(wt * n, 9) AS DECIMAL(28,9))), 6)
        |       AS DOUBLE) AS score
        |FROM w GROUP BY 1 ORDER BY key""".stripMargin,
    // Growth-accounting mirror: same per-user lag/lead window over
    // distinct (user, day) pairs; churn credited to day + 1.
    "q_growth_accounting" ->
      """WITH pairs AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
        |               FROM events
        |               WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |t AS (SELECT u, day,
        |        lag(day) OVER (PARTITION BY u ORDER BY day) AS prev,
        |        lead(day) OVER (PARTITION BY u ORDER BY day) AS nxt
        |      FROM pairs),
        |st AS (SELECT day, count(*) AS n_active,
        |         count(CASE WHEN prev IS NULL THEN 1 END) AS n_new,
        |         count(CASE WHEN date_diff('day', prev, day) = 1 THEN 1 END)
        |           AS n_retained,
        |         count(CASE WHEN prev IS NOT NULL
        |                     AND date_diff('day', prev, day) > 1 THEN 1 END)
        |           AS n_resurrected
        |       FROM t GROUP BY 1),
        |cf AS (SELECT day + 1 AS day, count(*) AS n_churned FROM t
        |       WHERE nxt IS NULL OR date_diff('day', day, nxt) > 1
        |       GROUP BY 1)
        |SELECT coalesce(st.day, cf.day) AS day,
        |  coalesce(n_active, 0) AS n_active,
        |  coalesce(n_new, 0) AS n_new,
        |  coalesce(n_retained, 0) AS n_retained,
        |  coalesce(n_resurrected, 0) AS n_resurrected,
        |  coalesce(n_churned, 0) AS n_churned
        |FROM st FULL OUTER JOIN cf ON st.day = cf.day
        |ORDER BY 1""".stripMargin,
    "q_mix_doremi" ->
      """WITH stats AS (SELECT lang AS domain, count(*) AS n,
        |    sum(length(text)) AS L FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n) AS nn FROM stats),
        |doms AS (SELECT domain,
        |    round(CAST(L AS DOUBLE) / n / 100.0, 9) AS proxy_loss,
        |    round(CAST(L AS DOUBLE) / n / 120.0, 9) AS ref_loss,
        |    round(CAST(n AS DOUBLE) / nn, 9) AS baseline
        |  FROM stats CROSS JOIN tot),
        |raws AS (SELECT domain,
        |    round(greatest(proxy_loss - ref_loss, 0.0), 9) AS excess,
        |    round(baseline *
        |      round(exp(0.5 * round(greatest(proxy_loss - ref_loss, 0.0),
        |        9)), 9), 9) AS raw
        |  FROM doms),
        |z AS (SELECT CAST(sum(CAST(raw AS DECIMAL(28,9))) AS DOUBLE) AS z,
        |        count(*) AS k FROM raws)
        |SELECT domain, excess,
        |  round(0.8 * round(raw / z, 9) + 0.2 / k, 6) AS weight
        |FROM raws CROSS JOIN z ORDER BY domain""".stripMargin,
    "q_drift_windowed" ->
      """WITH mon AS (SELECT CAST(ts AS DATE) AS day, event_type AS value
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |    AND user_id % 2 = 1),
        |rws AS (SELECT day - CAST(date_diff('day', DATE '1970-01-01', day)
        |          % 7 AS INTEGER) AS window_start, value FROM mon),
        |ref AS (SELECT event_type AS value FROM events
        |        WHERE event_type IS NOT NULL AND user_id % 2 = 0),
        |refp AS (SELECT value AS bv, CAST(count(*) AS DOUBLE) /
        |           (SELECT count(*) FROM ref) AS pb FROM ref GROUP BY 1),
        |wc AS (SELECT window_start, value, count(*) AS nw
        |       FROM rws GROUP BY 1, 2),
        |wt AS (SELECT window_start, sum(nw) AS tw FROM wc GROUP BY 1),
        |dom AS (SELECT DISTINCT value FROM
        |         (SELECT value FROM rws UNION ALL SELECT bv FROM refp)),
        |cells AS (SELECT wt.window_start, wt.tw,
        |    coalesce(wc.nw, 0) AS nw, coalesce(refp.pb, 0.0) AS pb
        |  FROM wt CROSS JOIN dom
        |  LEFT JOIN wc ON wc.window_start = wt.window_start
        |    AND wc.value = dom.value
        |  LEFT JOIN refp ON refp.bv = dom.value),
        |t AS (SELECT window_start, tw,
        |    round((greatest(round(CAST(nw AS DOUBLE) / tw, 9), 0.0001)
        |        - greatest(round(pb, 9), 0.0001))
        |      * ln(greatest(round(CAST(nw AS DOUBLE) / tw, 9), 0.0001)
        |          / greatest(round(pb, 9), 0.0001)), 9) AS w
        |  FROM cells)
        |SELECT window_start, CAST(max(tw) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(w AS DECIMAL(20,9))) AS DOUBLE), 6) AS psi
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ts_rollcorr" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day,
        |    round(CAST(value AS DOUBLE), 9) AS x,
        |    round(CAST(event_id % 97 AS DOUBLE), 9) AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |daily AS (SELECT day, count(*) AS n,
        |    sum(CAST(x AS DECIMAL(28,9))) AS sx,
        |    sum(CAST(y AS DECIMAL(28,9))) AS sy
        |  FROM e GROUP BY 1),
        |dm AS (SELECT day, round(CAST(sx AS DOUBLE)/n, 9) AS mx,
        |              round(CAST(sy AS DOUBLE)/n, 9) AS my FROM daily),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM dm),
        |grid AS (SELECT CAST(unnest(generate_series(d0, d1,
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |g AS (SELECT grid.day, dm.mx, dm.my
        |      FROM grid LEFT JOIN dm ON grid.day = dm.day),
        |r AS (SELECT day, mx, my, count(mx) OVER w AS k,
        |    CAST(sum(CAST(mx AS DECIMAL(28,9))) OVER w AS DOUBLE) AS sx,
        |    CAST(sum(CAST(my AS DECIMAL(28,9))) OVER w AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(mx*mx, 9) AS DECIMAL(28,9))) OVER w
        |      AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(round(my*my, 9) AS DECIMAL(28,9))) OVER w
        |      AS DOUBLE) AS syy,
        |    CAST(sum(CAST(round(mx*my, 9) AS DECIMAL(28,9))) OVER w
        |      AS DOUBLE) AS sxy
        |  FROM g WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT day, round(mx, 6) AS x_mean, round(my, 6) AS y_mean,
        |  CASE WHEN k < 7
        |    OR round(sxx - round(sx*sx/CAST(k AS DOUBLE), 9), 9) <= 0
        |    OR round(syy - round(sy*sy/CAST(k AS DOUBLE), 9), 9) <= 0
        |  THEN NULL ELSE
        |    round(round(sxy - round(sx*sy/CAST(k AS DOUBLE), 9), 9) /
        |      round(sqrt(round(sxx - round(sx*sx/CAST(k AS DOUBLE), 9), 9)) *
        |            sqrt(round(syy - round(sy*sy/CAST(k AS DOUBLE), 9), 9)),
        |        9), 6)
        |  END AS corr
        |FROM r ORDER BY day""".stripMargin,

    // End-day-keyed mirror: each daily mean-cell replicates to the 7
    // end-days it serves; per-end-day exact DECIMAL moment sums, same
    // 9-dp/6-dp chain; only observed end days emit.
    "q_ts_rollcorr_stream" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day,
        |    round(CAST(value AS DOUBLE), 9) AS x,
        |    round(CAST(event_id % 97 AS DOUBLE), 9) AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |daily AS (SELECT day, count(*) AS n,
        |    sum(CAST(x AS DECIMAL(28,9))) AS sx,
        |    sum(CAST(y AS DECIMAL(28,9))) AS sy
        |  FROM e GROUP BY 1),
        |dm AS (SELECT day, round(CAST(sx AS DOUBLE)/n, 9) AS mx,
        |              round(CAST(sy AS DOUBLE)/n, 9) AS my FROM daily),
        |keyed AS (SELECT dm.day, dm.mx, dm.my, o.off,
        |    dm.day + to_days(CAST(o.off AS INTEGER)) AS end_day
        |  FROM dm CROSS JOIN
        |    (SELECT unnest(generate_series(0, 6)) AS off) o),
        |agg AS (SELECT end_day AS day, count(*) AS k,
        |    CAST(sum(CAST(mx AS DECIMAL(28,9))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(my AS DECIMAL(28,9))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(mx*mx, 9) AS DECIMAL(28,9)))
        |      AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(round(my*my, 9) AS DECIMAL(28,9)))
        |      AS DOUBLE) AS syy,
        |    CAST(sum(CAST(round(mx*my, 9) AS DECIMAL(28,9)))
        |      AS DOUBLE) AS sxy,
        |    max(CASE WHEN off = 0 THEN mx END) AS mxe,
        |    max(CASE WHEN off = 0 THEN my END) AS mye,
        |    max(CASE WHEN off = 0 THEN 1 ELSE 0 END) AS obs
        |  FROM keyed GROUP BY 1)
        |SELECT day, round(mxe, 6) AS x_mean, round(mye, 6) AS y_mean,
        |  CASE WHEN k < 7
        |    OR round(sxx - round(sx*sx/CAST(k AS DOUBLE), 9), 9) <= 0
        |    OR round(syy - round(sy*sy/CAST(k AS DOUBLE), 9), 9) <= 0
        |  THEN NULL ELSE
        |    round(round(sxy - round(sx*sy/CAST(k AS DOUBLE), 9), 9) /
        |      round(sqrt(round(sxx - round(sx*sx/CAST(k AS DOUBLE), 9), 9)) *
        |            sqrt(round(syy - round(sy*sy/CAST(k AS DOUBLE), 9), 9)),
        |        9), 6)
        |  END AS corr
        |FROM agg WHERE obs = 1 ORDER BY day""".stripMargin,
    "q_eval_conformal" -> conformalOracleSql,

    // The stream-static plan computes the same row: same head math,
    // same 6-dp test cells, same rounding — one oracle body serves both.
    "q_eval_conformal_stream" ->
      conformalOracleSql,
    "q_pii_dp" ->
      """WITH c AS (SELECT event_type AS key, count(*) AS n
        |           FROM events WHERE event_type IS NOT NULL GROUP BY 1),
        |h AS (SELECT key, n, md5('graft-dp:' || key) AS hx FROM c),
        |v AS (SELECT key, n,
        |    (((((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substring(hx, 4, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substring(hx, 5, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substring(hx, 6, 1)) - 1 AS hv
        |  FROM h),
        |u AS (SELECT key, n,
        |        (CAST(hv AS DOUBLE) + 0.5) / 16777216.0 - 0.5 AS c FROM v)
        |SELECT key, CAST(n AS BIGINT) AS n,
        |  round(n + round(-1.0 * sign(c) *
        |    round(ln(1.0 - 2.0 * abs(c)), 9), 9), 6) AS noisy_n
        |FROM u ORDER BY key""".stripMargin,
    "q_ts_locf" ->
      """WITH e AS (SELECT event_type AS key, CAST(ts AS DATE) AS day, ts,
        |    CAST(value AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |    AND value IS NOT NULL),
        |obs AS (SELECT key, day, v AS o FROM (
        |    SELECT key, day, v, row_number() OVER (PARTITION BY key, day
        |      ORDER BY ts DESC, v DESC) AS rn FROM e) t WHERE rn = 1),
        |spans AS (SELECT key, min(day) AS d0 FROM obs GROUP BY 1),
        |mx AS (SELECT max(day) AS d1 FROM obs),
        |grid AS (SELECT key, CAST(unnest(generate_series(d0, d1,
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM spans CROSS JOIN mx)
        |SELECT g.key, g.day,
        |  last_value(o.o IGNORE NULLS) OVER (PARTITION BY g.key
        |    ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  o.o IS NOT NULL AS observed
        |FROM grid g LEFT JOIN obs o ON g.key = o.key AND g.day = o.day
        |ORDER BY g.key, g.day""".stripMargin,
    "q_growth_flags" ->
      """WITH pairs AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
        |               FROM events
        |               WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |t AS (SELECT u, day,
        |        lag(day) OVER (PARTITION BY u ORDER BY day) AS prev,
        |        lead(day) OVER (PARTITION BY u ORDER BY day) AS nxt
        |      FROM pairs)
        |SELECT * FROM (
        |  SELECT CAST(u AS VARCHAR) AS "user", day,
        |    CASE WHEN prev IS NULL THEN 'new'
        |         WHEN date_diff('day', prev, day) = 1 THEN 'retained'
        |         ELSE 'resurrected' END AS status
        |  FROM t
        |  UNION ALL
        |  SELECT CAST(u AS VARCHAR), day + 1, 'churned' FROM t
        |  WHERE nxt IS NULL OR date_diff('day', day, nxt) > 1)
        |ORDER BY "user", day, status""".stripMargin,
    "q_churn" ->
      """WITH raw AS (SELECT user_id AS u, CAST(ts AS DATE) AS day
        |             FROM events
        |             WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |dz AS (SELECT min(day) AS d0 FROM raw),
        |up AS (SELECT DISTINCT u, CAST(floor(
        |         date_diff('day', dz.d0, day) / 7) AS BIGINT) AS p
        |       FROM raw, dz),
        |fp AS (SELECT u, min(p) AS fp FROM up GROUP BY 1),
        |mx AS (SELECT max(p) AS mp FROM up),
        |j AS (SELECT a.p, a.u, f.fp, b.u AS un
        |      FROM up a JOIN fp f ON a.u = f.u
        |      LEFT JOIN up b ON a.u = b.u AND b.p = a.p + 1),
        |g AS (SELECT p, count(*) AS n_active,
        |        count(CASE WHEN fp = p THEN 1 END) AS n_new,
        |        count(un) AS ret
        |      FROM j GROUP BY 1)
        |SELECT dz.d0 + CAST(p * 7 AS INT) AS period, n_active, n_new,
        |  CASE WHEN p = mx.mp THEN NULL ELSE ret END AS n_retained,
        |  CASE WHEN p = mx.mp THEN NULL ELSE n_active - ret END
        |    AS n_churned,
        |  CASE WHEN p = mx.mp THEN NULL
        |       ELSE round(CAST(n_active - ret AS DOUBLE) /
        |         CAST(n_active AS DOUBLE), 6) END AS churn_rate
        |FROM g, dz, mx ORDER BY period""".stripMargin,
    // ABC mirror: exact DECIMAL mass, previous-cum-share class cut.
    "q_abc" ->
      """WITH perkey AS (SELECT l_partkey AS key,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |w AS (SELECT key, value,
        |    sum(value) OVER (ORDER BY value DESC, key) AS cum,
        |    sum(value) OVER () AS tot FROM perkey),
        |c AS (SELECT key, value,
        |    round(CAST(value AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share,
        |    round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6)
        |      AS cum_share,
        |    round(CAST(cum - value AS DOUBLE) / CAST(tot AS DOUBLE), 9)
        |      AS prev
        |  FROM w)
        |SELECT key, CAST(value AS DOUBLE) AS value, share, cum_share,
        |  CASE WHEN prev < 0.8 THEN 'A' WHEN prev < 0.95 THEN 'B'
        |       ELSE 'C' END AS abc
        |FROM c ORDER BY cum_share, key""".stripMargin,
    // Holt/Brown mirror: two closed-form EWMA passes, exact-decimal
    // 6-dp publishes.
    "q_ts_holt" ->
      s"""WITH $tsGridSql,
         |b AS (SELECT day, n, CAST(row_number() OVER (ORDER BY day)
         |             AS BIGINT) AS rn FROM g2),
         |b1 AS (SELECT rn, CAST(n AS DOUBLE) AS x FROM b),
         |${holtPassSql("b1", "s1")},
         |${holtPassSql("s1", "s2")},
         |f AS (SELECT b.day, b.n, s1.x AS v1, s2.x AS v2,
         |        round(2.0 * s1.x - s2.x, 9) AS lvl,
         |        round($holtAc * round(s1.x - s2.x, 9), 9) AS tr
         |      FROM b JOIN s1 ON b.rn = s1.rn JOIN s2 ON b.rn = s2.rn)
         |SELECT day, n,
         |  CAST(round(CAST(v1 AS DECIMAL(28,9)), 6) AS DOUBLE) AS smooth1,
         |  CAST(round(CAST(v2 AS DECIMAL(28,9)), 6) AS DOUBLE) AS smooth2,
         |  CAST(round(CAST(lvl AS DECIMAL(28,9)), 6) AS DOUBLE) AS level,
         |  CAST(round(CAST(tr AS DECIMAL(28,9)), 6) AS DOUBLE) AS trend,
         |  CAST(round(CAST(round(lvl + tr, 9) AS DECIMAL(28,9)), 6)
         |       AS DOUBLE) AS forecast
         |FROM f ORDER BY day""".stripMargin,
    // Mann–Kendall mirror: exact integer S and tie term, discrete
    // median of pairwise slopes.
    "q_ts_trend" ->
      s"""WITH $tsGridSql,
         |b AS (SELECT n, CAST(row_number() OVER (ORDER BY day) AS BIGINT)
         |             AS rn FROM g2),
         |pr AS (SELECT CAST(a.n AS DOUBLE) AS ni, CAST(t.n AS DOUBLE) AS nj,
         |              t.rn - a.rn AS dk
         |       FROM b a JOIN b t ON a.rn < t.rn),
         |s AS (SELECT coalesce(sum(CASE WHEN nj > ni THEN 1
         |                               WHEN nj < ni THEN -1 ELSE 0 END), 0)
         |        AS sv FROM pr),
         |nn AS (SELECT count(*) AS n_days FROM b),
         |tt AS (SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS ttv
         |       FROM (SELECT count(*) AS t FROM b GROUP BY n)),
         |sl AS (SELECT round((nj - ni) / CAST(dk AS DOUBLE), 9) AS v,
         |              count(*) AS c FROM pr GROUP BY 1),
         |med AS (SELECT v AS sen FROM
         |  (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum,
         |          sum(c) OVER () AS nt FROM sl)
         |  WHERE cum - c < CAST(ceil(round(0.5 * CAST(nt AS DOUBLE), 9))
         |          AS BIGINT)
         |    AND CAST(ceil(round(0.5 * CAST(nt AS DOUBLE), 9)) AS BIGINT)
         |          <= cum),
         |mw AS (SELECT max(sen) AS sen FROM med),
         |fin AS (SELECT n_days, sv,
         |    round((CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0) *
         |      (2.0 * CAST(n_days AS DOUBLE) + 5.0) - CAST(ttv AS DOUBLE))
         |      / 18.0, 9) AS vs
         |  FROM nn, s, tt)
         |SELECT n_days, CAST(sv AS BIGINT) AS s,
         |  CAST(round(CAST(vs AS DECIMAL(28,9)), 6) AS DOUBLE) AS var_s,
         |  CASE WHEN round(sqrt(greatest(vs, 0.0)), 9) = 0.0 THEN NULL
         |       WHEN sv > 0 THEN round((CAST(sv AS DOUBLE) - 1.0) /
         |         round(sqrt(greatest(vs, 0.0)), 9), 6)
         |       WHEN sv < 0 THEN round((CAST(sv AS DOUBLE) + 1.0) /
         |         round(sqrt(greatest(vs, 0.0)), 9), 6)
         |       ELSE 0.0 END AS z,
         |  sen AS sen_slope
         |FROM fin, mw""".stripMargin,
    "q_ts_mase" ->
      s"""WITH $tsGridSql,
         |f AS (SELECT day, n, lag(n, 7) OVER (ORDER BY day) AS fc,
         |             lag(n, 1) OVER (ORDER BY day) AS l1 FROM g2),
         |e AS (SELECT n, fc, l1 FROM f
         |      WHERE fc IS NOT NULL AND l1 IS NOT NULL),
         |m AS (SELECT count(*) AS n_eval, sum(abs(n - fc)) AS sf,
         |             sum(abs(n - l1)) AS sn FROM e),
         |c AS (SELECT n_eval,
         |    round(CAST(sf AS DOUBLE) /
         |      CASE WHEN n_eval = 0 THEN 1.0
         |           ELSE CAST(n_eval AS DOUBLE) END, 9) AS maef,
         |    round(CAST(sn AS DOUBLE) /
         |      CASE WHEN n_eval = 0 THEN 1.0
         |           ELSE CAST(n_eval AS DOUBLE) END, 9) AS maen
         |  FROM m)
         |SELECT n_eval,
         |  CASE WHEN n_eval = 0 THEN NULL ELSE round(maef, 6) END
         |    AS mae_forecast,
         |  CASE WHEN n_eval = 0 THEN NULL ELSE round(maen, 6) END
         |    AS mae_naive,
         |  CASE WHEN n_eval = 0 OR maen = 0.0 THEN NULL
         |       ELSE round(maef /
         |         CASE WHEN maen = 0.0 THEN 1.0 ELSE maen END, 6) END
         |    AS mase
         |FROM c""".stripMargin,
    "q_seq_trigram" ->
      """WITH e AS (SELECT user_id, event_type AS t0,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id) AS t1,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id) AS t2
        |  FROM events WHERE event_type IS NOT NULL),
        |g AS (SELECT user_id, t0 || '>' || t1 || '>' || t2 AS seq FROM e
        |      WHERE t2 IS NOT NULL),
        |u AS (SELECT user_id, seq, count(*) AS c FROM g GROUP BY 1, 2),
        |cc AS (SELECT seq, count(*) AS n_users,
        |         CAST(sum(c) AS BIGINT) AS n_occurrences FROM u GROUP BY 1)
        |SELECT seq, n_users, n_occurrences,
        |  CAST(row_number() OVER (ORDER BY n_users DESC, seq) AS BIGINT)
        |    AS rank
        |FROM cc ORDER BY n_users DESC, seq LIMIT 20""".stripMargin,
    "q_rfm" ->
      s"""WITH $rfmScoresSql
         |SELECT o_custkey, recency_days, frequency, monetary, r, f, m,
         |  segment
         |FROM sc ORDER BY o_custkey""".stripMargin,
    "q_rfm_segments" ->
      s"""WITH $rfmScoresSql,
         |ag AS (SELECT segment, count(*) AS customers,
         |         sum(CAST(monetary AS DECIMAL(18,2))) AS sm FROM sc
         |       GROUP BY 1),
         |tt AS (SELECT sum(sm) AS tot FROM ag)
         |SELECT segment, customers, round(CAST(sm AS DOUBLE), 2)
         |    AS monetary_sum,
         |  CASE WHEN CAST(tot AS DOUBLE) = 0 THEN NULL
         |       ELSE round(CAST(sm AS DOUBLE) / CAST(tot AS DOUBLE), 6) END
         |    AS monetary_share
         |FROM ag, tt ORDER BY segment""".stripMargin,
    "q_profile_top_values" ->
      """SELECT value, n, CAST(row_number() OVER (ORDER BY n DESC, value ASC) AS BIGINT) AS rank
        |FROM (SELECT source AS value, count(*) AS n FROM documents GROUP BY 1
        |      ORDER BY n DESC, value ASC LIMIT 5) t
        |ORDER BY rank""".stripMargin,
    "q_script_profile" ->
      s"""WITH t AS (
         |  SELECT doc_id, coalesce(text, '') || '$scriptSuffix' AS t2
         |  FROM documents)
         |SELECT doc_id,
         |  round(length(regexp_replace(t2, '[^A-Za-z]', '', 'g')) / length(t2), 6) AS latin,
         |  round(length(regexp_replace(t2, '[^0-9]', '', 'g')) / length(t2), 6) AS digit,
         |  round(length(regexp_replace(t2, '[^ \\t\\n\\r]', '', 'g')) / length(t2), 6) AS space,
         |  round(length(regexp_replace(t2, '[^\\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}]', '', 'g')) / length(t2), 6) AS cjk,
         |  round(length(regexp_replace(t2, '[^\\x{0400}-\\x{04ff}]', '', 'g')) / length(t2), 6) AS cyrillic,
         |  round(length(regexp_replace(t2, '[^\\x{0600}-\\x{06ff}]', '', 'g')) / length(t2), 6) AS arabic,
         |  round(length(regexp_replace(t2,
         |    '[A-Za-z0-9 \\t\\n\\r\\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}\\x{0400}-\\x{04ff}\\x{0600}-\\x{06ff}]',
         |    '', 'g')) / length(t2), 6) AS other
         |FROM t ORDER BY doc_id""".stripMargin,
    "q_embed_outliers" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |ex AS (SELECT vec_id, label, unnest(v) AS x,
        |              unnest(range(1, len(v) + 1)) AS pos FROM e),
        |cent AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(round(x, 9) AS DECIMAL(27,9))) AS DOUBLE) / count(*) AS c
        |  FROM ex GROUP BY 1, 2),
        |cl AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1),
        |scored AS (
        |  SELECT e.vec_id, e.label,
        |         round(list_cosine_similarity(e.v, cl.cv), 6) AS cosine
        |  FROM e JOIN cl USING (label)),
        |ranked AS (
        |  SELECT label, vec_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY label
        |         ORDER BY cosine ASC, vec_id ASC) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT label, rank, vec_id, cosine FROM ranked
        |WHERE rank <= 5 ORDER BY label, rank""".stripMargin,
    "q_sample_token_budget" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, len($toksSql) AS n_tokens FROM documents),
         |wb AS (
         |  SELECT *, coalesce(sum(n_tokens) OVER (
         |    PARTITION BY source
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
         |  FROM t)
         |SELECT doc_id, source, n_tokens FROM wb
         |WHERE (source = 'src0' AND bef < 2000)
         |   OR (source = 'src1' AND bef < 600)
         |   OR (source = 'src2' AND bef < 1)
         |ORDER BY doc_id""".stripMargin,
    "q_snapshot_diff" ->
      """WITH o AS (SELECT doc_id AS id, md5(text) AS od, true AS op
        |           FROM documents),
        |n0 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
        |                      ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 != 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 5),
        |n AS (SELECT doc_id AS id, md5(text) AS nd, true AS np FROM n0)
        |SELECT coalesce(o.id, n.id) AS id,
        |  CASE WHEN op IS NULL THEN 'added'
        |       WHEN np IS NULL THEN 'removed'
        |       WHEN od IS NOT DISTINCT FROM nd THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.id = n.id
        |ORDER BY id""".stripMargin,
    "q_snapshot_apply" ->
      """SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
        |                    ELSE text END AS text
        |FROM documents WHERE doc_id % 10 != 0
        |UNION ALL
        |SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 5
        |ORDER BY doc_id""".stripMargin,
    "q_incr_agg" ->
      """SELECT o_orderpriority, count(o_totalprice) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  min(o_totalprice) AS min_v, max(o_totalprice) AS max_v,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(o_totalprice) AS avg_v
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_incr_retract" ->
      """SELECT o_orderpriority, count(o_totalprice) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 10 != 0
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_graph_pagerank" -> pageRankOracle(iterations = 3, damping = 0.85),
    "q_graph_ppr" -> pprOracle(iterations = 3, damping = 0.85),
    "q_graph_pagerank_weighted" ->
      weightedPrOracle(iterations = 3, damping = 0.85),
    "q_graph_hits" -> hitsOracle(iterations = 2),
    // Unseeded LPA, 2 rounds unrolled: l0 = own id as string; majority
    // votes with (count desc, label asc) STRING-order ties; no clamping.
    "q_graph_communities" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |leaves AS (SELECT doc_id AS src, doc_id - (doc_id % 5) AS dst
        |           FROM ids WHERE doc_id % 5 != 0),
        |hubset AS (SELECT doc_id AS hid FROM ids WHERE doc_id % 5 = 0),
        |chain AS (SELECT h.doc_id AS src, h.doc_id + 5 AS dst
        |          FROM ids h JOIN hubset t ON h.doc_id + 5 = t.hid
        |          WHERE h.doc_id % 5 = 0),
        |fwd AS (SELECT src, dst FROM leaves UNION ALL SELECT src, dst FROM chain),
        |und AS (SELECT DISTINCT a, b FROM (
        |  SELECT src AS a, dst AS b FROM fwd
        |  UNION ALL SELECT dst AS a, src AS b FROM fwd) t WHERE a != b),
        |nodes AS (SELECT DISTINCT a AS node FROM und),
        |l0 AS (SELECT node, CAST(node AS VARCHAR) AS lab FROM nodes),
        |v1 AS (SELECT u.b AS node, l.lab, count(*) AS n
        |       FROM und u JOIN l0 l ON u.a = l.node GROUP BY 1, 2),
        |m1 AS (SELECT node, lab FROM (
        |         SELECT node, lab, row_number() OVER (PARTITION BY node
        |           ORDER BY n DESC, lab ASC) AS rn FROM v1) t WHERE rn = 1),
        |l1 AS (SELECT n.node, coalesce(m.lab, CAST(n.node AS VARCHAR)) AS lab
        |       FROM nodes n LEFT JOIN m1 m USING (node)),
        |v2 AS (SELECT u.b AS node, l.lab, count(*) AS n
        |       FROM und u JOIN l1 l ON u.a = l.node GROUP BY 1, 2),
        |m2 AS (SELECT node, lab FROM (
        |         SELECT node, lab, row_number() OVER (PARTITION BY node
        |           ORDER BY n DESC, lab ASC) AS rn FROM v2) t WHERE rn = 1),
        |l2 AS (SELECT n.node, coalesce(m.lab, CAST(n.node AS VARCHAR)) AS lab
        |       FROM nodes n LEFT JOIN m2 m USING (node))
        |SELECT node, lab AS community FROM l2 ORDER BY node""".stripMargin,
    // Communities CTE chain + modularity: per-community terms round to
    // 9 dp and decimal-sum; every division shape mirrors the operator.
    "q_graph_modularity" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |leaves AS (SELECT doc_id AS src, doc_id - (doc_id % 5) AS dst
        |           FROM ids WHERE doc_id % 5 != 0),
        |hubset AS (SELECT doc_id AS hid FROM ids WHERE doc_id % 5 = 0),
        |chain AS (SELECT h.doc_id AS src, h.doc_id + 5 AS dst
        |          FROM ids h JOIN hubset t ON h.doc_id + 5 = t.hid
        |          WHERE h.doc_id % 5 = 0),
        |fwd AS (SELECT src, dst FROM leaves UNION ALL SELECT src, dst FROM chain),
        |und AS (SELECT DISTINCT a, b FROM (
        |  SELECT src AS a, dst AS b FROM fwd
        |  UNION ALL SELECT dst AS a, src AS b FROM fwd) t WHERE a != b),
        |nodes AS (SELECT DISTINCT a AS node FROM und),
        |l0 AS (SELECT node, CAST(node AS VARCHAR) AS lab FROM nodes),
        |v1 AS (SELECT u.b AS node, l.lab, count(*) AS n
        |       FROM und u JOIN l0 l ON u.a = l.node GROUP BY 1, 2),
        |m1 AS (SELECT node, lab FROM (
        |         SELECT node, lab, row_number() OVER (PARTITION BY node
        |           ORDER BY n DESC, lab ASC) AS rn FROM v1) t WHERE rn = 1),
        |l1 AS (SELECT n.node, coalesce(m.lab, CAST(n.node AS VARCHAR)) AS lab
        |       FROM nodes n LEFT JOIN m1 m USING (node)),
        |v2 AS (SELECT u.b AS node, l.lab, count(*) AS n
        |       FROM und u JOIN l1 l ON u.a = l.node GROUP BY 1, 2),
        |m2 AS (SELECT node, lab FROM (
        |         SELECT node, lab, row_number() OVER (PARTITION BY node
        |           ORDER BY n DESC, lab ASC) AS rn FROM v2) t WHERE rn = 1),
        |l2 AS (SELECT n.node, coalesce(m.lab, CAST(n.node AS VARCHAR)) AS lab
        |       FROM nodes n LEFT JOIN m2 m USING (node)),
        |tagged AS (SELECT la.lab AS ca, lb.lab AS cb
        |           FROM und u JOIN l2 la ON u.a = la.node
        |                      JOIN l2 lb ON u.b = lb.node),
        |perc AS (SELECT ca, count(*) AS dc,
        |           sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS intra2
        |         FROM tagged GROUP BY 1),
        |mm AS (SELECT CAST(count(*) / 2 AS BIGINT) AS m FROM und)
        |SELECT max(m) AS n_edges, CAST(count(*) AS BIGINT) AS n_communities,
        |  round(CAST(sum(CAST(round(
        |    CAST(intra2 AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)) -
        |    (CAST(dc AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))) *
        |    (CAST(dc AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))), 9)
        |    AS DECIMAL(28,9))) AS DOUBLE), 6) AS modularity
        |FROM perc CROSS JOIN mm""".stripMargin,
    // Same oriented-wedge join as the operator: orient each undirected
    // edge from its lower-(degree, id) endpoint, build wedges, close
    // them against the oriented list — each triangle once, integers only.
    "q_graph_triangles" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |fwd AS (
        |  SELECT doc_id AS src, doc_id + 1 AS dst FROM ids
        |  UNION ALL SELECT doc_id, doc_id + 2 FROM ids
        |  UNION ALL SELECT doc_id, doc_id - (doc_id % 10) FROM ids
        |    WHERE doc_id % 10 != 0),
        |und AS (SELECT DISTINCT a, b FROM (
        |  SELECT src AS a, dst AS b FROM fwd
        |  UNION ALL SELECT dst AS a, src AS b FROM fwd) t WHERE a != b),
        |deg AS (SELECT a AS node, count(*) AS dg FROM und GROUP BY 1),
        |o AS (SELECT u.a, u.b FROM und u
        |      JOIN deg da ON u.a = da.node JOIN deg db ON u.b = db.node
        |      WHERE da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)),
        |tri AS (SELECT o1.a, o1.b, o2.b AS c
        |        FROM o o1 JOIN o o2 ON o1.b = o2.a
        |        JOIN o o3 ON o3.a = o1.a AND o3.b = o2.b),
        |cr AS (SELECT node, count(*) AS t FROM (
        |        SELECT a AS node FROM tri
        |        UNION ALL SELECT b FROM tri
        |        UNION ALL SELECT c FROM tri) u GROUP BY 1)
        |SELECT d.node, d.dg AS degree,
        |  coalesce(cr.t, 0) AS triangles,
        |  CASE WHEN d.dg >= 2
        |    THEN round(2.0 * coalesce(cr.t, 0) /
        |               (CAST(d.dg AS DOUBLE) * (d.dg - 1)), 6)
        |    ELSE 0.0 END AS clustering
        |FROM deg d LEFT JOIN cr USING (node) ORDER BY node""".stripMargin,
    // Same symmetrize/degree scaffold as the triangle oracle; wedge
    // self-join through centers with 2 <= deg <= 8, per-center
    // 1/ln(deg) snapped to 9 dp and summed as DECIMAL(28,9).
    "q_graph_linkpred" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |fwd AS (
        |  SELECT doc_id AS src, doc_id + 1 AS dst FROM ids
        |  UNION ALL SELECT doc_id, doc_id + 2 FROM ids
        |  UNION ALL SELECT doc_id, doc_id - (doc_id % 10) FROM ids
        |    WHERE doc_id % 10 != 0),
        |und AS (SELECT DISTINCT a, b FROM (
        |  SELECT src AS a, dst AS b FROM fwd
        |  UNION ALL SELECT dst AS a, src AS b FROM fwd) t WHERE a != b),
        |deg AS (SELECT a AS node, count(*) AS dg FROM und GROUP BY 1),
        |star AS (SELECT u.a AS c, u.b,
        |           round(1.0 / ln(CAST(d.dg AS DOUBLE)), 9) AS aa
        |         FROM und u JOIN deg d ON u.a = d.node
        |         WHERE d.dg >= 2 AND d.dg <= 8),
        |w AS (SELECT l.b AS na, r.b AS nb, l.aa
        |      FROM star l JOIN star r ON l.c = r.c WHERE l.b < r.b),
        |s AS (SELECT na, nb, count(*) AS cn,
        |        sum(CAST(aa AS DECIMAL(28,9))) AS aas
        |      FROM w GROUP BY 1, 2),
        |n AS (SELECT s.* FROM s LEFT JOIN und u
        |        ON s.na = u.a AND s.nb = u.b
        |      WHERE u.a IS NULL)
        |SELECT na AS node_a, nb AS node_b, cn AS common_neighbors,
        |  round(CAST(cn AS DOUBLE) /
        |    CAST(da.dg + db.dg - cn AS DOUBLE), 6) AS jaccard,
        |  CAST(round(aas, 6) AS DOUBLE) AS adamic_adar
        |FROM n JOIN deg da ON n.na = da.node JOIN deg db ON n.nb = db.node
        |ORDER BY node_a, node_b""".stripMargin,
    // 3 unrolled min-relaxations from the century seeds over the same
    // symmetrized scaffold; reached nodes only.
    "q_graph_bfs" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |fwd AS (
        |  SELECT doc_id AS src, doc_id + 1 AS dst FROM ids
        |  UNION ALL SELECT doc_id, doc_id + 2 FROM ids
        |  UNION ALL SELECT doc_id, doc_id - (doc_id % 10) FROM ids
        |    WHERE doc_id % 10 != 0),
        |und AS (SELECT DISTINCT a, b FROM (
        |  SELECT src AS a, dst AS b FROM fwd
        |  UNION ALL SELECT dst AS a, src AS b FROM fwd) t WHERE a != b),
        |nodes AS (SELECT DISTINCT a AS node FROM und),
        |d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes
        |       JOIN ids ON node = doc_id WHERE node % 100 = 0),
        |d1 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d0
        |  UNION ALL SELECT u.b, d.dist + 1 FROM und u
        |    JOIN d0 d ON u.a = d.node) t GROUP BY 1),
        |d2 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d1
        |  UNION ALL SELECT u.b, d.dist + 1 FROM und u
        |    JOIN d1 d ON u.a = d.node) t GROUP BY 1),
        |d3 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d2
        |  UNION ALL SELECT u.b, d.dist + 1 FROM und u
        |    JOIN d2 d ON u.a = d.node) t GROUP BY 1)
        |SELECT node, dist FROM d3 ORDER BY node""".stripMargin,
    // Newman assortativity: Pearson of endpoint degrees over both
    // orientations; exact integer moments, 9-dp means, 6-dp publish.
    "q_graph_assortativity" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |fwd AS (
        |  SELECT doc_id AS src, doc_id + 1 AS dst FROM ids
        |  UNION ALL SELECT doc_id, doc_id + 2 FROM ids
        |  UNION ALL SELECT doc_id, doc_id - (doc_id % 10) FROM ids
        |    WHERE doc_id % 10 != 0),
        |und AS (SELECT DISTINCT a, b FROM (
        |  SELECT src AS a, dst AS b FROM fwd
        |  UNION ALL SELECT dst AS a, src AS b FROM fwd) t WHERE a != b),
        |deg AS (SELECT a AS node, count(*) AS dg FROM und GROUP BY 1),
        |bt AS (SELECT dx.dg AS x, dy.dg AS y FROM und u
        |       JOIN deg dx ON u.a = dx.node JOIN deg dy ON u.b = dy.node),
        |m AS (SELECT count(*) AS mm,
        |        sum(CAST(x AS DECIMAL(28,0))) AS sx,
        |        sum(CAST(x * x AS DECIMAL(28,0))) AS sxx,
        |        sum(CAST(x * y AS DECIMAL(28,0))) AS sxy FROM bt),
        |c AS (SELECT mm,
        |        round(CAST(sx AS DOUBLE) / mm, 9) AS mx,
        |        round(CAST(sxx AS DOUBLE) / mm, 9) AS exx,
        |        round(CAST(sxy AS DOUBLE) / mm, 9) AS exy FROM m),
        |v AS (SELECT *, round(exx - mx * mx, 9) AS varx FROM c)
        |SELECT CAST(mm // 2 AS BIGINT) AS n_edges,
        |  CASE WHEN mm = 0 OR varx <= 0.0 THEN NULL
        |       ELSE round(round(exy - mx * mx, 9) / varx, 6)
        |  END AS assortativity
        |FROM v""".stripMargin,
    // 4 unrolled synchronous peels at k=3: each round recomputes
    // degrees over the surviving edges and keeps nodes with >= k;
    // converged = the last peel deleted nothing (edge counts equal).
    "q_graph_kcore" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |fwd AS (
        |  SELECT doc_id AS src, doc_id + 1 AS dst FROM ids
        |  UNION ALL SELECT doc_id, doc_id + 2 FROM ids
        |  UNION ALL SELECT doc_id, doc_id - (doc_id % 10) FROM ids
        |    WHERE doc_id % 10 != 0),
        |e0 AS (SELECT DISTINCT a, b FROM (
        |  SELECT src AS a, dst AS b FROM fwd
        |  UNION ALL SELECT dst AS a, src AS b FROM fwd) t WHERE a != b),
        |k1 AS (SELECT a AS node FROM e0 GROUP BY 1 HAVING count(*) >= 3),
        |e1 AS (SELECT e.a, e.b FROM e0 e JOIN k1 x ON e.a = x.node
        |       JOIN k1 y ON e.b = y.node),
        |k2 AS (SELECT a AS node FROM e1 GROUP BY 1 HAVING count(*) >= 3),
        |e2 AS (SELECT e.a, e.b FROM e1 e JOIN k2 x ON e.a = x.node
        |       JOIN k2 y ON e.b = y.node),
        |k3 AS (SELECT a AS node FROM e2 GROUP BY 1 HAVING count(*) >= 3),
        |e3 AS (SELECT e.a, e.b FROM e2 e JOIN k3 x ON e.a = x.node
        |       JOIN k3 y ON e.b = y.node),
        |k4 AS (SELECT a AS node FROM e3 GROUP BY 1 HAVING count(*) >= 3),
        |e4 AS (SELECT e.a, e.b FROM e3 e JOIN k4 x ON e.a = x.node
        |       JOIN k4 y ON e.b = y.node)
        |SELECT a AS node, count(*) AS core_degree,
        |  (SELECT count(*) FROM e3) = (SELECT count(*) FROM e4) AS converged
        |FROM e4 GROUP BY 1 ORDER BY node""".stripMargin,
    // 2-round synchronous label propagation, unrolled: each round is a
    // labeled-neighbor vote + (count desc, label asc) argmax; seeds
    // clamp via the coalesce order.
    "q_graph_labelprop" ->
      """WITH ids AS (SELECT doc_id, n_chars FROM documents),
        |leaves AS (SELECT doc_id AS src, doc_id - (doc_id % 5) AS dst
        |           FROM ids WHERE doc_id % 5 != 0),
        |hubset AS (SELECT doc_id AS hid FROM ids WHERE doc_id % 5 = 0),
        |chain AS (SELECT h.doc_id AS src, h.doc_id + 5 AS dst
        |          FROM ids h JOIN hubset t ON h.doc_id + 5 = t.hid
        |          WHERE h.doc_id % 5 = 0),
        |fwd AS (SELECT src, dst FROM leaves UNION ALL SELECT src, dst FROM chain),
        |und AS (SELECT DISTINCT a, b FROM (
        |  SELECT src AS a, dst AS b FROM fwd
        |  UNION ALL SELECT dst AS a, src AS b FROM fwd) t WHERE a != b),
        |nodes AS (SELECT DISTINCT a AS node FROM und
        |          UNION SELECT doc_id FROM ids WHERE doc_id % 10 = 0),
        |seed AS (SELECT doc_id AS node,
        |           CASE WHEN n_chars >= 300 THEN 'keep' ELSE 'drop' END AS lab
        |         FROM ids WHERE doc_id % 10 = 0),
        |l0 AS (SELECT n.node, s.lab FROM nodes n LEFT JOIN seed s USING (node)),
        |v1 AS (SELECT u.b AS node, l.lab, count(*) AS n
        |       FROM und u JOIN l0 l ON u.a = l.node WHERE l.lab IS NOT NULL
        |       GROUP BY 1, 2),
        |m1 AS (SELECT node, lab FROM (
        |         SELECT node, lab, row_number() OVER (PARTITION BY node
        |           ORDER BY n DESC, lab ASC) AS rn FROM v1) t WHERE rn = 1),
        |l1 AS (SELECT n.node, coalesce(s.lab, m.lab) AS lab
        |       FROM nodes n LEFT JOIN seed s USING (node)
        |       LEFT JOIN m1 m USING (node)),
        |v2 AS (SELECT u.b AS node, l.lab, count(*) AS n
        |       FROM und u JOIN l1 l ON u.a = l.node WHERE l.lab IS NOT NULL
        |       GROUP BY 1, 2),
        |m2 AS (SELECT node, lab FROM (
        |         SELECT node, lab, row_number() OVER (PARTITION BY node
        |           ORDER BY n DESC, lab ASC) AS rn FROM v2) t WHERE rn = 1),
        |l2 AS (SELECT n.node, coalesce(s.lab, m.lab) AS lab
        |       FROM nodes n LEFT JOIN seed s USING (node)
        |       LEFT JOIN m2 m USING (node))
        |SELECT node, lab AS label FROM l2 ORDER BY node""".stripMargin,
    "q_layout_zorder" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey % 256 AS x,
         |  l_suppkey % 256 AS y,
         |  ${zOracleExpr(Seq("l_partkey % 256", "l_suppkey % 256"), 8)} AS z
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_web_canonical" -> canonicalUrlOracle,
    "q_custom_canonical" -> canonicalUrlOracle,
    // Closed form (see the gate comment): survivors are exactly the
    // original documents with their own quality scores.
    "q_dedup_keep_best" -> (qualityOracle + " ORDER BY doc_id"),

    // Sorted-neighborhood: the sliding window over sort ranks is a
    // rank-difference self-join in SQL (same block, rank gap 1..w-1).
    "q_dedup_sortedneigh" ->
      """WITH ranked AS (
        |  SELECT p_partkey AS id, p_name AS k, substr(p_name, 1, 4) AS blk,
        |    row_number() OVER (PARTITION BY substr(p_name, 1, 4)
        |                       ORDER BY p_name, p_partkey) AS rnk
        |  FROM part)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(b.rnk - a.rnk AS INTEGER) AS dist
        |FROM ranked a JOIN ranked b
        |  ON a.blk = b.blk AND b.rnk > a.rnk AND b.rnk - a.rnk <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q_linkage_jw" ->
      """WITH ranked AS (
        |  SELECT s_suppkey AS id, s_name AS k, substr(s_name, 1, 9) AS blk,
        |    row_number() OVER (PARTITION BY substr(s_name, 1, 9)
        |                       ORDER BY s_name, s_suppkey) AS rnk
        |  FROM supplier)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(b.rnk - a.rnk AS INTEGER) AS dist,
        |  round(jaro_winkler_similarity(a.k, b.k), 6) AS jw
        |FROM ranked a JOIN ranked b
        |  ON a.blk = b.blk AND b.rnk > a.rnk AND b.rnk - a.rnk <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q_linkage_score" -> (linkageOracleBase + " ORDER BY id_a, id_b"),
    "q_linkage_match" ->
      s"""SELECT * FROM ($linkageOracleBase) t
         |WHERE score >= 4.0 ORDER BY id_a, id_b""".stripMargin,
    "q_linkage_rates" -> linkageRatesOracle,
    "q_linkage_blocks" ->
      """WITH a AS (SELECT p_brand AS block, count(*) AS n
        |           FROM part GROUP BY 1)
        |SELECT block, CAST(n AS BIGINT) AS n_left,
        |  CAST(n AS BIGINT) AS n_right,
        |  CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs
        |FROM a ORDER BY n_pairs DESC, block""".stripMargin,
    "q_stage_dag" ->
      """SELECT * FROM (VALUES
        |  ('f1-g1', 'f1', 'g1'),
        |  ('j1-f1-0', 'j1', 'f1'),
        |  ('l1-j1-1', 'l1', 'j1'),
        |  ('l1-u1-0', 'l1', 'u1'),
        |  ('l2-j0-0', 'l2', 'j0'),
        |  ('l2-j1-0', 'l2', 'j1'),
        |  ('l3-j0-1', 'l3', 'j0'),
        |  ('l3-u1-1', 'l3', 'u1')) AS t(id, source, target)
        |ORDER BY id""".stripMargin,
    "q_linkage_multi" -> linkageMultiOracle,
    "q_linkage_multi_blocks" ->
      """WITH pm AS (SELECT p_brand || '#' || CAST(p_size AS VARCHAR) AS blk1,
        |  substring(p_name, 1, 12) AS blk2 FROM part),
        |u AS (SELECT 0 AS pass, blk1 AS block, count(*) AS n FROM pm GROUP BY 2
        |      UNION ALL
        |      SELECT 1 AS pass, blk2 AS block, count(*) AS n FROM pm GROUP BY 2)
        |SELECT CAST(pass AS INTEGER) AS pass, block,
        |  CAST(n AS BIGINT) AS n_left, CAST(n AS BIGINT) AS n_right,
        |  CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs
        |FROM u ORDER BY pass, n_pairs DESC, block""".stripMargin,
    "q_linkage_capped" -> linkageCappedOracle,
    "q_linkage_em" -> linkageEmOracle(0.05),
    "q_linkage_em2" -> linkageEmOracle(0.05, iterations = 2),
    // Survivorship rules as windows: longest = (len DESC, value DESC)
    // rank-1; mode = (count DESC, value ASC) rank-1; latest = greatest
    // order column (custkey unique → no tie path exercised).
    "q_linkage_golden" ->
      """WITH c AS (SELECT c_custkey % 100 AS cluster, c_name,
        |             c_mktsegment, c_acctbal, c_custkey FROM customer),
        |n AS (SELECT cluster, count(*) AS n_members FROM c GROUP BY 1),
        |lc AS (SELECT cluster, c_name FROM (
        |  SELECT cluster, c_name, row_number() OVER (
        |    PARTITION BY cluster
        |    ORDER BY length(c_name) DESC, c_name DESC) AS rn
        |  FROM c WHERE c_name IS NOT NULL) t WHERE rn = 1),
        |mf AS (SELECT cluster, c_mktsegment FROM (
        |  SELECT cluster, c_mktsegment, row_number() OVER (
        |    PARTITION BY cluster
        |    ORDER BY cnt DESC, c_mktsegment ASC) AS rn FROM (
        |    SELECT cluster, c_mktsegment, count(*) AS cnt FROM c
        |    WHERE c_mktsegment IS NOT NULL GROUP BY 1, 2) g) t
        |  WHERE rn = 1),
        |lt AS (SELECT cluster, c_acctbal FROM (
        |  SELECT cluster, c_acctbal, row_number() OVER (
        |    PARTITION BY cluster
        |    ORDER BY c_custkey DESC, c_acctbal DESC) AS rn
        |  FROM c WHERE c_acctbal IS NOT NULL) t WHERE rn = 1)
        |SELECT n.cluster, n.n_members, lc.c_name, mf.c_mktsegment,
        |  lt.c_acctbal
        |FROM n LEFT JOIN lc USING (cluster) LEFT JOIN mf USING (cluster)
        |LEFT JOIN lt USING (cluster) ORDER BY cluster""".stripMargin,

    "q_profile_key_overlap" ->
      """WITH lk AS (SELECT o_custkey AS k, count(*) AS nl FROM orders
        |            WHERE o_custkey IS NOT NULL GROUP BY 1),
        |rk AS (SELECT c_custkey AS k, count(*) AS nr FROM customer
        |       WHERE c_custkey IS NOT NULL GROUP BY 1),
        |j AS (SELECT nl, nr FROM lk FULL OUTER JOIN rk ON lk.k = rk.k),
        |s AS (SELECT
        |  CAST(count(nl) AS BIGINT) AS n_left_keys,
        |  CAST(count(nr) AS BIGINT) AS n_right_keys,
        |  CAST(count(CASE WHEN nl IS NOT NULL AND nr IS NOT NULL THEN 1 END)
        |       AS BIGINT) AS n_shared_keys,
        |  CAST(coalesce(sum(nl), 0) AS BIGINT) AS n_left_rows,
        |  CAST(coalesce(sum(CASE WHEN nr IS NOT NULL THEN nl END), 0)
        |       AS BIGINT) AS left_rows_matched,
        |  CAST(coalesce(sum(nr), 0) AS BIGINT) AS n_right_rows,
        |  CAST(coalesce(sum(CASE WHEN nl IS NOT NULL THEN nr END), 0)
        |       AS BIGINT) AS right_rows_matched,
        |  CAST(coalesce(max(nl * nr), 0) AS BIGINT) AS max_fanout
        |  FROM j)
        |SELECT n_left_keys, n_right_keys, n_shared_keys,
        |  round(CAST(n_shared_keys AS DOUBLE) /
        |        (n_left_keys + n_right_keys - n_shared_keys), 6) AS key_jaccard,
        |  round(CAST(n_shared_keys AS DOUBLE) / n_left_keys, 6)
        |    AS left_key_containment,
        |  round(CAST(n_shared_keys AS DOUBLE) / n_right_keys, 6)
        |    AS right_key_containment,
        |  n_left_rows, left_rows_matched, n_right_rows, right_rows_matched,
        |  max_fanout
        |FROM s""".stripMargin,

    // The q_pack packing CTE, aggregated to the efficiency report.
    "q_pack_stats" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
        |      FROM t),
        |p AS (SELECT shard,
        |        CAST(floor(CAST(cum - n_tokens AS DOUBLE) / CAST(500 AS DOUBLE)) AS BIGINT) AS pack,
        |        n_tokens
        |      FROM c),
        |g AS (SELECT shard, pack, CAST(count(*) AS BIGINT) AS docs,
        |        CAST(sum(n_tokens) AS BIGINT) AS toks
        |      FROM p GROUP BY shard, pack),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_packs,
        |        CAST(sum(docs) AS BIGINT) AS n_docs,
        |        CAST(sum(toks) AS BIGINT) AS n_tokens,
        |        CAST(min(toks) AS BIGINT) AS min_pack_tokens,
        |        CAST(max(toks) AS BIGINT) AS max_pack_tokens,
        |        CAST(count(CASE WHEN toks > 500 THEN 1 END) AS BIGINT)
        |          AS n_overflow_packs,
        |        CAST(sum(greatest(500 - toks, 0)) AS BIGINT) AS pad_tokens,
        |        CAST(sum(greatest(toks - 500, 0)) AS BIGINT) AS overflow_tokens
        |      FROM g)
        |SELECT n_packs, n_docs, n_tokens, min_pack_tokens, max_pack_tokens,
        |  n_overflow_packs, pad_tokens, overflow_tokens,
        |  round(CAST(n_tokens AS DOUBLE) / n_packs, 6) AS avg_pack_tokens,
        |  round(CAST(n_tokens - overflow_tokens AS DOUBLE) / (n_packs * 500), 6)
        |    AS utilization
        |FROM s""".stripMargin,

    "q_pii_report" -> piiReportOracle,

    "q_profile_entropy" -> entropyOracle,

    // Same docs-CTE shingle construction as ngramJaccardOracle; the
    // reference inventory is the distinct shingle set of the mod-5 slice.
    "q_text_novelty" ->
      s"""WITH docs AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks)-2,1)+1),
         |         i -> array_to_string(list_slice(toks, i, i+2), ' '))) AS sh
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |),
         |ref AS (SELECT DISTINCT unnest(sh) AS s FROM docs WHERE doc_id % 5 = 0),
         |corp AS (SELECT doc_id, unnest(sh) AS s FROM docs),
         |j AS (SELECT c.doc_id,
         |        CAST(count(*) AS BIGINT) AS n_shingles,
         |        CAST(count(CASE WHEN r.s IS NULL THEN 1 END) AS BIGINT) AS n_novel
         |      FROM corp c LEFT JOIN ref r ON c.s = r.s GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(n_shingles, 0) AS n_shingles,
         |  coalesce(n_novel, 0) AS n_novel,
         |  round(CAST(n_novel AS DOUBLE) / n_shingles, 6) AS novelty
         |FROM (SELECT doc_id FROM documents) d LEFT JOIN j USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // The A-ExpJ key replayed in SQL from the same Knuth hash constants.
    "q_sample_weighted" ->
      """SELECT * FROM (
        |  SELECT doc_id, n_chars,
        |    round(-ln((((doc_id + 7) * 2654435761) % 2147483647 + 1)
        |          / 2147483648.0) / CAST(n_chars AS DOUBLE), 9) AS samp_key
        |  FROM documents WHERE n_chars > 0) t
        |ORDER BY samp_key, doc_id LIMIT 200""".stripMargin,

    // Stage by edges; pos = rank within stage by (md5('graft:'||id), id)
    // — the bucketed-offset construction collapses to exactly this.
    "q_sample_curriculum" ->
      """WITH staged AS (
        |  SELECT doc_id, n_chars,
        |    CAST(CASE WHEN n_chars <= 250.0 THEN 0
        |              WHEN n_chars <= 400.0 THEN 1 ELSE 2 END AS INTEGER) AS stage
        |  FROM documents)
        |SELECT doc_id, n_chars, stage,
        |  CAST(row_number() OVER (PARTITION BY stage
        |    ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    AS BIGINT) AS pos
        |FROM staged ORDER BY doc_id""".stripMargin,

    // sftTurns reconstructed in SQL; first/last roles via min_by/max_by,
    // alternation via a lag window before the aggregate.
    "q_sft_audit" ->
      """WITH t AS (
        |  SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn,
        |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    text AS content
        |  FROM documents),
        |w AS (SELECT conv_id, turn, role, length(content) AS len,
        |        lag(role) OVER (PARTITION BY conv_id ORDER BY turn) AS prev
        |      FROM t),
        |a AS (SELECT conv_id,
        |  CAST(count(*) AS BIGINT) AS n_turns,
        |  CAST(count(CASE WHEN role = 'user' THEN 1 END) AS BIGINT) AS n_user,
        |  CAST(count(CASE WHEN role = 'assistant' THEN 1 END) AS BIGINT)
        |    AS n_assistant,
        |  CAST(coalesce(sum(len), 0) AS BIGINT) AS total_chars,
        |  CAST(max(len) AS BIGINT) AS max_turn_chars,
        |  min_by(role, turn) = 'user' AS starts_with_user,
        |  count(CASE WHEN prev = role THEN 1 END) = 0 AS alternates,
        |  max_by(role, turn) = 'assistant' AS ends_with_assistant
        |  FROM w GROUP BY conv_id)
        |SELECT *, starts_with_user AND alternates AND ends_with_assistant
        |  AS is_valid
        |FROM a ORDER BY conv_id""".stripMargin,

    "q_report_card" ->
      s"""WITH base AS (SELECT
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS total_chars,
         |  CAST(coalesce(sum(len($toksSql)), 0) AS BIGINT) AS total_tokens
         |  FROM documents),
         |dup AS (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS dup_docs
         |        FROM (SELECT md5(text) AS h, count(*) AS c
         |              FROM documents GROUP BY 1) g)
         |SELECT n_docs, n_langs, n_sources, total_chars, total_tokens,
         |  round(CAST(total_tokens AS DOUBLE) / n_docs, 6) AS avg_doc_tokens,
         |  dup_docs,
         |  round(CAST(dup_docs AS DOUBLE) / n_docs, 6) AS dup_doc_frac
         |FROM base, dup""".stripMargin,

    "q_profile_benford" -> benfordOracle,

    "q_dedup_cluster_sizes" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |g AS (SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS cluster_size
        |      FROM all_docs GROUP BY 1),
        |s AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |      FROM g GROUP BY 1),
        |t AS (SELECT CAST(sum(cluster_size * n_clusters) AS BIGINT) AS total
        |      FROM s)
        |SELECT cluster_size, n_clusters,
        |  CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
        |  round(CAST(cluster_size * n_clusters AS DOUBLE) / total, 6)
        |    AS doc_share
        |FROM s, t ORDER BY cluster_size""".stripMargin,

    "q_dedup_cross_source" ->
      """WITH all_docs AS (
        |  SELECT text, source FROM documents
        |  UNION ALL SELECT text, 'mirror' FROM documents),
        |ps AS (SELECT md5(text) AS h, source, CAST(count(*) AS BIGINT) AS c
        |       FROM all_docs GROUP BY 1, 2),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |        CASE WHEN a.source = b.source THEN a.c * (a.c - 1) // 2
        |             ELSE a.c * b.c END AS pairs
        |      FROM ps a JOIN ps b ON a.h = b.h AND a.source <= b.source)
        |SELECT source_a, source_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_clusters,
        |  CAST(sum(pairs) AS BIGINT) AS n_dup_pairs
        |FROM p WHERE pairs > 0 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS term
        |  FROM documents),
        |counts AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks
        |           WHERE length(term) > 0 GROUP BY 1),
        |ranked AS (SELECT term, n,
        |    CAST(row_number() OVER (ORDER BY n DESC, term ASC) AS BIGINT) AS rnk,
        |    CAST(sum(n) OVER (ORDER BY n DESC, term ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM counts),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
        |          CAST(count(*) AS BIGINT) AS v FROM counts)
        |SELECT k, rnk AS vocab_terms, cum AS covered_occurrences,
        |  round(CAST(cum AS DOUBLE) / total, 6) AS coverage
        |FROM (VALUES (10), (100), (1000), (1000000)) AS ks(k)
        |JOIN ranked ON ranked.rnk = least(CAST(k AS BIGINT), (SELECT v FROM tot))
        |CROSS JOIN tot ORDER BY k""".stripMargin,

    "q_text_zipf" -> zipfOracle,

    // deterministicShuffle pos ≡ row_number by (md5(seed:id), id) within
    // the source; mix_key = round(pos / w, 6).
    "q_mix_interleave" ->
      """WITH ev AS (SELECT doc_id,
        |    CAST(row_number() OVER (
        |      ORDER BY md5('s:0:' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS BIGINT) AS mix_rank
        |  FROM documents WHERE doc_id % 2 = 0),
        |od AS (SELECT doc_id,
        |    CAST(row_number() OVER (
        |      ORDER BY md5('s:1:' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS BIGINT) AS mix_rank
        |  FROM documents WHERE doc_id % 2 <> 0),
        |u AS (
        |  SELECT doc_id, 0 AS mix_source, mix_rank,
        |    round(CAST(mix_rank AS DOUBLE) / 3.0, 6) AS mix_key FROM ev
        |  UNION ALL
        |  SELECT doc_id, 1 AS mix_source, mix_rank,
        |    round(CAST(mix_rank AS DOUBLE) / 1.0, 6) AS mix_key FROM od)
        |SELECT * FROM u ORDER BY mix_key, mix_source, doc_id""".stripMargin,

    "q_sample_weighted_perkey" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang, n_chars,
        |    round(-ln((((doc_id + 3) * 2654435761) % 2147483647 + 1)
        |          / 2147483648.0) / CAST(n_chars AS DOUBLE), 9) AS samp_key
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |        ORDER BY samp_key, doc_id) AS rn FROM keyed)
        |SELECT doc_id, lang, n_chars, samp_key FROM r WHERE rn <= 20
        |ORDER BY lang, samp_key, doc_id""".stripMargin,

    // Same centroid construction as the q_cluster_assign oracle; member
    // cosines via list_cosine_similarity (matches VF.cosine at 6 dp),
    // mean as a DECIMAL(20,6) sum of exact 6-dp terms.
    "q_embed_separation" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |ex AS (SELECT vec_id, label, unnest(v) AS x,
        |              unnest(range(1, len(v) + 1)) AS pos FROM e),
        |cent AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(round(x, 9) AS DECIMAL(27,9))) AS DOUBLE) / count(*) AS c
        |  FROM ex GROUP BY 1, 2),
        |cl AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1),
        |self AS (SELECT e.vec_id, e.label,
        |           round(list_cosine_similarity(e.v, cl.cv), 6) AS c
        |         FROM e JOIN cl USING (label)),
        |coh AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
        |          round(CAST(sum(CAST(c AS DECIMAL(20,6))) AS DOUBLE)
        |            / count(*), 6) AS mean_self_cosine
        |        FROM self GROUP BY 1),
        |cc AS (SELECT a.label AS label, b.label AS other,
        |         round(list_cosine_similarity(a.cv, b.cv), 6) AS c
        |       FROM cl a JOIN cl b ON a.label <> b.label),
        |nn AS (SELECT label,
        |         first(other ORDER BY c DESC, other ASC) AS nearest_label,
        |         first(c ORDER BY c DESC, other ASC) AS nearest_centroid_cosine
        |       FROM cc GROUP BY 1)
        |SELECT coh.label, n, mean_self_cosine, nearest_label,
        |  nearest_centroid_cosine,
        |  round(mean_self_cosine - nearest_centroid_cosine, 6) AS margin
        |FROM coh LEFT JOIN nn ON coh.label = nn.label
        |ORDER BY coh.label""".stripMargin,

    "q_eval_classification" ->
      """WITH d AS (SELECT lang AS gold,
        |    CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS pred
        |  FROM documents),
        |cells AS (SELECT gold, pred, CAST(count(*) AS BIGINT) AS c
        |          FROM d GROUP BY 1, 2),
        |bg AS (SELECT gold AS label, CAST(sum(c) AS BIGINT) AS support,
        |         CAST(coalesce(sum(CASE WHEN gold = pred THEN c END), 0)
        |           AS BIGINT) AS tp_g
        |       FROM cells GROUP BY 1),
        |bp AS (SELECT pred AS label, CAST(sum(c) AS BIGINT) AS predicted,
        |         CAST(coalesce(sum(CASE WHEN gold = pred THEN c END), 0)
        |           AS BIGINT) AS tp_p
        |       FROM cells GROUP BY 1),
        |m AS (SELECT coalesce(bg.label, bp.label) AS label,
        |        coalesce(support, 0) AS support,
        |        coalesce(tp_g, tp_p, 0) AS tp,
        |        coalesce(predicted, 0) - coalesce(tp_p, 0) AS fp,
        |        coalesce(support, 0) - coalesce(tp_g, 0) AS fn
        |      FROM bg FULL OUTER JOIN bp ON bg.label = bp.label),
        |pr AS (SELECT label, support, tp, fp, fn,
        |        CASE WHEN tp + fp > 0
        |          THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
        |        CASE WHEN support > 0
        |          THEN round(CAST(tp AS DOUBLE) / support, 6) END AS recall
        |      FROM m)
        |SELECT label, support, tp, fp, fn, precision, recall,
        |  CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
        |        AND precision + recall > 0
        |    THEN round(2.0 * precision * recall / (precision + recall), 6)
        |  END AS f1
        |FROM pr ORDER BY label""".stripMargin,

    // The two exact-median passes of madFlags replayed with the
    // rank-at-ceil(n/2) machinery of the quantiles oracle.
    "q_anomaly_mad" ->
      """WITH e AS (SELECT event_id, user_id, value FROM events),
        |r1 AS (SELECT user_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS n
        |       FROM e WHERE value IS NOT NULL),
        |med AS (SELECT user_id, CAST(value AS DOUBLE) AS med FROM r1
        |        WHERE rn = CAST(ceil(round(0.5 * n, 9)) AS BIGINT)),
        |d AS (SELECT e.event_id, e.user_id, CAST(e.value AS DOUBLE) AS v,
        |        abs(CAST(e.value AS DOUBLE) - med) AS dev, med
        |      FROM e JOIN med USING (user_id)),
        |r2 AS (SELECT user_id, dev,
        |         row_number() OVER (PARTITION BY user_id ORDER BY dev) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS n
        |       FROM d WHERE dev IS NOT NULL),
        |mad AS (SELECT user_id, dev AS mad FROM r2
        |        WHERE rn = CAST(ceil(round(0.5 * n, 9)) AS BIGINT)),
        |z AS (SELECT event_id,
        |        CASE WHEN mad > 0
        |          THEN round((v - med) / (1.4826 * mad), 6) END AS rz
        |      FROM d JOIN mad USING (user_id))
        |SELECT event_id, rz,
        |  coalesce(abs(rz) > 3.5, FALSE) AS is_outlier
        |FROM z ORDER BY event_id""".stripMargin,

    // Day-granular temporal split: cutoff = first day whose cumulative
    // count reaches ceil(0.8 n); 9-dp round before ceil as in quantiles.
    "q_split_temporal" ->
      """WITH e AS (SELECT event_id, CAST(ts AS DATE) AS d FROM events),
        |dc AS (SELECT d, count(*) AS c FROM e GROUP BY 1),
        |cum AS (SELECT d, sum(c) OVER (ORDER BY d) AS cum
        |        FROM dc),
        |n AS (SELECT count(*) AS n FROM e),
        |cut AS (SELECT min(d) AS cutoff FROM cum, n
        |        WHERE cum >= ceil(round(0.8 * n, 9)))
        |SELECT event_id,
        |  CASE WHEN d <= cutoff THEN 'train' ELSE 'test' END AS split
        |FROM e, cut ORDER BY event_id""".stripMargin,

    "q_profile_fd" -> Seq(
      ("l_orderkey", "l_returnflag"), ("l_partkey", "l_suppkey"),
      ("l_returnflag", "l_linestatus")).map { case (a, b) =>
      s"""SELECT '$a' AS determinant, '$b' AS dependent,
         |  CAST(sum(nr) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(nr - keep) AS BIGINT) AS n_violations,
         |  round(1.0 - CAST(sum(nr - keep) AS DOUBLE) / sum(nr), 6)
         |    AS strength
         |FROM (SELECT $a, CAST(sum(c) AS BIGINT) AS nr,
         |        CAST(max(c) AS BIGINT) AS keep
         |      FROM (SELECT $a, $b, count(*) AS c FROM lineitem GROUP BY 1, 2) t
         |      GROUP BY 1) g""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) u ORDER BY determinant, dependent"),

    // KS: per-value counts per side, full-outer on the value, running
    // ECDFs over the domain frame — gaps at 9 dp, statistic at 6.
    "q_drift_ks" ->
      """WITH ca AS (SELECT CAST(n_chars AS DOUBLE) AS value,
        |              count(*) AS c_a
        |            FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |cb AS (SELECT CAST(n_chars AS DOUBLE) AS value, count(*) AS c_b
        |       FROM documents
        |       WHERE n_chars IS NOT NULL AND n_chars < 800 GROUP BY 1),
        |j AS (SELECT coalesce(ca.value, cb.value) AS value,
        |        coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
        |      FROM ca FULL OUTER JOIN cb ON ca.value = cb.value),
        |c AS (SELECT
        |        CAST(sum(c_a) OVER () AS BIGINT) AS t_a,
        |        CAST(sum(c_b) OVER () AS BIGINT) AS t_b,
        |        round(abs(
        |          CAST(sum(c_a) OVER (ORDER BY value) AS DOUBLE) /
        |            CAST(sum(c_a) OVER () AS DOUBLE) -
        |          CAST(sum(c_b) OVER (ORDER BY value) AS DOUBLE) /
        |            CAST(sum(c_b) OVER () AS DOUBLE)), 9) AS gap
        |      FROM j)
        |SELECT max(t_a) AS n_a, max(t_b) AS n_b,
        |       round(max(gap), 6) AS ks FROM c""".stripMargin,

    // Chi-square: one cell table, window marginals, 9-dp decimal-summed
    // (O−E)²/E terms; V = sqrt(chi2 / (n·min(r−1, c−1))).
    "q_profile_chisq" ->
      """WITH cells AS (SELECT CAST(lang AS VARCHAR) AS a,
        |                 CAST(source AS VARCHAR) AS b, count(*) AS o
        |               FROM documents GROUP BY 1, 2),
        |m AS (SELECT a, b, o,
        |        sum(o) OVER (PARTITION BY a) AS ra,
        |        sum(o) OVER (PARTITION BY b) AS cb,
        |        sum(o) OVER () AS t
        |      FROM cells),
        |tt AS (SELECT a, b, t,
        |         round((CAST(o AS DOUBLE) -
        |                CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) /
        |                  CAST(t AS DOUBLE)) *
        |               (CAST(o AS DOUBLE) -
        |                CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) /
        |                  CAST(t AS DOUBLE)) /
        |               (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) /
        |                  CAST(t AS DOUBLE)), 9) AS term
        |       FROM m)
        |SELECT CAST(max(t) AS BIGINT) AS n,
        |  CAST((count(DISTINCT coalesce(a, chr(0) || '.')) - 1) *
        |       (count(DISTINCT coalesce(b, chr(0) || '.')) - 1) AS BIGINT)
        |    AS dof,
        |  round(CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6) AS chi2,
        |  CASE WHEN least(count(DISTINCT coalesce(a, chr(0) || '.')) - 1,
        |                  count(DISTINCT coalesce(b, chr(0) || '.')) - 1) = 0
        |       THEN NULL
        |       ELSE round(sqrt(
        |         CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE) /
        |         (CAST(max(t) AS DOUBLE) *
        |          CAST(least(count(DISTINCT coalesce(a, chr(0) || '.')) - 1,
        |                     count(DISTINCT coalesce(b, chr(0) || '.')) - 1)
        |            AS DOUBLE))), 6)
        |  END AS cramers_v
        |FROM tt""".stripMargin,

    // Spearman: mid ranks per row (min-rank + (ties−1)/2 ≡ the
    // operator's prior + (ties+1)/2, both exact .5 multiples), exact
    // decimal moment sums, one double Pearson at the end.
    "q_profile_spearman" ->
      """WITH base AS (SELECT CAST(l_quantity AS DOUBLE) AS a,
        |                CAST(l_extendedprice AS DOUBLE) AS b
        |              FROM lineitem
        |              WHERE l_quantity IS NOT NULL
        |                AND l_extendedprice IS NOT NULL),
        |r AS (SELECT
        |        CAST(rank() OVER (ORDER BY a) AS DOUBLE) +
        |          (CAST(count(*) OVER (PARTITION BY a) AS DOUBLE) - 1.0) /
        |            2.0 AS ra,
        |        CAST(rank() OVER (ORDER BY b) AS DOUBLE) +
        |          (CAST(count(*) OVER (PARTITION BY b) AS DOUBLE) - 1.0) /
        |            2.0 AS rb
        |      FROM base),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CAST(CAST(ra AS DECIMAL(12,1)) AS DECIMAL(38,2)))
        |          AS DOUBLE) AS sx,
        |        CAST(sum(CAST(CAST(rb AS DECIMAL(12,1)) AS DECIMAL(38,2)))
        |          AS DOUBLE) AS sy,
        |        CAST(sum(CAST(CAST(ra AS DECIMAL(12,1)) *
        |          CAST(rb AS DECIMAL(12,1)) AS DECIMAL(38,2))) AS DOUBLE)
        |          AS sxy,
        |        CAST(sum(CAST(CAST(ra AS DECIMAL(12,1)) *
        |          CAST(ra AS DECIMAL(12,1)) AS DECIMAL(38,2))) AS DOUBLE)
        |          AS sxx,
        |        CAST(sum(CAST(CAST(rb AS DECIMAL(12,1)) *
        |          CAST(rb AS DECIMAL(12,1)) AS DECIMAL(38,2))) AS DOUBLE)
        |          AS syy
        |      FROM r)
        |SELECT n,
        |  CASE WHEN sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
        |            sqrt(CAST(n AS DOUBLE) * syy - sy * sy) = 0.0
        |         OR n < 2 THEN NULL
        |       ELSE round((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |         (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
        |          sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6)
        |  END AS rho
        |FROM m""".stripMargin,

    // Flesch: whitespace tokens (explicit Java-\s class), [.!?]+
    // sentence runs floored at 1, per-word [aeiouy]+ vowel groups
    // floored at 1 — the two linear forms mirrored token for token.
    "q_text_readability" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(coalesce(text, '')),
        |      '[ \t\n\x0b\f\r]+'), x -> x <> '') AS ws,
        |    greatest(1, len(regexp_extract_all(coalesce(text, ''),
        |      '[.!?]+'))) AS ns
        |  FROM documents),
        |s AS (SELECT doc_id, len(ws) AS nw, ns,
        |        coalesce(list_sum(list_transform(ws, x ->
        |          greatest(1, len(regexp_extract_all(lower(x),
        |            '[aeiouy]+'))))), 0) AS ny
        |      FROM w)
        |SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
        |  CAST(ns AS BIGINT) AS n_sentences,
        |  CAST(ny AS BIGINT) AS n_syllables,
        |  CASE WHEN nw = 0 THEN NULL
        |       ELSE round(206.835 -
        |         1.015 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE)) -
        |         84.6 * (CAST(ny AS DOUBLE) / CAST(nw AS DOUBLE)), 6)
        |  END AS flesch,
        |  CASE WHEN nw = 0 THEN NULL
        |       ELSE round(0.39 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE)) +
        |         11.8 * (CAST(ny AS DOUBLE) / CAST(nw AS DOUBLE)) -
        |         15.59, 6)
        |  END AS fk_grade
        |FROM s ORDER BY doc_id""".stripMargin,

    // RBO@30, p = 0.5: top-30 per ranking (score DESC, doc_id
    // tie-break), depth spine 1..30 with exact 2^{-(d-1)} weights,
    // 9-dp decimal-summed terms, ×(1−p) and 6-dp at the end.
    "q_eval_rbo" ->
      """WITH sa AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS score
        |            FROM documents ORDER BY score DESC, doc_id LIMIT 30),
        |sb AS (SELECT doc_id,
        |         CAST(n_chars + doc_id % 50 AS DOUBLE) AS score
        |       FROM documents ORDER BY score DESC, doc_id LIMIT 30),
        |ra AS (SELECT doc_id,
        |         row_number() OVER (ORDER BY score DESC, doc_id) AS ra
        |       FROM sa),
        |rb AS (SELECT doc_id,
        |         row_number() OVER (ORDER BY score DESC, doc_id) AS rb
        |       FROM sb),
        |pairs AS (SELECT ra.ra, rb.rb FROM ra
        |          FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id),
        |depths AS (SELECT unnest(range(1, 31)) AS d),
        |ov AS (SELECT d, count(p.ra) AS ov
        |       FROM depths LEFT JOIN pairs p
        |         ON coalesce(p.ra, 2147483647) <= d
        |        AND coalesce(p.rb, 2147483647) <= d
        |       GROUP BY d),
        |terms AS (SELECT d,
        |    round((1.0 / power(2.0, CAST(d - 1 AS DOUBLE))) *
        |      (CAST(ov AS DOUBLE) / CAST(d AS DOUBLE)), 9) AS term
        |  FROM ov)
        |SELECT CAST(max(d) AS INT) AS k, 0.5 AS p,
        |  round(0.5 * CAST(sum(CAST(term AS DECIMAL(20,9))) AS DOUBLE), 6)
        |    AS rbo
        |FROM terms""".stripMargin,

    // Pooled two-proportion z: exact per-arm counts in one pass, z on
    // the EXACT int/int rates (the 6-dp conv columns are display-only).
    "q_ab_proportion" ->
      """WITH m AS (SELECT
        |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
        |               THEN 1 END) AS n_a,
        |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
        |                AND coalesce(event_type = 'purchase', FALSE)
        |               THEN 1 END) AS k_a,
        |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
        |               THEN 1 END) AS n_b,
        |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
        |                AND coalesce(event_type = 'purchase', FALSE)
        |               THEN 1 END) AS k_b
        |  FROM events)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a = 0 THEN NULL
        |       ELSE round(CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
        |  END AS conv_a,
        |  CASE WHEN n_b = 0 THEN NULL
        |       ELSE round(CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
        |  END AS conv_b,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
        |       ELSE round(CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
        |                  CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
        |  END AS lift,
        |  CASE WHEN n_a = 0 OR n_b = 0 OR k_a + k_b = 0
        |         OR k_a + k_b = n_a + n_b THEN NULL
        |       ELSE round((CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
        |                   CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |         sqrt((CAST(k_a + k_b AS DOUBLE) /
        |                 CAST(n_a + n_b AS DOUBLE) *
        |               (1.0 - CAST(k_a + k_b AS DOUBLE) /
        |                 CAST(n_a + n_b AS DOUBLE))) *
        |              (1.0 / CAST(n_a AS DOUBLE) +
        |               1.0 / CAST(n_b AS DOUBLE))), 6)
        |  END AS z
        |FROM m""".stripMargin,

    // Welch: 9-dp-snapped values into DECIMAL moment sums, mean/E[x²]
    // divisions at 9 dp, sample variance (E[x²]−m²)·n/(n−1) at 9 dp,
    // then the t and Welch–Satterthwaite df as pure double forms.
    // Mann–Whitney mirror: average ranks from cumulative cell counts
    // over distinct 6-dp-quantized values (the aucRoc cell-bound
    // discipline), tie-corrected normal approximation.
    "q_ab_mannwhitney" -> mannWhitneyOracle("value"),

    // Dense variant: the metric is value·π (no exact ties at full
    // precision); the oracle applies the SAME 6-dp quantization the
    // operator documents, so a hash match pins the tie discipline.
    "q_ab_mannwhitney_dense" -> mannWhitneyOracle("value * pi()"),
    // Wide-range variant: value + event_id·π — distinct 6-dp cell per
    // row over a corpus-growing range; pins the CumWalk rank walk.
    "q_ab_mannwhitney_wide" -> mannWhitneyOracle("value + event_id * pi()"),
    "q_ab_did" ->
      s"""WITH e AS (SELECT CAST(user_id % 2 AS VARCHAR) AS g,
         |    CASE WHEN extract(day FROM CAST(ts AS DATE)) <= 15
         |         THEN 'pre' ELSE 'post' END AS p, value FROM events),
         |m AS (SELECT
         |  ${didCellSql("1", "pre", "tp")},
         |  ${didCellSql("1", "post", "tq")},
         |  ${didCellSql("0", "pre", "cp")},
         |  ${didCellSql("0", "post", "cq")}
         |  FROM e),
         |st AS (SELECT *,
         |  ${didStatSql("tp")}, ${didStatSql("tq")},
         |  ${didStatSql("cp")}, ${didStatSql("cq")} FROM m),
         |vv AS (SELECT *,
         |  ${didVarSql("tp")}, ${didVarSql("tq")},
         |  ${didVarSql("cp")}, ${didVarSql("cq")} FROM st),
         |fin AS (SELECT *,
         |    round(m_tq - m_tp - (m_cq - m_cp), 9) AS didv,
         |    round(sqrt(greatest(round(
         |      v_tp / CAST(n_tp AS DOUBLE) + v_tq / CAST(n_tq AS DOUBLE) +
         |      v_cp / CAST(n_cp AS DOUBLE) + v_cq / CAST(n_cq AS DOUBLE),
         |      9), 0.0)), 9) AS se9
         |  FROM vv)
         |SELECT n_tp AS n_treat_pre, n_tq AS n_treat_post,
         |  n_cp AS n_ctrl_pre, n_cq AS n_ctrl_post,
         |  CASE WHEN n_tp < 2 OR n_tq < 2 OR n_cp < 2 OR n_cq < 2
         |       THEN NULL ELSE round(didv, 6) END AS did,
         |  CASE WHEN n_tp < 2 OR n_tq < 2 OR n_cp < 2 OR n_cq < 2
         |       THEN NULL ELSE round(se9, 6) END AS se,
         |  CASE WHEN n_tp < 2 OR n_tq < 2 OR n_cp < 2 OR n_cq < 2
         |       OR se9 = 0.0 THEN NULL
         |       ELSE round(didv / se9, 6) END AS z
         |FROM fin""".stripMargin,
    // Grouped-Welch mirror: per-segment moment cells, 9-dp t, Welch
    // df, and the same erf-chain p on |t|.
    "q_ab_welch_grouped" ->
      """WITH m AS (SELECT event_type AS grp,
        |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
        |                AND value IS NOT NULL THEN 1 END) AS n_a,
        |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
        |             THEN CAST(round(value, 9) AS DECIMAL(28,9)) END) AS s_a,
        |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
        |             THEN CAST(round(round(value, 9) * round(value, 9), 9)
        |                       AS DECIMAL(28,9)) END) AS s2_a,
        |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
        |                AND value IS NOT NULL THEN 1 END) AS n_b,
        |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
        |             THEN CAST(round(value, 9) AS DECIMAL(28,9)) END) AS s_b,
        |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
        |             THEN CAST(round(round(value, 9) * round(value, 9), 9)
        |                       AS DECIMAL(28,9)) END) AS s2_b
        |  FROM events GROUP BY 1),
        |st AS (SELECT grp, n_a, n_b,
        |    round(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 9) AS m_a,
        |    round(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 9) AS m_b,
        |    round(CAST(s2_a AS DOUBLE) / CAST(n_a AS DOUBLE), 9) AS e2_a,
        |    round(CAST(s2_b AS DOUBLE) / CAST(n_b AS DOUBLE), 9) AS e2_b
        |  FROM m),
        |vv AS (SELECT grp, n_a, n_b, m_a, m_b,
        |    round((e2_a - m_a * m_a) *
        |      (CAST(n_a AS DOUBLE) / (CAST(n_a AS DOUBLE) - 1.0)), 9) AS v_a,
        |    round((e2_b - m_b * m_b) *
        |      (CAST(n_b AS DOUBLE) / (CAST(n_b AS DOUBLE) - 1.0)), 9) AS v_b
        |  FROM st),
        |tt AS (SELECT *,
        |    (n_a < 2 OR n_b < 2 OR v_a + v_b = 0.0) AS degen,
        |    CASE WHEN n_a < 2 OR n_b < 2 OR v_a + v_b = 0.0 THEN NULL
        |    ELSE round((m_a - m_b) /
        |      sqrt(v_a / CAST(n_a AS DOUBLE) +
        |           v_b / CAST(n_b AS DOUBLE)), 9) END AS t9
        |  FROM vv),
        |py AS (SELECT *, round(abs(t9) * 0.707106781, 9) AS y FROM tt),
        |pt AS (SELECT *, round(1.0 / (1.0 + 0.3275911 * y), 9) AS tq
        |       FROM py),
        |pc AS (SELECT *,
        |    round(round(tq * (0.254829592 + tq * (-0.284496736 +
        |      tq * (1.421413741 + tq * (-1.453152027 +
        |        tq * 1.061405429)))), 9) *
        |      round(exp(round(0.0 - y * y, 9)), 9), 9) AS p9
        |  FROM pt)
        |SELECT grp AS "group", n_a, n_b,
        |  CASE WHEN n_a = 0 THEN NULL ELSE round(m_a, 6) END AS mean_a,
        |  CASE WHEN n_b = 0 THEN NULL ELSE round(m_b, 6) END AS mean_b,
        |  CASE WHEN degen THEN NULL ELSE round(t9, 6) END AS t,
        |  CASE WHEN degen THEN NULL
        |       ELSE round(
        |         (v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE)) *
        |         (v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE)) /
        |         ((v_a / CAST(n_a AS DOUBLE)) * (v_a / CAST(n_a AS DOUBLE)) /
        |            (CAST(n_a AS DOUBLE) - 1.0) +
        |          (v_b / CAST(n_b AS DOUBLE)) * (v_b / CAST(n_b AS DOUBLE)) /
        |            (CAST(n_b AS DOUBLE) - 1.0)), 6)
        |  END AS df,
        |  CASE WHEN degen THEN NULL ELSE round(p9, 6) END AS p_normal
        |FROM pc ORDER BY grp NULLS FIRST""".stripMargin,
    // Grouped-z mirror: per-segment cells, 9-dp z, then the erf-chain
    // two-sided p (identical snaps on both engines).
    "q_ab_z_grouped" -> (abZGroupedSql +
      """fin AS (SELECT * FROM pchain)
        |SELECT grp AS "group", n_a, n_b,
        |  CASE WHEN n_a = 0 THEN NULL
        |       ELSE round(CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
        |  END AS conv_a,
        |  CASE WHEN n_b = 0 THEN NULL
        |       ELSE round(CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
        |  END AS conv_b,
        |  CASE WHEN degen THEN NULL ELSE round(z9, 6) END AS z,
        |  CASE WHEN degen THEN NULL ELSE round(p9, 6) END AS p_value
        |FROM fin ORDER BY grp NULLS FIRST""".stripMargin),
    // BH mirror: (p ASC, key ASC) rank, qraw = p·m/rank at 9 dp,
    // right-to-left running min capped at 1.
    "q_ab_fdr" -> (abZGroupedSql +
      """r AS (SELECT grp, round(p9, 6) AS p_value FROM pchain
        |      WHERE NOT degen),
        |rk AS (SELECT grp, p_value,
        |         row_number() OVER (ORDER BY p_value ASC, grp ASC)
        |           AS rnk,
        |         count(*) OVER () AS mm FROM r),
        |q1 AS (SELECT *, round(p_value * mm / rnk, 9) AS qraw FROM rk),
        |q2 AS (SELECT *, least(min(qraw) OVER (ORDER BY rnk
        |         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
        |         1.0) AS qv
        |       FROM q1)
        |SELECT grp AS "group", p_value, rnk AS "rank",
        |  round(qv, 6) AS q_value, qv <= 0.05 AS significant
        |FROM q2 ORDER BY rnk""".stripMargin),
    // Proportion-MDE mirror: conversion cells, observed-rate variances.
    "q_ab_mde_prop" ->
      s"""WITH m AS (SELECT
         |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
         |               THEN 1 END) AS n_a,
         |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
         |                AND coalesce(event_type = 'purchase', FALSE)
         |               THEN 1 END) AS k_a,
         |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
         |               THEN 1 END) AS n_b,
         |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
         |                AND coalesce(event_type = 'purchase', FALSE)
         |               THEN 1 END) AS k_b
         |  FROM events),
         |p AS (SELECT n_a, n_b,
         |    round(CAST(k_a AS DOUBLE) /
         |      CASE WHEN n_a = 0 THEN 1.0 ELSE CAST(n_a AS DOUBLE) END, 9)
         |      AS pa,
         |    round(CAST(k_b AS DOUBLE) /
         |      CASE WHEN n_b = 0 THEN 1.0 ELSE CAST(n_b AS DOUBLE) END, 9)
         |      AS pb
         |  FROM m),
         |v AS (SELECT *, round(pa * round(1.0 - pa, 9), 9) AS va,
         |             round(pb * round(1.0 - pb, 9), 9) AS vb FROM p),
         |f AS (SELECT *,
         |    round(va / CASE WHEN n_a = 0 THEN 1.0
         |                    ELSE CAST(n_a AS DOUBLE) END +
         |          vb / CASE WHEN n_b = 0 THEN 1.0
         |                    ELSE CAST(n_b AS DOUBLE) END, 9) AS se2,
         |    round(pa - pb, 9) AS delta
         |  FROM v),
         |g AS (SELECT *, round(CAST($mdeZsum AS DOUBLE) *
         |        round(sqrt(greatest(se2, 0.0)), 9), 9) AS mde FROM f)
         |SELECT n_a, n_b,
         |  CASE WHEN n_a = 0 THEN NULL ELSE round(pa, 6) END AS conv_a,
         |  CASE WHEN n_b = 0 THEN NULL ELSE round(pb, 6) END AS conv_b,
         |  CASE WHEN n_a = 0 OR n_b = 0 OR va + vb = 0.0 THEN NULL
         |       ELSE CAST(round(CAST(mde AS DECIMAL(28,9)), 6) AS DOUBLE)
         |  END AS mde_abs,
         |  CASE WHEN n_a = 0 OR n_b = 0 OR va + vb = 0.0 OR delta = 0.0
         |       THEN NULL
         |       ELSE CAST(ceil(round(round(
         |         CAST($mdeZsum AS DOUBLE) * CAST($mdeZsum AS DOUBLE) *
         |         round(va + vb, 9), 9) /
         |         CASE WHEN round(delta * delta, 9) = 0.0 THEN 1.0
         |              ELSE round(delta * delta, 9) END, 9)) AS BIGINT)
         |  END AS n_required
         |FROM g""".stripMargin,
    // mSPRT mirror: welch's moment cells, ln-sqrt evidence term,
    // exact-decimal publishes.
    "q_ab_msprt" ->
      """WITH m AS (SELECT
        |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
        |                AND value IS NOT NULL THEN 1 END) AS n_a,
        |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
        |             THEN CAST(round(value, 9) AS DECIMAL(28,9)) END) AS s_a,
        |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
        |             THEN CAST(round(round(value, 9) * round(value, 9), 9)
        |                       AS DECIMAL(28,9)) END) AS s2_a,
        |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
        |                AND value IS NOT NULL THEN 1 END) AS n_b,
        |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
        |             THEN CAST(round(value, 9) AS DECIMAL(28,9)) END) AS s_b,
        |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
        |             THEN CAST(round(round(value, 9) * round(value, 9), 9)
        |                       AS DECIMAL(28,9)) END) AS s2_b
        |  FROM events),
        |st AS (SELECT n_a, n_b,
        |    round(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 9) AS m_a,
        |    round(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 9) AS m_b,
        |    round(CAST(s2_a AS DOUBLE) / CAST(n_a AS DOUBLE), 9) AS e2_a,
        |    round(CAST(s2_b AS DOUBLE) / CAST(n_b AS DOUBLE), 9) AS e2_b
        |  FROM m),
        |vv AS (SELECT n_a, n_b, m_a, m_b,
        |    round((e2_a - m_a * m_a) *
        |      (CAST(n_a AS DOUBLE) / (CAST(n_a AS DOUBLE) - 1.0)), 9) AS v_a,
        |    round((e2_b - m_b * m_b) *
        |      (CAST(n_b AS DOUBLE) / (CAST(n_b AS DOUBLE) - 1.0)), 9) AS v_b
        |  FROM st),
        |f AS (SELECT *,
        |    round(v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE), 9)
        |      AS bv,
        |    round(m_a - m_b, 9) AS delta FROM vv),
        |g AS (SELECT *, round(bv + 1.0, 9) AS vpt FROM f),
        |h AS (SELECT *,
        |    round(ln(sqrt(CASE WHEN bv = 0.0 THEN 1.0 ELSE bv END /
        |      CASE WHEN vpt = 0.0 THEN 1.0 ELSE vpt END)), 9) AS t1,
        |    round(round(round(delta * delta, 9) * 1.0, 9) /
        |      CASE WHEN round(2.0 * bv * vpt, 9) = 0.0 THEN 1.0
        |           ELSE round(2.0 * bv * vpt, 9) END, 9) AS t2 FROM g),
        |i2 AS (SELECT *, round(t1 + t2, 9) AS lnl FROM h)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
        |       ELSE CAST(round(CAST(delta AS DECIMAL(28,9)), 6) AS DOUBLE)
        |  END AS lift,
        |  CASE WHEN n_a < 2 OR n_b < 2 OR bv = 0.0 THEN NULL
        |       ELSE CAST(round(CAST(bv AS DECIMAL(28,9)), 6) AS DOUBLE)
        |  END AS se2,
        |  CASE WHEN n_a < 2 OR n_b < 2 OR bv = 0.0 THEN NULL
        |       ELSE CAST(round(CAST(lnl AS DECIMAL(28,9)), 6) AS DOUBLE)
        |  END AS log_lambda,
        |  CASE WHEN n_a < 2 OR n_b < 2 OR bv = 0.0 THEN NULL
        |       WHEN lnl <= 0.0 THEN 1.0
        |       ELSE round(exp(0.0 - lnl), 6) END AS p_always
        |FROM i2""".stripMargin,
    // MDE mirror: welch's moment cells, the driver-side z constant
    // interpolated identically on both engines.
    "q_ab_mde" ->
      s"""WITH m AS (SELECT
         |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
         |                AND value IS NOT NULL THEN 1 END) AS n_a,
         |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
         |             THEN CAST(round(value, 9) AS DECIMAL(28,9)) END) AS s_a,
         |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
         |             THEN CAST(round(round(value, 9) * round(value, 9), 9)
         |                       AS DECIMAL(28,9)) END) AS s2_a,
         |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
         |                AND value IS NOT NULL THEN 1 END) AS n_b,
         |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
         |             THEN CAST(round(value, 9) AS DECIMAL(28,9)) END) AS s_b,
         |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
         |             THEN CAST(round(round(value, 9) * round(value, 9), 9)
         |                       AS DECIMAL(28,9)) END) AS s2_b
         |  FROM events),
         |st AS (SELECT n_a, n_b,
         |    round(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 9) AS m_a,
         |    round(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 9) AS m_b,
         |    round(CAST(s2_a AS DOUBLE) / CAST(n_a AS DOUBLE), 9) AS e2_a,
         |    round(CAST(s2_b AS DOUBLE) / CAST(n_b AS DOUBLE), 9) AS e2_b
         |  FROM m),
         |vv AS (SELECT n_a, n_b, m_a, m_b,
         |    round((e2_a - m_a * m_a) *
         |      (CAST(n_a AS DOUBLE) / (CAST(n_a AS DOUBLE) - 1.0)), 9) AS v_a,
         |    round((e2_b - m_b * m_b) *
         |      (CAST(n_b AS DOUBLE) / (CAST(n_b AS DOUBLE) - 1.0)), 9) AS v_b
         |  FROM st),
         |f AS (SELECT *,
         |    round(CAST($mdeZsum AS DOUBLE) * round(sqrt(greatest(round(
         |      v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE), 9),
         |      0.0)), 9), 9) AS mde,
         |    round(m_a - m_b, 9) AS delta
         |  FROM vv)
         |SELECT n_a, n_b,
         |  CASE WHEN n_a = 0 THEN NULL ELSE round(m_a, 6) END AS mean_a,
         |  CASE WHEN n_b = 0 THEN NULL ELSE round(m_b, 6) END AS mean_b,
         |  CASE WHEN n_a < 2 OR n_b < 2 THEN NULL
         |       ELSE CAST(round(CAST(mde AS DECIMAL(28,9)), 6) AS DOUBLE)
         |  END AS mde_abs,
         |  CASE WHEN n_a < 2 OR n_b < 2 OR m_a = 0.0 THEN NULL
         |       ELSE round(mde / abs(m_a), 6) END AS mde_rel,
         |  CASE WHEN n_a < 2 OR n_b < 2 OR delta = 0.0 THEN NULL
         |       ELSE CAST(ceil(round(round(
         |         CAST($mdeZsum AS DOUBLE) * CAST($mdeZsum AS DOUBLE) *
         |         round(v_a + v_b, 9), 9) / round(delta * delta, 9), 9))
         |         AS BIGINT) END AS n_required
         |FROM f""".stripMargin,
    // Grouped-OLS mirror: per-group moment cells, mean-centered solve,
    // exact-decimal 6-dp publishes.
    "q_ols_group" ->
      """WITH m AS (SELECT l_returnflag AS key, count(*) AS n,
        |    sum(CAST(round(CAST(l_discount AS DOUBLE), 9)
        |        AS DECIMAL(28,9))) AS sx,
        |    sum(CAST(round(CAST(l_quantity AS DOUBLE), 9)
        |        AS DECIMAL(28,9))) AS sy,
        |    sum(CAST(round(round(CAST(l_discount AS DOUBLE), 9) *
        |                   round(CAST(l_quantity AS DOUBLE), 9), 9)
        |        AS DECIMAL(28,9))) AS sxy,
        |    sum(CAST(round(round(CAST(l_discount AS DOUBLE), 9) *
        |                   round(CAST(l_discount AS DOUBLE), 9), 9)
        |        AS DECIMAL(28,9))) AS sxx,
        |    sum(CAST(round(round(CAST(l_quantity AS DOUBLE), 9) *
        |                   round(CAST(l_quantity AS DOUBLE), 9), 9)
        |        AS DECIMAL(28,9))) AS syy
        |  FROM lineitem
        |  WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
        |  GROUP BY 1),
        |st AS (SELECT key, n,
        |    round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 9) AS mx,
        |    round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 9) AS my,
        |    round(CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE), 9) AS exy,
        |    round(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE), 9) AS ex2,
        |    round(CAST(syy AS DOUBLE) / CAST(n AS DOUBLE), 9) AS ey2
        |  FROM m),
        |cm AS (SELECT key, n, mx, my,
        |    round(exy - round(mx * my, 9), 9) AS vxy,
        |    round(ex2 - round(mx * mx, 9), 9) AS vxx,
        |    round(ey2 - round(my * my, 9), 9) AS vyy
        |  FROM st),
        |f AS (SELECT key, n, mx, my, vxy, vxx, vyy,
        |    round(vxy / CASE WHEN vxx = 0.0 THEN 1.0 ELSE vxx END, 9)
        |      AS slope
        |  FROM cm)
        |SELECT key, n,
        |  CASE WHEN n < 2 OR vxx = 0.0 THEN NULL
        |       ELSE CAST(round(CAST(slope AS DECIMAL(28,9)), 6) AS DOUBLE)
        |  END AS slope,
        |  CASE WHEN n < 2 OR vxx = 0.0 THEN NULL
        |       ELSE CAST(round(CAST(round(my - round(slope * mx, 9), 9)
        |            AS DECIMAL(28,9)), 6) AS DOUBLE)
        |  END AS intercept,
        |  CASE WHEN n < 2 OR vxx = 0.0 OR vyy = 0.0 THEN NULL
        |       ELSE CAST(round(CAST(round(round(vxy * vxy, 9) /
        |            CASE WHEN round(vxx * vyy, 9) = 0.0 THEN 1.0
        |                 ELSE round(vxx * vyy, 9) END, 9)
        |            AS DECIMAL(28,9)), 6) AS DOUBLE)
        |  END AS r2
        |FROM f ORDER BY key""".stripMargin,
    "q_ab_uplift" ->
      """WITH base AS (SELECT CAST(user_id % 2 AS VARCHAR) AS v,
        |    round(value, 6) AS s,
        |    CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS c
        |  FROM events WHERE value IS NOT NULL),
        |cells AS (SELECT s,
        |    count(CASE WHEN v = '0' THEN 1 END) AS nt,
        |    count(CASE WHEN v = '1' THEN 1 END) AS nc,
        |    count(CASE WHEN v = '0' AND c <> 0 THEN 1 END) AS ct,
        |    count(CASE WHEN v = '1' AND c <> 0 THEN 1 END) AS cc
        |  FROM base GROUP BY 1),
        |b AS (SELECT *, sum(nt + nc) OVER (ORDER BY s DESC) AS cum,
        |        sum(nt + nc) OVER () AS n FROM cells),
        |pb AS (SELECT least(10, (cum * 10 + n - 1) // n) AS bucket,
        |         sum(nt) AS n_treat, sum(nc) AS n_ctrl,
        |         sum(ct) AS ct, sum(cc) AS cc
        |       FROM b GROUP BY 1),
        |q AS (SELECT *, sum(ct) OVER (ORDER BY bucket) AS cum_ct,
        |        sum(cc) OVER (ORDER BY bucket) AS cum_cc,
        |        sum(n_treat) OVER (ORDER BY bucket) AS cum_nt,
        |        sum(n_ctrl) OVER (ORDER BY bucket) AS cum_nc
        |      FROM pb)
        |SELECT CAST(bucket AS INTEGER) AS bucket,
        |  CAST(n_treat AS BIGINT) AS n_treat,
        |  CAST(n_ctrl AS BIGINT) AS n_ctrl,
        |  CASE WHEN n_treat = 0 THEN NULL
        |       ELSE round(CAST(ct AS DOUBLE) / n_treat, 6) END AS rate_treat,
        |  CASE WHEN n_ctrl = 0 THEN NULL
        |       ELSE round(CAST(cc AS DOUBLE) / n_ctrl, 6) END AS rate_ctrl,
        |  CASE WHEN n_treat = 0 OR n_ctrl = 0 THEN NULL
        |       ELSE round(CAST(ct AS DOUBLE) / n_treat
        |                  - CAST(cc AS DOUBLE) / n_ctrl, 6) END AS uplift,
        |  CASE WHEN cum_nc = 0 THEN NULL
        |       ELSE round(CAST(cum_ct AS DOUBLE) - CAST(cum_cc AS DOUBLE)
        |                  * round(CAST(cum_nt AS DOUBLE) / cum_nc, 9), 6)
        |       END AS qini
        |FROM q ORDER BY bucket""".stripMargin,
    "q_ab_welch" ->
      """WITH m AS (SELECT
        |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
        |                AND value IS NOT NULL THEN 1 END) AS n_a,
        |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
        |             THEN CAST(round(value, 9) AS DECIMAL(28,9)) END) AS s_a,
        |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
        |             THEN CAST(round(round(value, 9) * round(value, 9), 9)
        |                       AS DECIMAL(28,9)) END) AS s2_a,
        |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
        |                AND value IS NOT NULL THEN 1 END) AS n_b,
        |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
        |             THEN CAST(round(value, 9) AS DECIMAL(28,9)) END) AS s_b,
        |    sum(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
        |             THEN CAST(round(round(value, 9) * round(value, 9), 9)
        |                       AS DECIMAL(28,9)) END) AS s2_b
        |  FROM events),
        |st AS (SELECT n_a, n_b,
        |    round(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 9) AS m_a,
        |    round(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 9) AS m_b,
        |    round(CAST(s2_a AS DOUBLE) / CAST(n_a AS DOUBLE), 9) AS e2_a,
        |    round(CAST(s2_b AS DOUBLE) / CAST(n_b AS DOUBLE), 9) AS e2_b
        |  FROM m),
        |vv AS (SELECT n_a, n_b, m_a, m_b,
        |    round((e2_a - m_a * m_a) *
        |      (CAST(n_a AS DOUBLE) / (CAST(n_a AS DOUBLE) - 1.0)), 9) AS v_a,
        |    round((e2_b - m_b * m_b) *
        |      (CAST(n_b AS DOUBLE) / (CAST(n_b AS DOUBLE) - 1.0)), 9) AS v_b
        |  FROM st)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a = 0 THEN NULL ELSE round(m_a, 6) END AS mean_a,
        |  CASE WHEN n_b = 0 THEN NULL ELSE round(m_b, 6) END AS mean_b,
        |  CASE WHEN n_a < 2 OR n_b < 2 OR v_a + v_b = 0.0 THEN NULL
        |       ELSE round((m_a - m_b) /
        |         sqrt(v_a / CAST(n_a AS DOUBLE) +
        |              v_b / CAST(n_b AS DOUBLE)), 6)
        |  END AS t,
        |  CASE WHEN n_a < 2 OR n_b < 2 OR v_a + v_b = 0.0 THEN NULL
        |       ELSE round(
        |         (v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE)) *
        |         (v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE)) /
        |         ((v_a / CAST(n_a AS DOUBLE)) * (v_a / CAST(n_a AS DOUBLE)) /
        |            (CAST(n_a AS DOUBLE) - 1.0) +
        |          (v_b / CAST(n_b AS DOUBLE)) * (v_b / CAST(n_b AS DOUBLE)) /
        |            (CAST(n_b AS DOUBLE) - 1.0)), 6)
        |  END AS df
        |FROM vv""".stripMargin,

    // CUPED: one conditional-aggregate pass to per-arm (x, y) moments,
    // then the pooled-θ / adjusted-mean / adjusted-variance closed
    // forms with a 9-dp round at every named checkpoint — the t and
    // variance-reduction figures are pure double forms of those.
    "q_ab_cuped" ->
      """WITH b AS (SELECT CAST(user_id % 2 AS VARCHAR) AS v,
        |             round(value, 9) AS y,
        |             round(floor(value), 9) AS x
        |           FROM events),
        |m AS (SELECT
        |    count(CASE WHEN v = '0' AND y IS NOT NULL AND x IS NOT NULL
        |               THEN 1 END) AS n_a,
        |    sum(CASE WHEN v = '0' AND y IS NOT NULL AND x IS NOT NULL
        |             THEN CAST(x AS DECIMAL(28,9)) END) AS sx_a,
        |    sum(CASE WHEN v = '0' AND y IS NOT NULL AND x IS NOT NULL
        |             THEN CAST(y AS DECIMAL(28,9)) END) AS sy_a,
        |    sum(CASE WHEN v = '0' AND y IS NOT NULL AND x IS NOT NULL
        |             THEN CAST(round(x * y, 9) AS DECIMAL(28,9)) END) AS sxy_a,
        |    sum(CASE WHEN v = '0' AND y IS NOT NULL AND x IS NOT NULL
        |             THEN CAST(round(x * x, 9) AS DECIMAL(28,9)) END) AS sxx_a,
        |    sum(CASE WHEN v = '0' AND y IS NOT NULL AND x IS NOT NULL
        |             THEN CAST(round(y * y, 9) AS DECIMAL(28,9)) END) AS syy_a,
        |    count(CASE WHEN v = '1' AND y IS NOT NULL AND x IS NOT NULL
        |               THEN 1 END) AS n_b,
        |    sum(CASE WHEN v = '1' AND y IS NOT NULL AND x IS NOT NULL
        |             THEN CAST(x AS DECIMAL(28,9)) END) AS sx_b,
        |    sum(CASE WHEN v = '1' AND y IS NOT NULL AND x IS NOT NULL
        |             THEN CAST(y AS DECIMAL(28,9)) END) AS sy_b,
        |    sum(CASE WHEN v = '1' AND y IS NOT NULL AND x IS NOT NULL
        |             THEN CAST(round(x * y, 9) AS DECIMAL(28,9)) END) AS sxy_b,
        |    sum(CASE WHEN v = '1' AND y IS NOT NULL AND x IS NOT NULL
        |             THEN CAST(round(x * x, 9) AS DECIMAL(28,9)) END) AS sxx_b,
        |    sum(CASE WHEN v = '1' AND y IS NOT NULL AND x IS NOT NULL
        |             THEN CAST(round(y * y, 9) AS DECIMAL(28,9)) END) AS syy_b
        |  FROM b),
        |pool AS (SELECT *,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS n,
        |    CAST(sx_a AS DOUBLE) + CAST(sx_b AS DOUBLE) AS sx,
        |    CAST(sy_a AS DOUBLE) + CAST(sy_b AS DOUBLE) AS sy,
        |    CAST(sxy_a AS DOUBLE) + CAST(sxy_b AS DOUBLE) AS sxy,
        |    CAST(sxx_a AS DOUBLE) + CAST(sxx_b AS DOUBLE) AS sxx
        |  FROM m),
        |th AS (SELECT *,
        |    round(sx / n, 9) AS xbar,
        |    round((sxy - sx * sy / n) / (n - 1.0), 9) AS cov_p,
        |    round((sxx - sx * sx / n) / (n - 1.0), 9) AS var_p
        |  FROM pool),
        |t2 AS (SELECT *, round(cov_p / var_p, 9) AS theta FROM th
        |       WHERE var_p <> 0.0),
        |aa AS (SELECT *,
        |    round(CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE), 9) AS mx_a,
        |    round(CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE), 9) AS my_a,
        |    round((CAST(sxy_a AS DOUBLE) - CAST(sx_a AS DOUBLE) *
        |      CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)) /
        |      (CAST(n_a AS DOUBLE) - 1.0), 9) AS cov_a,
        |    round((CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) *
        |      CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)) /
        |      (CAST(n_a AS DOUBLE) - 1.0), 9) AS vx_a,
        |    round((CAST(syy_a AS DOUBLE) - CAST(sy_a AS DOUBLE) *
        |      CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)) /
        |      (CAST(n_a AS DOUBLE) - 1.0), 9) AS vy_a,
        |    round(CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE), 9) AS mx_b,
        |    round(CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE), 9) AS my_b,
        |    round((CAST(sxy_b AS DOUBLE) - CAST(sx_b AS DOUBLE) *
        |      CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |      (CAST(n_b AS DOUBLE) - 1.0), 9) AS cov_b,
        |    round((CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) *
        |      CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |      (CAST(n_b AS DOUBLE) - 1.0), 9) AS vx_b,
        |    round((CAST(syy_b AS DOUBLE) - CAST(sy_b AS DOUBLE) *
        |      CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |      (CAST(n_b AS DOUBLE) - 1.0), 9) AS vy_b
        |  FROM t2),
        |fin AS (SELECT *,
        |    round(my_a - theta * (mx_a - xbar), 9) AS ma,
        |    round(vy_a - 2.0 * theta * cov_a + theta * theta * vx_a, 9)
        |      AS va,
        |    round(my_b - theta * (mx_b - xbar), 9) AS mb,
        |    round(vy_b - 2.0 * theta * cov_b + theta * theta * vx_b, 9)
        |      AS vb
        |  FROM aa)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a < 2 OR n_b < 2 THEN NULL
        |       ELSE round(theta, 6) END AS theta,
        |  CASE WHEN n_a < 2 OR n_b < 2 THEN NULL
        |       ELSE round(ma, 6) END AS mean_a_adj,
        |  CASE WHEN n_a < 2 OR n_b < 2 THEN NULL
        |       ELSE round(mb, 6) END AS mean_b_adj,
        |  CASE WHEN n_a < 2 OR n_b < 2 THEN NULL
        |       ELSE round(ma - mb, 6) END AS lift_adj,
        |  CASE WHEN n_a < 2 OR n_b < 2 OR va + vb = 0.0 THEN NULL
        |       ELSE round((ma - mb) / sqrt(va / CAST(n_a AS DOUBLE) +
        |         vb / CAST(n_b AS DOUBLE)), 6) END AS t,
        |  CASE WHEN n_a < 2 OR n_b < 2 OR vy_a + vy_b = 0.0 THEN NULL
        |       ELSE round(1.0 - (va + vb) / (vy_a + vy_b), 6)
        |  END AS var_reduction
        |FROM fin""".stripMargin,

    // Quantile treatment effect: per-arm rank quantiles (the same
    // ceil(round(p·n, 9)) discipline as q_profile_quantiles), pivoted
    // to (p, q_a, q_b, diff).
    "q_ab_quantiles" ->
      """WITH base AS (SELECT CAST(user_id % 2 AS VARCHAR) AS v,
        |                value AS x
        |              FROM events
        |              WHERE value IS NOT NULL
        |                AND CAST(user_id % 2 AS VARCHAR) IN ('0', '1')),
        |ranked AS (SELECT v, x,
        |    row_number() OVER (PARTITION BY v ORDER BY x ASC) AS rn,
        |    count(*) OVER (PARTITION BY v) AS n
        |  FROM base),
        |qq AS (SELECT v, CAST(p AS DOUBLE) AS p, CAST(x AS DOUBLE) AS x
        |       FROM ranked
        |       CROSS JOIN (VALUES (0.5), (0.9), (0.99)) AS ps(p)
        |       WHERE rn = CAST(ceil(round(p * n, 9)) AS BIGINT))
        |SELECT coalesce(a.p, b.p) AS p, a.x AS q_a, b.x AS q_b,
        |  round(a.x - b.x, 6) AS diff
        |FROM (SELECT p, x FROM qq WHERE v = '0') a
        |FULL JOIN (SELECT p, x FROM qq WHERE v = '1') b ON a.p = b.p
        |ORDER BY p""".stripMargin,

    // CMH: per-stratum 2×2 cells in one pass, 9-dp E/Var/OR terms
    // decimal-summed, the two statistics as double forms at the end.
    "q_ab_cmh" ->
      """WITH b AS (SELECT CAST(user_id % 5 AS VARCHAR) AS st,
        |             CAST(user_id % 2 AS VARCHAR) AS v,
        |             coalesce(event_type = 'purchase', FALSE) AS ok
        |           FROM events),
        |cells AS (SELECT st,
        |    count(CASE WHEN v = '0' THEN 1 END) AS n_a,
        |    count(CASE WHEN v = '0' AND ok THEN 1 END) AS s_a,
        |    count(CASE WHEN v = '1' THEN 1 END) AS n_b,
        |    count(CASE WHEN v = '1' AND ok THEN 1 END) AS s_b
        |  FROM b GROUP BY 1),
        |t AS (SELECT n_a, n_b,
        |    round(CAST(n_a AS DOUBLE) * CAST(s_a + s_b AS DOUBLE) /
        |      CAST(n_a + n_b AS DOUBLE), 9) AS e,
        |    CASE WHEN n_a + n_b < 2 THEN 0.0
        |         ELSE round(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) *
        |           CAST(s_a + s_b AS DOUBLE) *
        |           (CAST(n_a + n_b AS DOUBLE) - CAST(s_a + s_b AS DOUBLE)) /
        |           (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE) *
        |            (CAST(n_a + n_b AS DOUBLE) - 1.0)), 9)
        |    END AS var,
        |    CAST(s_a AS DOUBLE) AS sa_d,
        |    round(CAST(s_a AS DOUBLE) *
        |      (CAST(n_b AS DOUBLE) - CAST(s_b AS DOUBLE)) /
        |      CAST(n_a + n_b AS DOUBLE), 9) AS orn,
        |    round(CAST(s_b AS DOUBLE) *
        |      (CAST(n_a AS DOUBLE) - CAST(s_a AS DOUBLE)) /
        |      CAST(n_a + n_b AS DOUBLE), 9) AS ord_
        |  FROM cells WHERE n_a + n_b > 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |  CAST(sum(n_a + n_b) AS BIGINT) AS n,
        |  CASE WHEN CAST(sum(CAST(var AS DECIMAL(28,9))) AS DOUBLE) = 0.0
        |       THEN NULL
        |       ELSE round(
        |         (CAST(sum(CAST(sa_d AS DECIMAL(28,9))) AS DOUBLE) -
        |          CAST(sum(CAST(e AS DECIMAL(28,9))) AS DOUBLE)) *
        |         (CAST(sum(CAST(sa_d AS DECIMAL(28,9))) AS DOUBLE) -
        |          CAST(sum(CAST(e AS DECIMAL(28,9))) AS DOUBLE)) /
        |         CAST(sum(CAST(var AS DECIMAL(28,9))) AS DOUBLE), 6)
        |  END AS chi2_cmh,
        |  CASE WHEN CAST(sum(CAST(ord_ AS DECIMAL(28,9))) AS DOUBLE) = 0.0
        |       THEN NULL
        |       ELSE round(CAST(sum(CAST(orn AS DECIMAL(28,9))) AS DOUBLE) /
        |         CAST(sum(CAST(ord_ AS DECIMAL(28,9))) AS DOUBLE), 6)
        |  END AS or_mh
        |FROM t""".stripMargin,

    // SRM: two conditional counts, the designed-split expectations at
    // 9 dp, one 6-dp chi-square against the 95% critical value.
    "q_ab_srm" ->
      """WITH m AS (SELECT
        |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '0'
        |               THEN 1 END) AS n_a,
        |    count(CASE WHEN CAST(user_id % 2 AS VARCHAR) = '1'
        |               THEN 1 END) AS n_b
        |  FROM events),
        |e AS (SELECT n_a, n_b,
        |    round(0.5 * CAST(n_a + n_b AS DOUBLE), 9) AS ea,
        |    round(0.5 * CAST(n_a + n_b AS DOUBLE), 9) AS eb
        |  FROM m),
        |c AS (SELECT n_a, n_b, ea,
        |    round((CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea) /
        |            ea +
        |          (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb) /
        |            eb, 6) AS chi2
        |  FROM e)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a + n_b = 0 THEN NULL ELSE ea END AS expected_a,
        |  CASE WHEN n_a + n_b = 0 THEN NULL ELSE chi2 END AS chi2,
        |  CASE WHEN n_a + n_b = 0 THEN NULL
        |       ELSE chi2 > 3.841459 END AS srm_detected
        |FROM c""".stripMargin,

    // HHI concentration: domain-sized share terms, 9-dp decimal sum,
    // 6-dp hhi and effective count.
    "q_profile_concentration" ->
      """WITH c AS (SELECT source AS value, count(*) AS c FROM documents
        |           GROUP BY 1),
        |t AS (SELECT value, c, sum(c) OVER () AS t FROM c),
        |s AS (SELECT t,
        |        round((CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) *
        |              (CAST(c AS DOUBLE) / CAST(t AS DOUBLE)), 9) AS sh
        |      FROM t)
        |SELECT CAST(max(t) AS BIGINT) AS n,
        |  count(*) AS n_values,
        |  round(CAST(sum(CAST(sh AS DECIMAL(20,9))) AS DOUBLE), 6) AS hhi,
        |  round(1.0 / CAST(sum(CAST(sh AS DECIMAL(20,9))) AS DOUBLE), 6)
        |    AS effective_values
        |FROM s""".stripMargin,

    // Kendall τ-b: exact integer concordance/discordance off the cell
    // table's ordered θ-self-join; ties corrected from the marginals;
    // the only floats are two sqrt's and one division at the end.
    "q_profile_kendall" ->
      """WITH base AS (SELECT CAST(l_quantity AS DOUBLE) AS a,
        |                CAST(l_discount AS DOUBLE) AS b
        |              FROM lineitem
        |              WHERE l_quantity IS NOT NULL
        |                AND l_discount IS NOT NULL),
        |cells AS (SELECT a, b, count(*) AS n FROM base GROUP BY 1, 2),
        |p AS (SELECT
        |    coalesce(sum(CASE WHEN c2.b > c1.b
        |      THEN CAST(c1.n * c2.n AS DECIMAL(38,0)) END),
        |      CAST(0 AS DECIMAL(38,0))) AS conc,
        |    coalesce(sum(CASE WHEN c2.b < c1.b
        |      THEN CAST(c1.n * c2.n AS DECIMAL(38,0)) END),
        |      CAST(0 AS DECIMAL(38,0))) AS disc
        |  FROM cells c1 JOIN cells c2
        |    ON c2.a > c1.a AND c2.b <> c1.b),
        |ta AS (SELECT coalesce(sum(CAST(t * (t - 1) // 2
        |         AS DECIMAL(38,0))), CAST(0 AS DECIMAL(38,0))) AS n1
        |       FROM (SELECT sum(n) AS t FROM cells GROUP BY a)),
        |tb AS (SELECT coalesce(sum(CAST(t * (t - 1) // 2
        |         AS DECIMAL(38,0))), CAST(0 AS DECIMAL(38,0))) AS n2
        |       FROM (SELECT sum(n) AS t FROM cells GROUP BY b)),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
        |          CAST(sum(n) * (sum(n) - 1) // 2 AS DECIMAL(38,0)) AS n0
        |        FROM cells)
        |SELECT n, CAST(conc AS BIGINT) AS concordant,
        |  CAST(disc AS BIGINT) AS discordant,
        |  CASE WHEN n0 = n1 OR n0 = n2 THEN NULL
        |       ELSE round(CAST(conc - disc AS DOUBLE) /
        |         (sqrt(CAST(n0 - n1 AS DOUBLE)) *
        |          sqrt(CAST(n0 - n2 AS DOUBLE))), 6)
        |  END AS tau_b
        |FROM tot, p, ta, tb""".stripMargin
    // q_dedup_minhash / q_dedup_simhash / q_text_fingerprint / q_ann_lsh /
    // q_ann_ivf: hash-based or deliberately approximate — not DuckDB-
    // expressible, so the driver records the weaker rows-only check.
  )

  /** Per-category PII report over the injected corpus (same construction
    * as piiOracle), one UNION arm per category in redaction order. */
  private def piiReportOracle: String = {
    import graft.operators.Pii._
    val inject = "text || ' reach user' || CAST(doc_id AS VARCHAR) || " +
      "'@example.com or 10.' || CAST(doc_id % 200 AS VARCHAR) || " +
      "'.0.1 ssn 123-45-6789 tel 555-123-4567'"
    val cats = Seq("email" -> emailPattern, "ssn" -> ssnPattern,
      "phone" -> phonePattern, "ip" -> ipv4Pattern)
    val arms = cats.zipWithIndex.map { case ((name, pat), i) =>
      s"""SELECT '${i + 1}_$name' AS category,
         |  CAST(count(CASE WHEN len(regexp_extract_all(text, '$pat')) > 0
         |    THEN 1 END) AS BIGINT) AS n_docs,
         |  CAST(sum(len(regexp_extract_all(text, '$pat'))) AS BIGINT)
         |    AS n_matches,
         |  round(CAST(count(CASE WHEN len(regexp_extract_all(text, '$pat')) > 0
         |    THEN 1 END) AS DOUBLE) / count(*), 6) AS doc_frac
         |FROM injected""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH injected AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 <> 0 THEN $inject ELSE text END AS text
       |  FROM documents)
       |SELECT * FROM ($arms) u ORDER BY category""".stripMargin
  }

  /** Column-entropy oracle: per-column value counts unioned, the same
    * 9-dp-rounded natural-log bits terms summed as DECIMAL(20,9) — the
    * 1/ln2 factor is the interpolated literal ${math.log(2.0)} on both
    * engines. */
  private def entropyOracle: String = {
    val ln2 = math.log(2.0)
    val arms = Seq("lang", "source", "n_chars").map { c =>
      s"SELECT '$c' AS col, CAST($c AS VARCHAR) AS v FROM documents"
    }.mkString("\nUNION ALL\n")
    s"""WITH pairs AS (SELECT col, v FROM ($arms) u),
       |counts AS (SELECT col, v, CAST(count(*) AS BIGINT) AS c
       |           FROM pairs GROUP BY 1, 2),
       |tot AS (SELECT col, CAST(sum(c) AS BIGINT) AS n,
       |          CAST(count(*) AS BIGINT) AS n_distinct
       |        FROM counts GROUP BY 1),
       |terms AS (SELECT counts.col, n, n_distinct,
       |    round((CAST(c AS DOUBLE) / n) * (ln(n) - ln(c)) / $ln2, 9) AS term
       |  FROM counts JOIN tot ON counts.col = tot.col)
       |SELECT col AS "column", max(n) AS n, max(n_distinct) AS n_distinct,
       |  round(CAST(sum(CAST(term AS DECIMAL(20,9))) AS DOUBLE), 6) AS entropy
       |FROM terms GROUP BY col ORDER BY col""".stripMargin
  }

  /** Zipf oracle: the same 9-dp-rounded (ln rank, ln freq) terms summed
    * as DECIMAL(25,9), closed-form slope/intercept/r² in the identical
    * expression shape (precedence-matched to the operator). */
  private def zipfOracle: String =
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS term
      |  FROM documents),
      |top AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks
      |        WHERE length(term) > 0 GROUP BY 1
      |        ORDER BY n DESC, term ASC LIMIT 500),
      |ranked AS (SELECT n,
      |    CAST(row_number() OVER (ORDER BY n DESC, term ASC) AS BIGINT) AS rnk
      |  FROM top),
      |vals AS (SELECT round(ln(CAST(rnk AS DOUBLE)), 9) AS x,
      |           round(ln(CAST(n AS DOUBLE)), 9) AS y FROM ranked),
      |sums AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(x AS DECIMAL(25,9))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(y AS DECIMAL(25,9))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(25,9))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(25,9))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(round(y * y, 9) AS DECIMAL(25,9))) AS DOUBLE) AS syy
      |  FROM vals)
      |SELECT n AS n_terms,
      |  round(-(sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
      |  round((sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n, 6)
      |    AS intercept,
      |  round(((sxy - sx * sy / n) * (sxy - sx * sy / n)) /
      |    ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS r2
      |FROM sums""".stripMargin

  /** Benford oracle: expected shares are the same Scala-computed
    * literals the operator broadcasts; deviation derives from the
    * already-rounded pair on both engines. */
  private def benfordOracle: String = {
    val support = (1 to 9).map(d =>
      s"('${d}', ${math.log10(1.0 + 1.0 / d)})").mkString(", ")
    s"""WITH obs AS (
       |  SELECT regexp_extract(CAST(abs(CAST(o_totalprice AS DECIMAL(18,2)))
       |           AS VARCHAR), '[1-9]') AS digit,
       |    count(*) AS n
       |  FROM orders
       |  WHERE regexp_extract(CAST(abs(CAST(o_totalprice AS DECIMAL(18,2)))
       |          AS VARCHAR), '[1-9]') <> ''
       |  GROUP BY 1),
       |total AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS t FROM obs),
       |s AS (SELECT sup.digit, CAST(coalesce(obs.n, 0) AS BIGINT) AS n,
       |        round(CAST(coalesce(obs.n, 0) AS DOUBLE) / total.t, 6) AS share,
       |        round(sup.p, 6) AS benford_p
       |      FROM (VALUES $support) AS sup(digit, p)
       |      LEFT JOIN obs ON sup.digit = obs.digit CROSS JOIN total)
       |SELECT digit, n, share, benford_p,
       |  round(share - benford_p, 6) AS deviation
       |FROM s ORDER BY digit""".stripMargin
  }

  /** Fellegi-Sunter oracle: the same (m,u)-derived weight literals as
    * `linkageFields` (Double.toString is shortest-round-trip, so DuckDB
    * parses back the identical IEEE double), summed in the same field
    * order — per-pair fixed-order double arithmetic on both engines. */
  /** The pre-projected side of the linkage oracle — mirrors
    * Linkage.project (field exprs evaluated once per row, bare columns). */
  private def linkageProjCte: String = {
    val fs = linkageFields.zipWithIndex
      .map { case (f, i) => s"${f.exprA} AS f$i" }.mkString(", ")
    s"pa AS (SELECT p_partkey AS id, p_brand AS blk, $fs FROM part)"
  }

  private def linkageOracleBase: String = {
    val terms = linkageFields.zipWithIndex.map { case (f, i) =>
      s"CASE WHEN a.f$i = b.f$i THEN ${f.agreeWeight} " +
        s"ELSE ${f.disagreeWeight} END"
    }.mkString("(", " + ", ")")
    val agrees = linkageFields.indices.map { i =>
      s"CASE WHEN a.f$i = b.f$i THEN 1 ELSE 0 END"
    }.mkString("(", " + ", ")")
    s"""WITH $linkageProjCte
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST($agrees AS INTEGER) AS n_agree,
       |  round($terms, 6) AS score
       |FROM pa a JOIN pa b ON a.blk = b.blk AND a.id < b.id""".stripMargin
  }

  /** Multi-pass blocking oracle: UNION (distinct) of the two blocked
    * self-joins' id pairs — exactly the operator's pair-dedup — then
    * each pair scored once with the shared fixed-order arithmetic. */
  private def linkageMultiOracle: String = {
    val fs = linkageFields.zipWithIndex
      .map { case (f, i) => s"${f.exprA} AS f$i" }.mkString(", ")
    val terms = linkageFields.zipWithIndex.map { case (f, i) =>
      s"CASE WHEN a.f$i = b.f$i THEN ${f.agreeWeight} " +
        s"ELSE ${f.disagreeWeight} END"
    }.mkString("(", " + ", ")")
    val agrees = linkageFields.indices.map { i =>
      s"CASE WHEN a.f$i = b.f$i THEN 1 ELSE 0 END"
    }.mkString("(", " + ", ")")
    s"""WITH pm AS (SELECT p_partkey AS id,
       |  p_brand || '#' || CAST(p_size AS VARCHAR) AS blk1,
       |  substring(p_name, 1, 12) AS blk2, $fs FROM part),
       |cand AS (
       |  SELECT a.id AS id_a, b.id AS id_b FROM pm a JOIN pm b
       |    ON a.blk1 = b.blk1 AND a.id < b.id
       |  UNION
       |  SELECT a.id, b.id FROM pm a JOIN pm b
       |    ON a.blk2 = b.blk2 AND a.id < b.id)
       |SELECT c.id_a, c.id_b,
       |  CAST($agrees AS INTEGER) AS n_agree,
       |  round($terms, 6) AS score
       |FROM cand c JOIN pm a ON a.id = c.id_a JOIN pm b ON b.id = c.id_b
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Capped-linkage oracle: the same HOT-block funnel and the same
    * over-cap anti-join semantics (blocks with count > 100 drop from
    * both sides), then the identical fixed-order score arithmetic. */
  private def linkageCappedOracle: String = {
    val fs = linkageFields.zipWithIndex
      .map { case (f, i) => s"${f.exprA} AS f$i" }.mkString(", ")
    val terms = linkageFields.zipWithIndex.map { case (f, i) =>
      s"CASE WHEN a.f$i = b.f$i THEN ${f.agreeWeight} " +
        s"ELSE ${f.disagreeWeight} END"
    }.mkString("(", " + ", ")")
    val agrees = linkageFields.indices.map { i =>
      s"CASE WHEN a.f$i = b.f$i THEN 1 ELSE 0 END"
    }.mkString("(", " + ", ")")
    s"""WITH pa AS (SELECT p_partkey AS id,
       |  CASE WHEN p_partkey % 7 = 0 THEN 'HOT' ELSE p_brand END AS blk,
       |  $fs FROM part),
       |hot AS (SELECT blk FROM pa GROUP BY blk HAVING count(*) > 100),
       |pb AS (SELECT * FROM pa WHERE blk NOT IN (SELECT blk FROM hot))
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST($agrees AS INTEGER) AS n_agree,
       |  round($terms, 6) AS score
       |FROM pb a JOIN pb b ON a.blk = b.blk AND a.id < b.id
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** N-round EM oracle: replays emEstimate exactly — the agreement-
    * pattern histogram computed ONCE, then per round the left-to-right
    * posterior products (every probability literal CAST to DOUBLE so
    * DuckDB's decimal literals can't sneak exact arithmetic in where
    * Spark does IEEE), the 12-dp posterior round, DECIMAL(38,9) sums of
    * 9-dp operands, and the [1e-6, 1-1e-6] clamp feeding the next
    * round's weights — one CTE block per iteration, 6-dp publish from
    * the final weights row. */
  /** DuckDB mirror of `Layout.zorderValue` over (user_id, event_id):
    * CTE `zt(user_id, event_id, z)` with the identical exact-integer
    * scaling and bit-interleave arithmetic. */
  private def layoutZCte(bits: Int): String = {
    val levels = (1 << bits) - 1
    val inter = (0 until bits).flatMap(i => Seq(
      s"(((s0 >> $i) & 1) << ${2 * i})",
      s"(((s1 >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""s AS (SELECT min(user_id) AS mn0, max(user_id) AS mx0,
       |          min(event_id) AS mn1, max(event_id) AS mx1 FROM events),
       |sc AS (SELECT event_id, user_id,
       |    ((user_id - mn0) * $levels) // greatest(mx0 - mn0, 1) AS s0,
       |    ((event_id - mn1) * $levels) // greatest(mx1 - mn1, 1) AS s1
       |  FROM events CROSS JOIN s),
       |zt AS (SELECT user_id, event_id, $inter AS z FROM sc)""".stripMargin
  }

  /** DuckDB mirror of `Augment.wordDropout` (`drop = true`) /
    * `tokenMask` (`drop = false`): per-token md5(seed:id:pos) decision
    * against the same [[graft.operators.Split.thresholdHex]] literal,
    * ordered string_agg re-assembly. */
  private def augmentTokenOracle(rate: Double, drop: Boolean): String = {
    val out = if (drop) "CASE WHEN NOT hit THEN tok END"
      else "CASE WHEN hit THEN '<mask>' ELSE tok END"
    val hits = if (drop) "n_dropped" else "n_masked"
    s"""WITH base AS (SELECT doc_id AS id, ${evalToksSql("text")} AS t
       |  FROM documents),
       |tok0 AS (SELECT id, t, unnest(range(1, len(t)+1)) AS i FROM base),
       |tok AS (SELECT id, i-1 AS pos, t[i] AS tok FROM tok0),
       |fl AS (SELECT id, pos, tok,
       |  substr(md5('graft:' || CAST(id AS VARCHAR) || ':' ||
       |             CAST(pos AS VARCHAR)), 1, 8)
       |    < '${graft.operators.Split.thresholdHex(rate)}' AS hit FROM tok),
       |agg AS (SELECT id,
       |    coalesce(string_agg($out, ' ' ORDER BY pos), '') AS text_out,
       |    CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS $hits
       |  FROM fl GROUP BY id)
       |SELECT d.doc_id AS id, coalesce(a.text_out, '') AS text_out,
       |  CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(a.$hits, 0) AS BIGINT) AS $hits
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.id
       |ORDER BY id""".stripMargin
  }

  /** DuckDB mirror of `Profile.correlationMatrix`: per-pair exact
    * DECIMAL(18,2) moments in one aggregate, then the identical
    * double-arithmetic Pearson (n·Σxy − ΣxΣy over the two √ terms). */
  private def corrOracle(table: String, cols: Seq[String]): String = {
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val momentCols = pairs.zipWithIndex.flatMap { case ((a, b), k) =>
      val da = s"CAST($a AS DECIMAL(18,2))"
      val db = s"CAST($b AS DECIMAL(18,2))"
      val both = s"$da IS NOT NULL AND $db IS NOT NULL"
      Seq(
        s"CAST(count(CASE WHEN $both THEN 1 END) AS BIGINT) AS n_$k",
        s"sum(CASE WHEN $both THEN $da END) AS sx_$k",
        s"sum(CASE WHEN $both THEN $db END) AS sy_$k",
        s"sum(CASE WHEN $both THEN $da * $db END) AS sxy_$k",
        s"sum(CASE WHEN $both THEN $da * $da END) AS sxx_$k",
        s"sum(CASE WHEN $both THEN $db * $db END) AS syy_$k")
    }.mkString(",\n  ")
    val arms = pairs.zipWithIndex.map { case ((a, b), k) =>
      val n = s"CAST(n_$k AS DOUBLE)"
      def g(p: String) = s"CAST(${p}_$k AS DOUBLE)"
      val num = s"$n * ${g("sxy")} - ${g("sx")} * ${g("sy")}"
      val den = s"""sqrt($n * ${g("sxx")} - ${g("sx")} * ${g("sx")})
                   | * sqrt($n * ${g("syy")} - ${g("sy")} * ${g("sy")})"""
        .stripMargin
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n_$k AS n,
         |  CASE WHEN $den = 0.0 OR $n < 2.0 THEN NULL
         |       ELSE round(($num) / ($den), 6) END AS corr
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (SELECT
       |  $momentCols
       |  FROM $table)
       |$arms
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** DuckDB mirror of `Preference.leaderboard` over [[arenaCte]]'s
    * `raw(w, l)` stream — CTE `board(item, games, wins, win_rate,
    * rank)`, shared by the plain and Wilson-CI leaderboard gates. */
  private val leaderboardCte: String =
    """per AS (SELECT item, CAST(count(*) AS BIGINT) AS games,
      |          CAST(sum(v) AS BIGINT) AS wins
      |        FROM (SELECT w AS item, 1 AS v FROM raw
      |              UNION ALL SELECT l AS item, 0 AS v FROM raw)
      |        GROUP BY item),
      |board AS (SELECT item, games, wins,
      |    round(CAST(wins AS DOUBLE) / games, 6) AS win_rate,
      |    CAST(rank() OVER (ORDER BY round(CAST(wins AS DOUBLE) / games, 6)
      |      DESC) AS BIGINT) AS rank
      |  FROM per)""".stripMargin

  /** DuckDB mirror of `Classifier.fitLogistic` over documents with
    * label `lang = 'en'`: hashed presence features via the same
    * character-fold polynomial hash as [[dsirWeightsSql]], then
    * `iterations` unrolled GD rounds replaying the DECIMAL-fold /
    * round(…,12) / algebraic-sigmoid arithmetic. Yields CTEs ending in
    * `w$iterations(b, wt)`; `score = true` appends corpus scoring with
    * the 6-dp-rounded weights. */
  private def classifierOracle(buckets: Int, iterations: Int, lr: Double,
                               score: Boolean): String = {
    def dec(x: String) = s"CAST(sum(CAST(round($x, 9) AS DECIMAL(38,9))) AS DOUBLE)"
    val rounds = (1 to iterations).map { r =>
      s"""z$r AS (SELECT d.doc_id, d.y,
         |    round((SELECT wt FROM w${r - 1} WHERE b = -1)
         |      + coalesce(s.zs, 0.0), 12) AS z
         |  FROM docs0 d LEFT JOIN (
         |    SELECT fb.doc_id, ${dec("wt")} AS zs
         |    FROM fb JOIN w${r - 1} w ON fb.b = w.b GROUP BY fb.doc_id) s
         |  USING (doc_id)),
         |r$r AS (SELECT doc_id,
         |    round(round(0.5 + z / (2.0 * (1.0 + abs(z))), 12) - y, 9)
         |      AS res
         |  FROM z$r),
         |g$r AS (SELECT fb.b,
         |    round(${dec("res")} / (SELECT nn FROM n), 12) AS g
         |  FROM fb JOIN r$r USING (doc_id) GROUP BY fb.b
         |  UNION ALL
         |  SELECT -1, round(${dec("res")} / (SELECT nn FROM n), 12)
         |  FROM r$r),
         |w$r AS (SELECT w.b,
         |    round(w.wt - $lr * coalesce(g.g, 0.0), 12) AS wt
         |  FROM w${r - 1} w LEFT JOIN g$r g USING (b))""".stripMargin
    }.mkString(",\n")
    val base =
      s"""docs0 AS (SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents),
         |toks AS (SELECT doc_id,
         |    regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+')
         |      AS ws
         |  FROM documents),
         |uni AS (SELECT doc_id, w, i
         |  FROM (SELECT doc_id, unnest(ws) AS w,
         |          unnest(range(1, len(ws) + 1)) AS i FROM toks)
         |  WHERE length(w) > 0),
         |feats AS (SELECT doc_id, w AS f FROM uni
         |  UNION ALL
         |  SELECT a.doc_id, a.w || ' ' || b.w
         |  FROM uni a JOIN uni b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         |fb AS (SELECT DISTINCT doc_id,
         |    list_reduce(list_transform(string_split(f, ''), x -> unicode(x)),
         |                (h, c) -> (h * 31 + c) % 2000003) % $buckets AS b
         |  FROM feats),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs0),
         |w0 AS (SELECT unnest(range(-1, $buckets)) AS b,
         |    CAST(0.0 AS DOUBLE) AS wt),
         |$rounds""".stripMargin
    if (!score)
      s"""WITH $base
         |SELECT b AS bucket, round(wt, 6) AS weight
         |FROM w$iterations ORDER BY bucket""".stripMargin
    else
      s"""WITH $base,
         |wf AS (SELECT b, round(wt, 6) AS wt FROM w$iterations),
         |zf AS (SELECT d.doc_id,
         |    round((SELECT wt FROM wf WHERE b = -1)
         |      + coalesce(s.zs, 0.0), 12) AS z
         |  FROM docs0 d LEFT JOIN (
         |    SELECT fb.doc_id, ${dec("wt")} AS zs
         |    FROM fb JOIN wf w ON fb.b = w.b GROUP BY fb.doc_id) s
         |  USING (doc_id))
         |SELECT doc_id AS id,
         |  round(round(0.5 + z / (2.0 * (1.0 + abs(z))), 12), 6) AS score
         |FROM zf ORDER BY id""".stripMargin
  }

  /** DuckDB mirror of `Classifier.fitLogisticGrouped` over documents
    * grouped by lang with label `length(text) > 200` — the
    * [[classifierOracle]] arithmetic with the group key threaded
    * through every CTE. */
  private def classifierGroupOracle(buckets: Int, iterations: Int,
                                    lr: Double,
                                    score: Boolean = false): String = {
    def dec(x: String) = s"CAST(sum(CAST(round($x, 9) AS DECIMAL(38,9))) AS DOUBLE)"
    val rounds = (1 to iterations).map { r =>
      s"""z$r AS (SELECT d.g, d.doc_id, d.y,
         |    round(bias.w0 + coalesce(s.zs, 0.0), 12) AS z
         |  FROM docs0 d
         |  JOIN (SELECT g, wt AS w0 FROM w${r - 1} WHERE b = -1) bias
         |    USING (g)
         |  LEFT JOIN (
         |    SELECT fb.g, fb.doc_id, ${dec("wt")} AS zs
         |    FROM fb JOIN w${r - 1} w ON fb.g = w.g AND fb.b = w.b
         |    GROUP BY fb.g, fb.doc_id) s
         |  ON d.g = s.g AND d.doc_id = s.doc_id),
         |r$r AS (SELECT g, doc_id,
         |    round(round(0.5 + z / (2.0 * (1.0 + abs(z))), 12) - y, 9)
         |      AS res
         |  FROM z$r),
         |g$r AS (SELECT fb.g, fb.b,
         |    round(${dec("res")} / first(n.nn), 12) AS gr
         |  FROM fb
         |  JOIN r$r ON fb.g = r$r.g AND fb.doc_id = r$r.doc_id
         |  JOIN n ON fb.g = n.g
         |  GROUP BY fb.g, fb.b
         |  UNION ALL
         |  SELECT r.g, -1, round(${dec("res")} / first(n.nn), 12)
         |  FROM r$r r JOIN n USING (g) GROUP BY r.g),
         |w$r AS (SELECT w.g, w.b,
         |    round(w.wt - $lr * coalesce(gg.gr, 0.0), 12) AS wt
         |  FROM w${r - 1} w
         |  LEFT JOIN g$r gg ON w.g = gg.g AND w.b = gg.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH docs0 AS (SELECT lang AS g, doc_id,
       |    CASE WHEN length(text) > 200 THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents),
       |toks AS (SELECT lang AS g, doc_id,
       |    regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+')
       |      AS ws
       |  FROM documents),
       |uni AS (SELECT g, doc_id, w, i
       |  FROM (SELECT g, doc_id, unnest(ws) AS w,
       |          unnest(range(1, len(ws) + 1)) AS i FROM toks)
       |  WHERE length(w) > 0),
       |feats AS (SELECT g, doc_id, w AS f FROM uni
       |  UNION ALL
       |  SELECT a.g, a.doc_id, a.w || ' ' || b.w
       |  FROM uni a JOIN uni b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
       |fb AS (SELECT DISTINCT g, doc_id,
       |    list_reduce(list_transform(string_split(f, ''), x -> unicode(x)),
       |                (h, c) -> (h * 31 + c) % 2000003) % $buckets AS b
       |  FROM feats),
       |n AS (SELECT g, CAST(count(*) AS BIGINT) AS nn FROM docs0 GROUP BY g),
       |w0 AS (SELECT g, unnest(range(-1, $buckets)) AS b,
       |    CAST(0.0 AS DOUBLE) AS wt
       |  FROM (SELECT DISTINCT g FROM docs0)),
       |$rounds
       |${if (!score)
          s"""SELECT g AS "group", b AS bucket, round(wt, 6) AS weight
             |FROM w$iterations ORDER BY "group", bucket""".stripMargin
        else
          s""", wf AS (SELECT g, b, round(wt, 6) AS wt FROM w$iterations),
             |zf AS (SELECT d.g, d.doc_id,
             |    round(bias.w0 + coalesce(s.zs, 0.0), 12) AS z
             |  FROM docs0 d
             |  JOIN (SELECT g, wt AS w0 FROM wf WHERE b = -1) bias
             |    USING (g)
             |  LEFT JOIN (
             |    SELECT fb.g, fb.doc_id, ${dec("wt")} AS zs
             |    FROM fb JOIN wf w ON fb.g = w.g AND fb.b = w.b
             |    GROUP BY fb.g, fb.doc_id) s
             |  ON d.g = s.g AND d.doc_id = s.doc_id)
             |SELECT g AS "group", doc_id AS id,
             |  round(round(0.5 + z / (2.0 * (1.0 + abs(z))), 12), 6)
             |    AS score
             |FROM zf ORDER BY "group", id""".stripMargin}""".stripMargin
  }

  /** DuckDB mirror of [[arenaComparisons]]: the deterministic
    * (winner, loser) stream the arena gates share. */
  private val arenaCte: String =
    """base AS (SELECT event_id, event_id % 7 AS a, (event_id // 7) % 7 AS b
      |         FROM events),
      |raw AS (SELECT
      |    CASE WHEN event_id % 3 > 0 THEN least(a, b)
      |         ELSE greatest(a, b) END AS w,
      |    CASE WHEN event_id % 3 > 0 THEN greatest(a, b)
      |         ELSE least(a, b) END AS l
      |  FROM base WHERE a <> b)""".stripMargin

  /** DuckDB mirror of `Preference.bradleyTerry` over [[arenaCte]]:
    * the MM rounds are unrolled CTE blocks replaying the identical
    * DECIMAL(38,9)-fold / round(…,12) / clamp arithmetic (the
    * [[linkageEmOracle]] discipline), with normalization as a
    * whole-frame window exactly as the operator emits it. */
  private def btOracle(iterations: Int): String =
    btOracleFromPairs(
      s"""$arenaCte,
         |pairs AS (SELECT least(w, l) AS i, greatest(w, l) AS j,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN w < l THEN 1 ELSE 0 END) AS DOUBLE)
         |      AS win_i
         |  FROM raw GROUP BY 1, 2)""".stripMargin, iterations)

  /** Tie-aware arm: outcome 1/0/0.5 for the lower-id side a — ties
    * credit half a win each (the arena convention), mirrored by
    * `Preference.bradleyTerryTies`. */
  private def btTiesOracle(iterations: Int): String =
    btOracleFromPairs(
      """base AS (SELECT event_id, event_id % 7 AS a, (event_id // 7) % 7 AS b
        |         FROM events),
        |g AS (SELECT a, b,
        |    CAST(CASE WHEN event_id % 6 = 0 THEN 0.5
        |              WHEN event_id % 3 > 0 THEN 1.0
        |              ELSE 0.0 END AS DOUBLE) AS oa
        |  FROM base WHERE a <> b),
        |pairs AS (SELECT least(a, b) AS i, greatest(a, b) AS j,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CASE WHEN a < b THEN oa ELSE 1.0 - oa END) AS win_i
        |  FROM g GROUP BY 1, 2)""".stripMargin, iterations)

  /** Shared MM-round unroll over a `pairs(i, j, n, win_i)` CTE —
    * win_i is DOUBLE (integral for the plain arm, half-wins for the
    * tie-aware arm; dyadic sums are exact in both engines). */
  private def btOracleFromPairs(pairsCte: String, iterations: Int): String = {
    val rounds = (1 to iterations).map { r =>
      s"""d$r AS (SELECT s.item AS item,
         |  CAST(sum(CAST(round(s.n / (pi.p + pj.p), 9) AS DECIMAL(38,9)))
         |    AS DOUBLE) AS d
         |  FROM sides s
         |  JOIN p${r - 1} pi ON s.item = pi.item
         |  JOIN p${r - 1} pj ON s.opp = pj.item
         |  GROUP BY s.item),
         |r$r AS (SELECT d.item, round(w.wins / d.d, 12) AS p0
         |  FROM d$r d JOIN wins w ON d.item = w.item),
         |p$r AS (SELECT item,
         |  greatest(round(p0 * count(*) OVER ()
         |    / CAST(sum(CAST(round(p0, 9) AS DECIMAL(38,9))) OVER ()
         |        AS DOUBLE), 12),
         |    CAST(1e-6 AS DOUBLE)) AS p
         |  FROM r$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $pairsCte,
       |sides AS (SELECT i AS item, j AS opp, n, win_i AS wv FROM pairs
       |  UNION ALL
       |  SELECT j AS item, i AS opp, n, n - win_i AS wv FROM pairs),
       |wins AS (SELECT item, CAST(sum(wv) AS DOUBLE) AS wins,
       |    CAST(sum(n) AS BIGINT) AS games
       |  FROM sides GROUP BY item),
       |p0 AS (SELECT item, CAST(1.0 AS DOUBLE) AS p FROM wins),
       |$rounds
       |SELECT p.item AS item, round(p.p, 6) AS strength,
       |  w.games AS games, round(w.wins, 2) AS wins
       |FROM p$iterations p JOIN wins w ON p.item = w.item
       |ORDER BY item""".stripMargin
  }

  private def linkageEmOracle(lambda: Double, iterations: Int = 1): String = {
    val idx = linkageFields.indices
    val gdefs = idx.map(i =>
      s"CASE WHEN a.f$i = b.f$i THEN 1 ELSE 0 END AS g$i").mkString(", ")
    val groupCols = idx.map(i => s"g$i").mkString(", ")
    def dbl(x: Double) = s"CAST($x AS DOUBLE)"
    val lo = dbl(1e-6)
    def clamp(x: String) = s"greatest(least($x, 1.0 - $lo), $lo)"
    val w0 = (s"${dbl(lambda)} AS lam" +:
      linkageFields.zipWithIndex.flatMap { case (f, i) =>
        Seq(s"${dbl(f.m)} AS m$i", s"${dbl(f.u)} AS u$i") }.toSeq)
      .mkString(", ")
    val rounds = (1 to iterations).map { r =>
      val pm = (s"w.lam" +: idx.map(i =>
        s"(CASE WHEN g$i = 1 THEN w.m$i ELSE 1.0 - w.m$i END)"))
        .mkString(" * ")
      val pu = (s"(1.0 - w.lam)" +: idx.map(i =>
        s"(CASE WHEN g$i = 1 THEN w.u$i ELSE 1.0 - w.u$i END)"))
        .mkString(" * ")
      val fcols = idx.flatMap(i => Seq(
        s"""CAST(sum(CAST(round((c*p)*g$i, 9) AS DECIMAL(38,9)))
           |    AS DOUBLE) AS spg$i""".stripMargin,
        s"""CAST(sum(CAST(round((c*(1.0-p))*g$i, 9) AS DECIMAL(38,9)))
           |    AS DOUBLE) AS sug$i""".stripMargin)).mkString(",\n  ")
      val wcols = (s"${clamp(s"round(sp / nn, 12)")} AS lam" +:
        idx.flatMap(i => Seq(
          s"${clamp(s"round(spg$i / sp, 12)")} AS m$i",
          s"${clamp(s"round(sug$i / (nn - sp), 12)")} AS u$i")))
        .mkString(",\n  ")
      s"""sc$r AS (SELECT $groupCols, c, round(pm / (pm + pu), 12) AS p FROM
         |  (SELECT pat.*, $pm AS pm,
         |     $pu AS pu FROM pat CROSS JOIN w${r - 1} w)),
         |tot$r AS (SELECT CAST(sum(c) AS DOUBLE) AS nn,
         |  CAST(sum(CAST(round(c*p, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sp
         |  FROM sc$r),
         |fr$r AS (SELECT
         |  $fcols
         |  FROM sc$r),
         |w$r AS (SELECT
         |  $wcols
         |  FROM fr$r CROSS JOIN tot$r)""".stripMargin
    }.mkString(",\n")
    val finalArms = idx.map(i =>
      s"""SELECT $i AS field, round(m$i, 6) AS m_est,
         |  round(u$i, 6) AS u_est, round(lam, 6) AS lambda_est
         |FROM w$iterations""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH $linkageProjCte,
       |pr AS (SELECT $gdefs
       |       FROM pa a JOIN pa b ON a.blk = b.blk AND a.id < b.id),
       |pat AS (SELECT $groupCols, count(*) AS c FROM pr
       |        GROUP BY $groupCols),
       |w0 AS (SELECT $w0),
       |$rounds,
       |allf AS ($finalArms)
       |SELECT CAST(field AS INTEGER) AS field, m_est, u_est, lambda_est
       |FROM allf ORDER BY field""".stripMargin
  }

  private def linkageRatesOracle: String = {
    val arms = linkageFields.indices.map { i =>
      s"""SELECT $i AS field, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN a.f$i = b.f$i THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_agree,
         |  round(CAST(sum(CASE WHEN a.f$i = b.f$i THEN 1 ELSE 0 END)
         |        AS DOUBLE) / count(*), 6) AS agree_rate
         |FROM pa a JOIN pa b ON a.blk = b.blk AND a.id < b.id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $linkageProjCte
       |$arms
       |ORDER BY field""".stripMargin
  }

  /** Spark-dialect SQL for the CUSTOM→canonical_url gate (runs ONLY in
    * Spark — canonical_url is a graft extension; the oracle is
    * `canonicalUrlOracle`, the same construction normalized in DuckDB). */
  private val sqlCanonical: String =
    """SELECT doc_id, canonical_url(
      |  CASE WHEN doc_id % 4 = 0 THEN
      |    'HTTP://WWW.Example.com:80/A/' || doc_id || '?utm_campaign=x&page=' || doc_id
      |  WHEN doc_id % 4 = 1 THEN
      |    'https://Example.com/p/' || doc_id || '?a=1&fbclid=' || doc_id || '&b=2#sec'
      |  WHEN doc_id % 4 = 2 THEN
      |    'FTP://Host.Example:21/data/' || doc_id
      |  ELSE 'relative/path/' || doc_id END) AS url
      |FROM documents ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of the canonical-URL gates (q_web_canonical and
    * the CUSTOM-stage q_custom_canonical share it). */
  private val canonicalUrlOracle: String =
    """WITH raw AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 4 = 0 THEN
      |      'HTTP://WWW.Example.com:80/A/' || doc_id || '?utm_campaign=x&page=' || doc_id
      |    WHEN doc_id % 4 = 1 THEN
      |      'https://Example.com/p/' || doc_id || '?a=1&fbclid=' || doc_id || '&b=2#sec'
      |    WHEN doc_id % 4 = 2 THEN
      |      'FTP://Host.Example:21/data/' || doc_id
      |    ELSE 'relative/path/' || doc_id END AS u
      |  FROM documents),
      |pre AS (SELECT doc_id, u, regexp_replace(u, '(?s)#.*$', '') AS u2 FROM raw)
      |SELECT doc_id,
      |  CASE WHEN regexp_extract(u2, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) = '' THEN u
      |  ELSE lower(regexp_extract(u2, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' ||
      |    CASE WHEN lower(regexp_extract(u2, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) = 'http'
      |         THEN regexp_replace(lower(regexp_extract(u2, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':80$', '')
      |         WHEN lower(regexp_extract(u2, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) = 'https'
      |         THEN regexp_replace(lower(regexp_extract(u2, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':443$', '')
      |         ELSE lower(regexp_extract(u2, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) END ||
      |    regexp_extract(regexp_extract(u2, '(?s)^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1),
      |      '(?s)^([^?]*)', 1) ||
      |    regexp_replace(regexp_replace(regexp_replace(
      |      regexp_extract(regexp_extract(u2, '(?s)^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1),
      |        '(?s)^[^?]*(\?.*)$', 1),
      |      '&(?:utm_[A-Za-z0-9_]+|fbclid|gclid|mc_cid|mc_eid)=[^&]*', '', 'g'),
      |      '^\?(?:utm_[A-Za-z0-9_]+|fbclid|gclid|mc_cid|mc_eid)=[^&]*&', '?', 'g'),
      |      '^\?(?:utm_[A-Za-z0-9_]+|fbclid|gclid|mc_cid|mc_eid)=[^&]*$', '', 'g')
      |  END AS url
      |FROM pre ORDER BY doc_id""".stripMargin

  /** Shared CTE scaffold for the drift oracles: `aSql`/`bSql` each select
    * ONE column aliased `v`; the scaffold builds value counts, the
    * null-safe full outer join, and exact-count probabilities. */
  /** DuckDB mirror of q_cluster_lloyd: the same Lloyd iterations
    * unrolled — assignment CTE (6-dp cosine argmax, label tie-break)
    * and per-dimension decimal-mean centroid CTE per round, seeded
    * from the first 8 data vectors. */
  private def lloydOracle(iterations: Int): String = {
    def asg(i: Int) =
      s"""sc$i AS (SELECT e.vec_id, c.label,
         |  round(list_cosine_similarity(e.v, c.cv), 6) AS c
         |  FROM e CROSS JOIN cent${i - 1} c),
         |asg$i AS (SELECT vec_id,
         |  first(label ORDER BY c DESC, label ASC) AS cluster,
         |  first(c ORDER BY c DESC, label ASC) AS cosine
         |  FROM sc$i GROUP BY vec_id)""".stripMargin
    def cent(i: Int) =
      s"""ex$i AS (SELECT a.cluster AS label, unnest(e.v) AS x,
         |  unnest(range(1, len(e.v) + 1)) AS pos
         |  FROM e JOIN asg$i a USING (vec_id)),
         |cm$i AS (SELECT label, pos,
         |  CAST(sum(CAST(round(x, 9) AS DECIMAL(27,9))) AS DOUBLE)
         |    / count(*) AS c
         |  FROM ex$i GROUP BY 1, 2),
         |cent$i AS (SELECT label, list(c ORDER BY pos) AS cv
         |  FROM cm$i GROUP BY 1)""".stripMargin
    val rounds = (1 to iterations).map { i =>
      if (i < iterations) asg(i) + ",\n" + cent(i) else asg(i)
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |cent0 AS (SELECT vec_id AS label, v AS cv FROM e WHERE vec_id < 8),
       |$rounds
       |SELECT vec_id, cluster, cosine FROM asg$iterations
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB mirror of [[graft.sources.Layout.zValue]]: bit i of dim j
    * at position i*k+j. Every term is fully parenthesized — SQL's `+`
    * binds TIGHTER than `<<`, so a bare `a << p + b << q` chain would
    * shift by the neighbor's term. */
  private def zOracleExpr(dims: Seq[String], bits: Int): String =
    dims.zipWithIndex.flatMap { case (e, j) =>
      (0 until bits).map(i =>
        s"(((($e) >> $i) & 1) << ${i * dims.size + j})")
    }.mkString(" + ")

  /** DuckDB mirror of q_graph_pagerank: the same iteration count
    * unrolled as CTE rounds. Teleport is spelled `(1 - d)` — NEVER a
    * folded 0.15 literal — because 1-0.85 and 0.15 are different
    * doubles and the 9-dp round can straddle a boundary. */
  private def pageRankOracle(iterations: Int, damping: Double): String = {
    val d = damping.toString
    val rounds = (1 to iterations).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
         |  CAST(round(r.rank / o.deg, 9) AS DECIMAL(22,9)) AS c
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |  JOIN outdeg o ON e.src = o.src),
         |s$i AS (SELECT node, sum(c) AS s FROM c$i GROUP BY node),
         |r$i AS (SELECT n.node,
         |  round((1 - $d) + $d * CAST(coalesce(s.s, 0) AS DOUBLE), 9) AS rank
         |  FROM nodes n LEFT JOIN s$i s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT c AS src, p AS dst FROM pairs
       |          UNION SELECT p, c FROM pairs),
       |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT src AS node FROM edges
       |          UNION SELECT dst FROM edges),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
       |$rounds
       |SELECT node, round(rank, 6) AS rank FROM r$iterations
       |ORDER BY node""".stripMargin
  }

  /** DuckDB mirror of q_graph_pagerank_weighted: [[pageRankOracle]]
    * with per-edge weight SHARES (multiplicity-summed DECIMAL weights,
    * 9-dp share snap) replacing the uniform 1/deg split. */
  private def weightedPrOracle(iterations: Int, damping: Double): String = {
    val d = damping.toString
    val rounds = (1 to iterations).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
         |  CAST(round(r.rank * e.share, 9) AS DECIMAL(22,9)) AS c
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node),
         |s$i AS (SELECT node, sum(c) AS s FROM c$i GROUP BY node),
         |r$i AS (SELECT n.node,
         |  round((1 - $d) + $d * CAST(coalesce(s.s, 0) AS DOUBLE), 9) AS rank
         |  FROM nodes n LEFT JOIN s$i s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT 'c:' || o_custkey AS c, 's:' || l_suppkey AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |raw AS (SELECT c AS src, p AS dst FROM pairs
       |        UNION ALL SELECT p, c FROM pairs),
       |e0 AS (SELECT src, dst,
       |         sum(CAST(round(1.0, 9) AS DECIMAL(28,9))) AS w
       |       FROM raw GROUP BY 1, 2),
       |ws AS (SELECT src, sum(w) AS tw FROM e0 GROUP BY 1),
       |edges AS (SELECT e0.src, e0.dst,
       |            round(CAST(e0.w AS DOUBLE) / CAST(ws.tw AS DOUBLE), 9)
       |              AS share
       |          FROM e0 JOIN ws ON e0.src = ws.src),
       |nodes AS (SELECT src AS node FROM e0
       |          UNION SELECT dst FROM e0),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
       |$rounds
       |SELECT node,
       |  CAST(round(CAST(rank AS DECIMAL(22,9)), 6) AS DOUBLE) AS rank
       |FROM r$iterations ORDER BY node""".stripMargin
  }

  /** DuckDB mirror of q_graph_ppr: [[pageRankOracle]] with the teleport
    * mass restricted to the seed flag (r₀ = seed indicator). */
  private def pprOracle(iterations: Int, damping: Double): String = {
    val d = damping.toString
    val rounds = (1 to iterations).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
         |  CAST(round(r.rank / o.deg, 9) AS DECIMAL(22,9)) AS c
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |  JOIN outdeg o ON e.src = o.src),
         |s$i AS (SELECT node, sum(c) AS s FROM c$i GROUP BY node),
         |r$i AS (SELECT n.node, n.sf,
         |  round((1 - $d) * n.sf + $d * CAST(coalesce(s.s, 0) AS DOUBLE), 9)
         |    AS rank
         |  FROM n2 n LEFT JOIN s$i s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT c AS src, p AS dst FROM pairs
       |          UNION SELECT p, c FROM pairs),
       |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT src AS node FROM edges
       |          UNION SELECT dst FROM edges),
       |seeds AS (SELECT DISTINCT 'c:' || c_custkey AS node FROM customer
       |          WHERE c_custkey % 100 = 0),
       |n2 AS (SELECT n.node,
       |         CASE WHEN s.node IS NULL THEN 0.0 ELSE 1.0 END AS sf
       |       FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
       |r0 AS (SELECT node, sf, CAST(sf AS DOUBLE) AS rank FROM n2),
       |$rounds
       |SELECT node,
       |  CAST(round(CAST(rank AS DECIMAL(22,9)), 6) AS DOUBLE) AS rank
       |FROM r$iterations ORDER BY node""".stripMargin
  }

  /** DuckDB mirror of q_graph_hits: the same max-normalized rounds
    * unrolled as CTEs — decimal contribution sums, one double division
    * per normalization, 9-dp per step, 6-dp publish. */
  private def hitsOracle(iterations: Int): String = {
    val rounds = (1 to iterations).map { i =>
      s"""ar$i AS (SELECT e.dst AS node, sum(CAST(h AS DECIMAL(22,9))) AS s
         |  FROM edges e JOIN h${i - 1} ON e.src = h${i - 1}.node GROUP BY 1),
         |am$i AS (SELECT max(s) AS m FROM ar$i),
         |a$i AS (SELECT n.node,
         |  round(coalesce(CAST(s AS DOUBLE), 0.0) / CAST(m AS DOUBLE), 9) AS a
         |  FROM nodes n LEFT JOIN ar$i ON n.node = ar$i.node CROSS JOIN am$i),
         |hr$i AS (SELECT e.src AS node, sum(CAST(a AS DECIMAL(22,9))) AS s
         |  FROM edges e JOIN a$i ON e.dst = a$i.node GROUP BY 1),
         |hm$i AS (SELECT max(s) AS m FROM hr$i),
         |h$i AS (SELECT n.node,
         |  round(coalesce(CAST(s AS DOUBLE), 0.0) / CAST(m AS DOUBLE), 9) AS h
         |  FROM nodes n LEFT JOIN hr$i ON n.node = hr$i.node CROSS JOIN hm$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes),
       |$rounds
       |SELECT h$iterations.node AS node, round(h, 6) AS hub,
       |  round(a, 6) AS authority
       |FROM h$iterations JOIN a$iterations
       |  ON h$iterations.node = a$iterations.node
       |ORDER BY h$iterations.node""".stripMargin
  }

  private def driftScaffold(aSql: String, bSql: String): String =
    s"""a AS ($aSql),
       |b AS ($bSql),
       |ca AS (SELECT v AS va, count(*) AS n_a FROM a GROUP BY 1),
       |cb AS (SELECT v AS vb, count(*) AS n_b FROM b GROUP BY 1),
       |j AS (SELECT coalesce(va, vb) AS value,
       |             coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
       |      FROM ca FULL JOIN cb ON va IS NOT DISTINCT FROM vb),
       |t AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM a) AS t_a,
       |             (SELECT CAST(count(*) AS DOUBLE) FROM b) AS t_b),
       |p AS (SELECT value, n_a, n_b, n_a / t_a AS p_a, n_b / t_b AS p_b
       |      FROM j CROSS JOIN t)""".stripMargin

  private val driftCtes: String = driftScaffold(
    "SELECT lang AS v FROM documents",
    "SELECT lang AS v FROM documents WHERE doc_id % 3 != 0")

  /** The JS-divergence tail shared by the drift oracles. */
  private val driftJsSelect: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_values,
      |  round(CAST(sum(CAST(round(
      |    0.5 * (CASE WHEN p_a > 0 THEN p_a * ln(p_a / ((p_a + p_b) / 2.0)) ELSE 0.0 END) +
      |    0.5 * (CASE WHEN p_b > 0 THEN p_b * ln(p_b / ((p_a + p_b) / 2.0)) ELSE 0.0 END),
      |    9) AS DECIMAL(20,9))) AS DOUBLE), 6) AS js
      |FROM p""".stripMargin

  /** DuckDB mirror of `htmlDocs`. */
  private val htmlDocsSql: String =
    """SELECT doc_id,
      |  '<html><head><title>Doc ' || doc_id || '</title>' ||
      |  '<style>p {color: red}</style><script>var x = 1 < 2;</script></head>' ||
      |  '<body><h1>' || source || '</h1><p>' || substr(coalesce(text,''),1,60) ||
      |  '</p><div class="body">' || substr(coalesce(text,''),61) ||
      |  ' &amp;amp; more &lt;b&gt;bold&lt;/b&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div>' ||
      |  '<!-- hidden --></body></html>' AS html
      |FROM documents""".stripMargin

  /** DuckDB mirror of `multiLineDocs`. */
  private val lineDocsSql: String =
    """SELECT doc_id,
      |       substr(coalesce(text, ''), 1, 80) || chr(10) ||
      |       'PLEASE SUBSCRIBE TO OUR NEWSLETTER' || chr(10) ||
      |       'FROM ' || source || chr(10) ||
      |       substr(coalesce(text, ''), 81) AS text
      |FROM documents""".stripMargin

  /**
   * Shared CTE chain replaying the PQ gates' fit + encode exactly
   * (m = 2 subspaces × 32 dims, k = 4, one L2 Lloyd round from the 4
   * smallest-id seeds): raw-double fold distances (engine-identical,
   * no rounding needed), argmin ties to the lower code, per-dim
   * DECIMAL(38,9) means of 9-dp-rounded operands rounded once to 9 dp,
   * empty clusters keeping their seed centroid. Ends with `cb` (the
   * fitted codebook) and `codes` (the encoded corpus).
   */
  private def pqSubCtes(subDef: String): String = {
    def d2(x: String, c: String) =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, 33), i -> ($x[i] - $c[i]) * ($x[i] - $c[i]))),
         |  (a, b) -> a + b)""".stripMargin
    s"""sub AS ($subDef),
       |sm AS (SELECT vec_id,
       |         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
       |           AS code
       |       FROM e QUALIFY row_number() OVER (ORDER BY vec_id) <= 4),
       |seed AS (SELECT sub.s, sm.code, sub.x AS c
       |         FROM sm JOIN sub USING (vec_id)),
       |d0 AS (SELECT sub.vec_id, sub.s, seed.code, ${d2("x", "c")} AS d2
       |       FROM sub JOIN seed ON sub.s = seed.s),
       |a0 AS (SELECT vec_id, s, code FROM
       |        (SELECT *, row_number() OVER (PARTITION BY vec_id, s
       |           ORDER BY d2 ASC, code ASC) AS rn FROM d0)
       |       WHERE rn = 1),
       |mu AS (SELECT a0.s, a0.code, i AS dim,
       |         round(CAST(sum(CAST(round(x[i], 9) AS DECIMAL(38,9)))
       |           AS DOUBLE) / count(*), 9) AS m
       |       FROM a0 JOIN sub USING (vec_id, s)
       |         CROSS JOIN (SELECT unnest(range(1, 33)) AS i)
       |       GROUP BY 1, 2, 3),
       |cbm AS (SELECT s, code, list(m ORDER BY dim) AS c
       |        FROM mu GROUP BY 1, 2),
       |cb AS (SELECT seed.s, seed.code, coalesce(cbm.c, seed.c) AS c
       |       FROM seed LEFT JOIN cbm
       |         ON seed.s = cbm.s AND seed.code = cbm.code),
       |d1 AS (SELECT sub.vec_id, sub.s, cb.code, ${d2("x", "c")} AS d2
       |       FROM sub JOIN cb ON sub.s = cb.s),
       |codes AS (SELECT vec_id, s, code FROM
       |        (SELECT *, row_number() OVER (PARTITION BY vec_id, s
       |           ORDER BY d2 ASC, code ASC) AS rn FROM d1)
       |       WHERE rn = 1)""".stripMargin
  }

  /** Plain PQ: subspace slices come straight off the raw vectors. */
  private def pqOracleCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings WHERE embedding IS NOT NULL),
       |${pqSubCtes(
        """SELECT vec_id, s,
          |          list_transform(range(1, 33), i -> v[s*32 + i]) AS x
          |        FROM e CROSS JOIN (SELECT unnest(range(0, 2)) AS s)"""
          .stripMargin)}""".stripMargin

  /** Residual IVFADC with nCentroids = 1 and one Lloyd round: with a
    * single cell, the residual centroid is the seed-independent RAW
    * per-dim decimal mean of the corpus (labelCentroids' arithmetic —
    * the unit-normalized spherical centroid is only the cell SELECTOR,
    * and with one cell selection is trivial), so the whole chain
    * (mean → residual → codebook on residuals → base + LUT scoring)
    * replays in SQL. */
  private def pqResidualCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings WHERE embedding IS NOT NULL),
       |cen AS (SELECT i AS dim,
       |          CAST(sum(CAST(round(v[i], 9) AS DECIMAL(27,9)))
       |            AS DOUBLE) / count(*) AS c
       |        FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
       |        GROUP BY 1),
       |cl AS (SELECT list(c ORDER BY dim) AS c FROM cen),
       |r AS (SELECT vec_id,
       |        list_transform(range(1, 65), i -> v[i] - c[i]) AS rv
       |      FROM e CROSS JOIN cl),
       |${pqSubCtes(
        """SELECT vec_id, s,
          |          list_transform(range(1, 33), i -> rv[s*32 + i]) AS x
          |        FROM r CROSS JOIN (SELECT unnest(range(0, 2)) AS s)"""
          .stripMargin)}""".stripMargin

  /** Residual-ADC ranking: score = dot(q, centroid) + Σ_s lut. */
  private def pqResidualAdcOracle: String =
    s"""WITH $pqResidualCtes,
       |lut AS (SELECT p.vec_id AS query_id, cb.s, cb.code,
       |          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |            list_transform(range(1, 33),
       |              i -> p.v[cb.s*32 + i] * cb.c[i])),
       |            (a, b) -> a + b) AS dot
       |        FROM (SELECT vec_id, v FROM e WHERE vec_id < 5) p
       |          CROSS JOIN cb),
       |base AS (SELECT p.vec_id AS query_id,
       |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |             list_transform(range(1, 65), i -> p.v[i] * c[i])),
       |             (a, b) -> a + b) AS b
       |         FROM (SELECT vec_id, v FROM e WHERE vec_id < 5) p
       |           CROSS JOIN cl),
       |cs AS (SELECT vec_id,
       |         max(CASE WHEN s = 0 THEN code END) AS c0,
       |         max(CASE WHEN s = 1 THEN code END) AS c1
       |       FROM codes GROUP BY 1),
       |sc AS (SELECT l0.query_id, cs.vec_id,
       |         base.b + l0.dot + l1.dot AS score
       |       FROM cs
       |       JOIN lut l0 ON l0.s = 0 AND l0.code = cs.c0
       |       JOIN lut l1 ON l1.s = 1 AND l1.code = cs.c1
       |         AND l1.query_id = l0.query_id
       |       JOIN base ON base.query_id = l0.query_id
       |       WHERE cs.vec_id != l0.query_id),
       |ranked AS (SELECT query_id, vec_id, score,
       |            row_number() OVER (PARTITION BY query_id
       |              ORDER BY score DESC, vec_id ASC) AS rank
       |           FROM sc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
       |  round(score, 6) AS score
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  private def pqCodesOracle: String =
    s"""WITH $pqOracleCtes
       |SELECT vec_id, CAST(s AS INTEGER) AS subspace,
       |  CAST(code AS INTEGER) AS code
       |FROM codes ORDER BY vec_id, subspace""".stripMargin

  private def pqErrorOracle: String =
    s"""WITH $pqOracleCtes,
       |cs AS (SELECT vec_id,
       |         max(CASE WHEN s = 0 THEN code END) AS c0,
       |         max(CASE WHEN s = 1 THEN code END) AS c1
       |       FROM codes GROUP BY 1),
       |rec AS (SELECT cs.vec_id, cb0.c || cb1.c AS r
       |        FROM cs
       |        JOIN cb cb0 ON cb0.s = 0 AND cb0.code = cs.c0
       |        JOIN cb cb1 ON cb1.s = 1 AND cb1.code = cs.c1),
       |er AS (SELECT e.vec_id,
       |         round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, 65),
       |             i -> (v[i] - r[i]) * (v[i] - r[i]))),
       |           (a, b) -> a + b)), 9) AS err
       |       FROM e JOIN rec USING (vec_id))
       |SELECT CAST(count(*) AS BIGINT) AS n,
       |  round(CAST(sum(CAST(err AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6)
       |    AS mean_err,
       |  round(max(err), 6) AS max_err
       |FROM er""".stripMargin

  /** ADC scoring CTEs shared by the plain-ADC oracle and the recall
    * audit: per-probe LUT, pivoted codes, base-0 score per candidate. */
  private val pqAdcScoreCtes: String =
    """lut AS (SELECT p.vec_id AS query_id, cb.s, cb.code,
      |          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |            list_transform(range(1, 33),
      |              i -> p.v[cb.s*32 + i] * cb.c[i])),
      |            (a, b) -> a + b) AS dot
      |        FROM (SELECT vec_id, v FROM e WHERE vec_id < 5) p
      |          CROSS JOIN cb),
      |cs AS (SELECT vec_id,
      |         max(CASE WHEN s = 0 THEN code END) AS c0,
      |         max(CASE WHEN s = 1 THEN code END) AS c1
      |       FROM codes GROUP BY 1),
      |sc AS (SELECT l0.query_id, cs.vec_id,
      |         CAST(0.0 AS DOUBLE) + l0.dot + l1.dot AS score
      |       FROM cs
      |       JOIN lut l0 ON l0.s = 0 AND l0.code = cs.c0
      |       JOIN lut l1 ON l1.s = 1 AND l1.code = cs.c1
      |         AND l1.query_id = l0.query_id
      |       WHERE cs.vec_id != l0.query_id)""".stripMargin

  private def pqAdcOracle: String =
    s"""WITH $pqOracleCtes,
       |$pqAdcScoreCtes,
       |ranked AS (SELECT query_id, vec_id, score,
       |            row_number() OVER (PARTITION BY query_id
       |              ORDER BY score DESC, vec_id ASC) AS rank
       |           FROM sc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
       |  round(score, 6) AS score
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Recall audit oracle: exact brute-force top-10 vs ADC top-10, both
    * fully replayed in SQL, intersected per query. */
  private def pqRecallOracle: String =
    s"""WITH $pqOracleCtes,
       |$pqAdcScoreCtes,
       |pr0 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |ex AS (SELECT query_id, vec_id FROM (
       |  SELECT pr0.query_id, e.vec_id,
       |    row_number() OVER (PARTITION BY pr0.query_id
       |      ORDER BY list_cosine_similarity(pr0.qv, e.v) DESC,
       |               e.vec_id ASC) AS rank
       |  FROM e CROSS JOIN pr0 WHERE e.vec_id != pr0.query_id)
       |  WHERE rank <= 10),
       |ap AS (SELECT query_id, vec_id FROM (
       |  SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, vec_id ASC) AS rank FROM sc)
       |  WHERE rank <= 10),
       |h AS (SELECT ex.query_id, count(*) AS n_hits
       |      FROM ex JOIN ap USING (query_id, vec_id) GROUP BY 1)
       |SELECT q.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10, 6)
       |    AS recall_at_10
       |FROM (SELECT DISTINCT query_id FROM pr0) q LEFT JOIN h USING (query_id)
       |ORDER BY query_id""".stripMargin
}
