package graft

/**
 * Blanket physical-plan audit over EVERY gate at sf0.001 — the
 * scale-killer tripwires that per-operator specs assert locally, held
 * globally:
 *
 *  - No `CartesianProduct` anywhere. (1-row broadcast stat joins plan as
 *    BroadcastNestedLoopJoin — cheap by construction and allowed; an
 *    actual CartesianProduct means two big sides met without keys.)
 *  - Filter gates push their predicates into the parquet scan;
 *    projection gates prune the scan schema. (Spot-checked on
 *    representative gates — the property that keeps a 100 TB scan from
 *    reading 100 TB.)
 */
class PlanAuditSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("no gate plan contains a CartesianProduct") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try {
        val plan = SparkEntry.runGate(spark, name, dir)(_.queryExecution.executedPlan.toString)
        if (plan.contains("CartesianProduct")) Some(name) else None
      } catch {
        case e: Throwable =>
          Some(s"$name (planning failed: ${String.valueOf(e.getMessage).take(120)})")
      }
    }
    assert(offenders.isEmpty, s"offending gates: ${offenders.mkString(", ")}")
  }

  test("filter predicates reach the parquet scan") {
    val plan = SparkEntry.queries("q_filter_gt")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"), plan)
  }

  test("projections prune the parquet read schema") {
    val plan = SparkEntry.queries("q_select")(spark, dir)
      .queryExecution.executedPlan.toString
    // lineitem has 16 columns; the gate projects a handful — the scan
    // must not read the untouched wide ones
    assert(!plan.contains("l_comment"), plan)
  }

  test("substring dedup: no self-join — one window over the digest shuffle") {
    val plan = SparkEntry.queries("q_dedup_substring")(spark, dir)
      .queryExecution.executedPlan.toString
    // the restructured shape: a windowed count + object agg reuse one
    // (h, h2) exchange; any SortMergeJoin would mean the 3×-lineage
    // self-join formulation crept back
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("rater agreement: the corpus reduces through partial aggregation") {
    // cohenKappa's only corpus-wide pass must be the (a, b)-cell count
    // with a map-side partial (HashAggregate partial → exchange of cell
    // rows, not document rows); everything after runs on the cells.
    val plan = SparkEntry.queries("q_rater_kappa")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("partial count")
      || plan.contains("Partial"), plan)
    assert(!plan.contains("SortMergeJoin"), plan) // cell-table joins broadcast
  }

  test("retrieval eval: gold/results joins broadcast, corpus never re-shuffles wide") {
    // both inputs are top-k-per-query; the metric joins must be
    // broadcast-hash, not a sort-merge over corpus-sized relations
    val plan = SparkEntry.queries("q_retrieval_eval")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("graph: iterations reuse the cached edge frame, never rescan the source") {
    // pageRankRaw exposes the live pre-checkpoint plan (the public API
    // eagerly checkpoints + unpersists, which hides the shape)
    val edges = df("src BIGINT, dst BIGINT",
      (1L to 50L).map(i => org.apache.spark.sql.Row(i, i % 10)))
    val (ranks, caches) = graft.operators.Graph.pageRankRaw(
      edges, "src", "dst", iterations = 2)
    try {
      val plan = ranks.queryExecution.executedPlan.toString
      // every per-iteration contribution join must read the cached
      // degree-annotated edge list — 2 iterations ⇒ ≥2 cache scans
      val cacheScans = plan.linesIterator.count(_.contains("InMemoryTableScan"))
      assert(cacheScans >= 2, s"expected >=2 InMemoryTableScan, got $cacheScans:\n$plan")
    } finally caches.foreach(_.unpersist())
  }

  test("fuzzy join: the gram-index join reads only the rarest-prefix rows") {
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val plan0 = SparkEntry.queries("q_fuzzy_pairs")(spark, dir)
      .queryExecution.executedPlan
    val plan = plan0 match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    // the candidate self-join on (gram, occ) — AQE/stats may plan it as
    // any join flavor at this SF; the scale property is its INPUT shape
    val gramJoins: Seq[(SparkPlan, SparkPlan)] = plan.collect {
      case j: SortMergeJoinExec
        if j.leftKeys.exists(_.toString.contains("gram")) => (j.left, j.right)
      case j: BroadcastHashJoinExec
        if j.leftKeys.exists(_.toString.contains("gram")) => (j.left, j.right)
      case j: ShuffledHashJoinExec
        if j.leftKeys.exists(_.toString.contains("gram")) => (j.left, j.right)
    }
    assert(gramJoins.nonEmpty, "no gram-keyed candidate join found:\n" + plan)
    // Ed-Join discipline: the CANDIDATE self-join (pfx ⋈ pfx) must have
    // BOTH sides prefix-filtered (__rk <= kq+1) before the join — the
    // full gram index never feeds it. (The frequency-count join also
    // keys on gram and legitimately reads the full index — corpus-linear
    // aggregation — so we assert existence of the filtered self-join,
    // not a property of every gram join.)
    val hasFilteredSelfJoin = gramJoins.exists { case (l, r) =>
      Seq(l, r).forall(side => side.collectFirst {
        case f: FilterExec if f.condition.toString.contains("__rk") => f
      }.isDefined)
    }
    assert(hasFilteredSelfJoin,
      "no gram self-join with both sides rarest-prefix-filtered:\n" + plan)
  }

  test("quantize: scale is materialized once, not inlined per element") {
    val plan = SparkEntry.queries("q_embed_quantize")(spark, dir)
      .queryExecution.executedPlan.toString
    // CollapseProject must NOT re-inline the array_max into the
    // per-element encode lambda (that would re-evaluate it d times per
    // vector: the O(d²) regression) — the FLOOR-encode projection line
    // must reference the materialized `scale` attr, not the aggregate
    val encodeLines = plan.linesIterator.filter(_.contains("FLOOR")).toSeq
    assert(encodeLines.nonEmpty && encodeLines.forall(!_.contains("array_max")),
      plan)
  }

  test("column entropy: per-column totals broadcast back, one value shuffle") {
    val plan = SparkEntry.queries("q_profile_entropy")(spark, dir)
      .queryExecution.executedPlan.toString
    // the #columns-row totals join must be a broadcast, not a second
    // shuffle of the (column, value) count table
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("novelty: the reference side carries no broadcast hint") {
    // design contract: at 100 TB the reference inventory is huge, so the
    // operator must NOT pin it with a broadcast hint — size-based
    // planning then broadcasts small references (as it correctly does at
    // this sf) and shuffle-joins large ones. Decontaminate's eval side
    // IS hinted (eval sets are small by definition); novelty's must not be.
    val logical = SparkEntry.queries("q_text_novelty")(spark, dir)
      .queryExecution.analyzed.toString
    assert(!logical.contains("ResolvedHint"), logical)
  }

  test("curriculum: stage windows are bucketed, never a whole-stage sort") {
    val plan = SparkEntry.queries("q_sample_curriculum")(spark, dir)
      .queryExecution.executedPlan.toString
    // every Window's partition spec must include the md5-prefix bucket —
    // a Window partitioned on stage alone would serialize n/stages rows
    // through one task
    val rowNumberWindows = plan.linesIterator
      .filter(l => l.contains("Window") && l.contains("row_number")).toSeq
    assert(rowNumberWindows.nonEmpty, plan)
    assert(rowNumberWindows.forall(_.contains("__b")), plan)
  }

  test("weighted sample: global top-k plans as TakeOrderedAndProject") {
    val plan = SparkEntry.queries("q_sample_weighted")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("key overlap: row tables collapse to counts before the single join") {
    val df = SparkEntry.queries("q_profile_key_overlap")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // exactly one full-outer join, fed by aggregates on both sides —
    // row data never meets row data
    assert("FullOuter".r.findAllIn(plan).size == 1, plan)
  }

  test("margin mining: source mean is a window (no join); only the target mean joins") {
    val plan = SparkEntry.queries("q_mine_margin")(spark, dir)
      .queryExecution.executedPlan.toString
    // exactly ONE equi-join in the whole margin pass — the target-side
    // neighborhood mean keyed by the other id space; the source-side
    // mean must ride the existing per-query partitioning as a Window
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(plan).size
    // (brute-force candidate generation upstream contributes its own
    // BroadcastNestedLoopJoins; count only equi-joins)
    assert(joins == 1, s"$joins equi-joins\n$plan")
  }

  test("pareto front: the membership join broadcasts the staircase, corpus unshuffled") {
    val plan = SparkEntry.queries("q_sample_pareto")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("rougeL twin: the LCS metric is a pure projection — only the output sort exchanges") {
    val plan = SparkEntry.queries("q_eval_rouge_l_twin")(spark, dir)
      .queryExecution.executedPlan.toString
    // the gate's orderBy adds one rangepartitioning; the metric itself
    // must add NO hash exchange (no shuffle, no join, no aggregation)
    assert(!plan.contains("hashpartitioning"), plan)
  }

  test("JL projection: pure projection — no hash exchange, no md5 in the plan") {
    val plan = SparkEntry.queries("q_embed_jl")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"), plan)
    // the sign matrix is a baked literal, not per-row hashing
    assert(!plan.toLowerCase.contains("md5"), plan)
  }

  test("readability: pure projection — only the output sort exchanges") {
    val plan = SparkEntry.queries("q_text_readability")(spark, dir)
      .queryExecution.executedPlan.toString
    // split/regexp_extract_all/aggregate are all codegen'd built-ins in
    // one projection; a hash exchange would mean a join or agg crept in
    assert(!plan.contains("hashpartitioning"), plan)
  }

  test("spearman: ranks come from value-cell tables, never a corpus-global sort") {
    val qe = SparkEntry.queries("q_profile_spearman")(spark, dir)
      .queryExecution
    val plan = qe.executedPlan.toString
    // each rank table partially aggregates the corpus to value counts
    // BEFORE its ordered window; the corpus itself is never range-
    // partitioned (a per-row rank() OVER (ORDER BY x) would show up as
    // rangepartitioning over the scan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("AUC: the rank walk runs on the score-cell table, after partial aggregation") {
    val plan = SparkEntry.queries("q_eval_auc")(spark, dir)
      .queryExecution.executedPlan.toString
    // corpus reduces via partial_count/partial_sum before any Window
    assert(plan.contains("partial_count") || plan.contains("partial count")
      || plan.contains("HashAggregate"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("covariance: one corpus pass — d-row marginals broadcast back, no wide join") {
    val plan = SparkEntry.queries("q_embed_covariance")(spark, dir)
      .queryExecution.executedPlan.toString
    // the explode pairs dims inside the scan and the corpus shuffles
    // only as d²-keyed partial-aggregate cells; the per-dim marginal
    // sums (d rows) join back as broadcasts — never a shuffled join
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("Generate explode") || plan.contains("Generate posexplode"), plan)
  }

  test("remove-top projection: no shuffle — the component is a baked literal") {
    val plan = SparkEntry.queries("q_embed_remove_top")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("standardize: d-cell stats come back as a 1-row broadcast; no sort-merge join") {
    val plan = SparkEntry.queries("q_embed_standardize")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("persisted IVF: a probe batch prunes the cell-partitioned scan, not a full rescan") {
    // the gate itself saves + reloads the index; its search plan must
    // carry a partition filter on __cell (dynamic pruning from the
    // probe-cells join) over the partitioned parquet — the layout IS
    // the inverted file, so an unpruned scan would defeat it
    val plan = SparkEntry.queries("q_ann_ivf_persisted")(spark, dir)
      .queryExecution.executedPlan.toString
    val lower = plan.toLowerCase
    assert(lower.contains("dynamicpruning"), plan)
  }

  test("triangles: every join is on id keys; the corpus explode stays upstream") {
    val plan = SparkEntry.queries("q_graph_triangles")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("z-layout audit: the events scan is pruned to the layout columns") {
    // scaledZValue needs user_id/event_id only; the wide columns
    // (props, event_type) must not survive into either scan (the stats
    // reduce or the keyed pass)
    val plan = SparkEntry.queries("q_layout_audit")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("props"), plan)
    assert(!plan.contains("event_type"), plan)
  }

  test("arena fit: iteration internals are checkpoint leaves, final join broadcasts") {
    // bradleyTerry's returned plan must be flat: the MM loop ran behind
    // localCheckpoints (items-sized), so the visible plan is one
    // broadcast join of two checkpointed leaves — no residual iteration
    // lineage (the O(2^k) DeduplicateRelations hazard)
    val plan = SparkEntry.queries("q_pref_bt")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("Scan ExistingRDD"), plan)
  }
}
