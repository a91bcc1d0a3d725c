package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale-shape probe: measures the dedup / ANN / BM25 / sessionize gate
 * families at the base SF and at an N×-replicated SF in the same JVM,
 * and prints one JSON line with per-query seconds and the scaled/base
 * ratio — the empirical check behind SCALING.md's linearity claims
 * (a family whose ratio grows much past the replication factor has a
 * hidden super-linear term).
 *
 * The replica construction keeps each copy STATISTICALLY INDEPENDENT
 * instead of exactly duplicated, because naive duplication changes the
 * workload, not just its size: 10 identical copies of every document
 * multiply shingle frequencies by 10 and thus the inverted-index join's
 * Σf² bound by 100 — a super-linear blow-up the OPERATOR would be
 * wrongly blamed for. Per replica k:
 *  - documents: ids shift by k·10⁸; text goes through a Caesar-k letter
 *    rotation (lengths, whitespace, and per-replica frequency profiles
 *    preserved; shingle/term sets disjoint across replicas — each
 *    replica behaves like an independent corpus of the same shape);
 *  - embeddings: ids shift; vectors unchanged (ANN cost scales with
 *    candidate density, which 10× data legitimately multiplies);
 *  - events: event ids and user ids shift (disjoint users → session
 *    and window counts scale linearly, as real growth would).
 * Replica 0 is the identity, so the base corpus is a subset.
 */
object ScaleProbe {

  /** Gate families the probe times (all read only documents /
    * embeddings / events, which is what the scaled dir carries). */
  val probeQueries: Seq[String] = Seq(
    // dedup family
    "q_dedup_exact", "q_dedup_normalized", "q_dedup_ngram_capped",
    "q_dedup_minhash_exact", "q_dedup_minhash_estimate",
    "q_dedup_semantic", "q_lines_dedup", "q_dedup_components",
    // ANN family
    "q_ann_bruteforce", "q_ann_lsh", "q_ann_ivf",
    // search + sessionize families
    "q_search_bm25", "q_sessionize", "q_session_stats",
    // fuzzy join (supplier), window nav (events), batching (documents)
    "q_fuzzy_pairs", "q_window_nav", "q_pack_buckets",
    // round-5 additions: SFT assembly, preference pairs, BPE induction,
    // hamming/pHash dedup + clustering, centroid assignment
    "q_sft_render", "q_pref_pairs", "q_pref_topk", "q_vocab_merges",
    "q_dedup_phash", "q_dedup_phash_clusters", "q_cluster_assign",
    // (q_olap_unpivot reads lineitem, which the scaled dir doesn't
    // carry — its cost is pure output size anyway)
    "q_dedup_index", "q_json_screen", "q_sft_roundtrip",
    // round-5 late additions: native Simpson diversity, restructured
    // exact-substring dedup, DSIR weights + Gumbel sample, KN bigram
    // LM, CCNet perplexity tiers, PMI collocations, BPE encode,
    // tokenizer fertility, within-doc line dedup
    "q_text_diversity", "q_dedup_substring", "q_dsir_weights",
    "q_dsir_sample", "q_lm_kn", "q_lm_kn3", "q_lm_moore_lewis", "q_lm_buckets", "q_pmi_collocations",
    "q_vocab_encode", "q_vocab_fertility", "q_lines_dedup_within",
    // relational families over replicated TPC-H tables (10× sf0.1
    // lineitem ≈ 6M rows ≈ sf1): scan+partial-agg, equi-join,
    // grouping-set expansion, range-frame window, salted skew join
    "q_group", "q_join_inner", "q_olap_rollup", "q_olap_cube",
    "q_rolling_window", "q_skew_join", "q_asof_join", "q_interval_join",
    // round-5 late additions: mergeable partial-agg maintenance,
    // iterative link-graph PageRank, Morton-key projection
    "q_incr_agg", "q_incr_retract", "q_graph_pagerank", "q_layout_zorder",
    // round-5 audit additions: retrieval-quality metrics (top-k-bounded
    // joins), rater-agreement reductions, native deflate quality signal
    "q_retrieval_eval", "q_rater_kappa", "q_rater_fleiss",
    "q_quality_compress", "q_sample_topmass", "q_sample_topk_heap", "q_embed_pool",
    "q_graph_labelprop", "q_rater_alpha", "q_sample_hard_negatives",
    "q_ann_mutual", "q_graph_communities", "q_graph_modularity",
    "q_profile_gini", "q_dedup_report",
    // round-6 additions: O(log d) star-contraction CC, the
    // escalating path-graph gate, adversarial literal coercion,
    // ExactSubstr removal (same digest shuffle as the audit + interval
    // merge + reconstruction fold), temperature mixture weights
    "q_dedup_components_star", "q_dedup_components_chain",
    "q_filter_coerce", "q_dedup_substring_remove", "q_mix_temperature",
    // round-6 batch A: sorted-neighborhood blocking, Fellegi-Sunter
    // linkage (blocked pair scoring + rate estimation), join-key audit
    "q_dedup_sortedneigh", "q_linkage_score", "q_linkage_rates",
    "q_profile_key_overlap",
    // round-6 batch B: packing-efficiency report, corpus PII report,
    // column entropy, functional-dependency audit
    "q_pack_stats", "q_pii_report", "q_profile_entropy", "q_profile_fd",
    // round-6 batch C: n-gram novelty (shingle-keyed anti-membership),
    // weighted sampling (global top-k), curriculum ordering, temporal
    // split (day-count cumulative + broadcast cutoff)
    "q_text_novelty", "q_sample_weighted", "q_sample_curriculum",
    "q_split_temporal",
    // round-6 batch D: conversation audit (one lag window + agg),
    // dataset card (two 1-row reduces), MAD flags (two quantile passes)
    "q_sft_audit", "q_report_card", "q_anomaly_mad",
    // round-6 batch E: cluster-size histogram, cross-source dup matrix,
    // vocab coverage curve, Zipf fit
    "q_dedup_cluster_sizes", "q_dedup_cross_source", "q_vocab_coverage",
    "q_text_zipf",
    // round-6 batch F: stride interleave, per-stratum weighted draw,
    // classification report
    "q_mix_interleave", "q_sample_weighted_perkey", "q_eval_classification",
    "q_embed_separation",
    // round-6 batch G: generation eval — (id, token)/(id, gram)-keyed
    // explode-reduce joins, maxN rounds for BLEU
    "q_eval_token_f1", "q_eval_bleu",
    // round-6 batch H: threshold-sweep curve (|thresholds|× bounded
    // pair-table expansion), curation-funnel attribution (one scan +
    // |rules|-row window)
    "q_dedup_sweep", "q_quality_funnel",
    // round-6 batch I: margin mining — two k·N-row average reductions
    // over already-ranked top-k tables + a ≤k-row per-source window
    "q_mine_margin",
    // round-6 batch J: ROUGE family — rouge2 is an (id, gram)-keyed
    // explode-reduce; rougeL is a PURE PROJECTION (native LCS DP)
    "q_eval_rouge2", "q_eval_rouge_l", "q_eval_rouge_l_twin",
    // round-6 batch K: Jaro-Winkler-scored blocked linkage (window
    // lead-pairs + native comparator, no extra shuffle)
    "q_linkage_jw",
    // round-6 batch L: chrF2 — char-gram explode-reduce, ≈bytes/order
    "q_eval_chrf",
    // round-6 batch M: T5 span corruption — one (id, pos) explode, two
    // per-doc windows, ordered re-assembly
    "q_augment_span", "q_augment_dropout", "q_augment_mask",
    // round-6 batch N: greedy k-center coreset — k nested 1-row argmax
    // subplans, broadcast-only; corpus passes scale with k
    "q_sample_kcenter",
    // round-6 batch O: JL sign projection (pure literal-matrix
    // arithmetic) and per-dim embedding stats (d-cell reduce)
    "q_embed_jl", "q_embed_dimstats",
    // round-6 batch P: PSI drift (domain-sized reduce), SCD2 history
    // (two windows over one key shuffle)
    "q_drift_psi", "q_snapshot_scd2",
    // round-6 batch Q: outlink extraction (one regexp_extract_all scan)
    "q_web_links",
    // round-6 batch R: NCD twins — three deflate passes per pair, pure
    // projection over a 1-shift self-join
    "q_text_ncd_twins",
    // round-6 batch S: classifier audits — score-cell reduce + bounded
    // window (AUC), nBins-cell reduce (calibration)
    "q_eval_auc", "q_eval_calibration",
    // round-6 batch T: 2-objective skyline — x-cell reduce + broadcast
    // front membership join
    "q_sample_pareto", "q_sample_pareto_wide",
    // round-6 batch U: mutual information — one |A|·|B|-cell reduce
    "q_profile_mi",
    // round-6 batch V: k-fold assignment — pure projection
    "q_split_kfold",
    // round-6 batch W: log-odds distinctive terms — one term-cell
    // reduce + TakeOrdered top-k
    "q_keywords_logodds",
    // round-6 batch X: degree-oriented triangle census (O(m^1.5)
    // wedge join), fixed-round k-core peel (monotone shrinking edge
    // list), one-pass d²-cell covariance, power-iteration PCA (matrix
    // only — corpus read once), literal-component projection removal
    "q_graph_triangles", "q_graph_kcore", "q_embed_covariance",
    "q_embed_pca", "q_embed_remove_top", "q_embed_standardize",
    // round-6 batch Y: survivorship merge — one cluster-keyed
    // struct-max aggregate + per-mode-field (cluster, value) counts;
    // Markov transitions — one user-keyed window + |types|² cells
    "q_linkage_golden", "q_event_transitions",
    // k-NN label-noise audit: quadratic part bounded in the ANN tier,
    // audit is a (query,label) count + per-query window
    "q_label_knn_noise",
    // round-7 batch: linkage skew guard (hot-block anti-join before the
    // pair join), in-plan EM (pattern-histogram reduce, ≤2^k rows),
    // block audit (count-only — no pair forms), persisted-IVF
    // round-trip (save + dynamically pruned reload search), and the
    // stream-legal IVF candidate plan + per-batch top-k
    "q_linkage_capped", "q_linkage_em", "q_linkage_blocks",
    "q_ann_ivf_persisted", "q_ann_ivf_stream",
    // product quantization: in-plan L2 Lloyd fit + codegen'd encode
    // (one scan), ADC search at O(m) per candidate pair
    "q_embed_pq_codes", "q_embed_pq_error", "q_ann_pq", "q_ann_ivfpq",
    "q_ann_ivfpq_residual", "q_ann_ivf_append",
    // WER: pure-projection rolling-DP expression (O(|h|*|r|) per row)
    "q_eval_wer", "q_eval_wer_corpus",
    // training-order shuffle: one shard-keyed shuffle + per-shard sort
    "q_split_order", "q_ann_pq_recall", "q_linkage_em2",
    "q_ann_pq_persisted",
    // arena fits: one corpus reduce to pair counts, then items-sized
    // MM rounds (BT) / one item-keyed reduce + tiny window (board)
    "q_pref_bt", "q_pref_bt_ties", "q_pref_leaderboard",
    // scaled-z layout audit: min/max scalar reduce + codegen'd
    // interleave + bucket-sized reduce
    "q_layout_audit",
    // in-plan classifier: one feature-matrix materialization + two
    // corpus shuffles per GD round; score is one scan + broadcast join
    "q_classifier_fit", "q_classifier_score", "q_classifier_group",
    "q_classifier_group_score",
    // round-7 batch: KS (per-side value-count reduce + domain window),
    // chi-square (cell reduce + window marginals), Spearman (two
    // value-cell rank tables joined back — no corpus sort),
    // readability (pure projection), RBO (two TakeOrdered top-k)
    "q_drift_ks", "q_profile_chisq", "q_profile_spearman",
    "q_text_readability", "q_eval_rbo",
    // A/B tests + CUPED (one wide conditional-aggregate pass each)
    // and the cell-table θ-join Kendall τ-b (domain-bounded)
    "q_ab_proportion", "q_ab_welch", "q_ab_cuped", "q_profile_kendall",
    // HITS: same cached-edge iterative discipline as pagerank
    "q_graph_hits",
    // simplified silhouette: broadcast centroids, one bounded
    // struct-array collapse per vector
    "q_cluster_silhouette",
    // quantile treatment effect (value-cell rank quantiles per arm)
    // and HHI concentration (one domain reduce)
    "q_ab_quantiles", "q_profile_concentration",
    // stratified CMH + SRM (strata-cell reduces)
    "q_ab_cmh", "q_ab_srm",
    // survival: one subject reduce, then windows over the aggregated
    // (group, t) time grid — bounded by distinct durations, not users
    "q_survival_km", "q_survival_logrank", "q_survival_logrank_wide",
    // attribution: one user-keyed shuffle (windows inside), then a
    // map-side-combined channel rollup
    "q_attribution_linear", "q_attribution_decay",
    // ts diagnostics: one daily reduce, then calendar-bounded grid
    // work (ACF lag join, EWMA grid×grid closed form)
    "q_ts_acf", "q_ts_ewma",
    // RFM: one customer reduce, then distinct-value bucket windows +
    // three value equi-joins back
    "q_rfm",
    // round-7 graph batch: PPR (pagerank discipline + one broadcast
    // seed flag), link prediction (capped wedge self-join — the Σdeg²
    // guard under test), BFS (frontier-table min-relaxations),
    // assortativity (degree join + one moment reduce)
    "q_graph_ppr", "q_graph_linkpred", "q_graph_bfs",
    "q_graph_assortativity",
    // co-occurrence recommender: capped basket self-join + per-item
    // top-k window over the bounded pair table
    "q_item_similarity",
    // l-diversity (one map-side-combined class reduce), OHLC (one
    // day-keyed shuffle), MASE (daily reduce + grid lags), sequential
    // + proportion A/B stats (one conditional-aggregate pass each)
    "q_pii_ldiv", "q_ts_ohlc", "q_ts_mase", "q_ab_msprt",
    "q_ab_mde_prop",
    // round-7 tail: growth accounting (one user-keyed lag/lead window
    // over distinct user-days), trending (decayed (key, day) cells),
    // WoW movers (cell lag window), PSI timeline (days × values grid),
    // mojibake audit (pure regexp projection)
    "q_growth_accounting", "q_ts_trending", "q_ts_growth",
    "q_drift_timeline", "q_clean_mojibake",
    // Markov removal: one journey shuffle into a checkpointed |S|²
    // transition table; K absorption rounds are corpus-independent
    "q_attribution_markov",
    // multiple-testing battery: grouped conditional-aggregate sweeps
    // (z and Welch) + the |tests|-row BH windows
    "q_ab_z_grouped", "q_ab_welch_grouped", "q_ab_fdr",
    // weighted PageRank: pageRank's iteration shape + one |E|-keyed
    // share aggregate at setup
    "q_graph_pagerank_weighted",
    // round-8 batch: multi-pass blocked linkage (two blocked joins +
    // one (id,id)-keyed pair dedup), per-pass block audit (counts only),
    // per-user-day growth flags (one groupByKey fold over distinct
    // user-days), uplift/Qini (score-cell reduce + ≤B-row windows),
    // Brier decomposition (nBins-cell reduce)
    "q_linkage_multi", "q_linkage_multi_blocks", "q_growth_flags",
    "q_ab_uplift", "q_eval_brier",
    // seeded-DP counts (|types| cells) and LOCF (grid-bounded window)
    "q_pii_dp", "q_ts_locf",
    // rolling correlation (grid-bounded moments) and split-conformal
    // calibration (score-cell cumulative walk)
    "q_ts_rollcorr", "q_eval_conformal",
    // windowed PSI vs static reference (windows × domain cells)
    "q_drift_windowed",
    // DoReMi update (|domains| rows end-to-end after one lang reduce)
    "q_mix_doremi",
    // round-9: rank-sum tests — 6-dp value-cell reduce + the bounded
    // cell-table rank walk; the dense variant feeds a full-precision
    // continuous metric so the cell bound (not fixture ties) does the
    // work
    "q_ab_mannwhitney", "q_ab_mannwhitney_dense", "q_ab_mannwhitney_wide",
    // round-9: stream-legal twins — end-day-keyed rolling correlation
    // (grid×window cell replication, no window function) and the
    // stream-static conformal aggregate
    "q_ts_rollcorr_stream", "q_eval_conformal_stream")

  /** Per-replica letter substitution: an AFFINE cipher i → a·i + b
    * (mod 26) with a = the (k/26 mod 12)-th unit of Z26 and b = k mod
    * 26. For k < 26 this is exactly the original Caesar rotation
    * (a = 1), so 10×-replica builds are bit-identical to earlier
    * rounds; beyond 26 replicas the affine family keeps every
    * replica's letter permutation DISTINCT up to k = 311 (two distinct
    * affine maps agree on at most 2 letters), so shingle/term/name
    * sets stay disjoint across replicas at 100× the way rotation alone
    * guarantees only to 26×. */
  private val affineUnits = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
  private def caesar(c: org.apache.spark.sql.Column, k: Int) = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val a = affineUnits((k / 26) % affineUnits.length)
    val b = k % 26
    def img(s: String) = (0 until 26).map(i => s((a * i + b) % 26)).mkString
    translate(c, lower + upper, img(lower) + img(upper))
  }

  /** Per-replica digit substitution, same construction over Z10
    * (a ∈ units of Z10 chosen by k/10, b = k mod 10): distinct digit
    * permutations for k < 40, and the letter cipher disambiguates
    * beyond that. k < 10 reproduces the original digit rotation. */
  private val digitUnits = Seq(1, 3, 7, 9)
  private def digitCipher(c: org.apache.spark.sql.Column, k: Int) = {
    val a = digitUnits((k / 10) % digitUnits.length)
    val b = k % 10
    val img = (0 until 10).map(i => ('0' + (a * i + b) % 10).toChar).mkString
    translate(c, "0123456789", img)
  }

  /** Builds `scaledDir` with `rep` shifted replicas of documents,
    * embeddings, and events from `srcDir` (skipped when present). */
  def buildScaled(spark: SparkSession, srcDir: String, scaledDir: String,
                  rep: Int): Unit = {
    val src = graft.sources.Ingest.loadDir(spark, srcDir,
      Seq("documents", "embeddings", "events", "supplier",
        "lineitem", "orders", "customer", "part"))

    def replicate(name: String, f: (DataFrame, Int) => DataFrame): Unit = {
      if (new java.io.File(s"$scaledDir/$name.parquet").exists()) return
      val base = src(name)
      val all = (0 until rep).map(k => f(base, k)).reduce(_ unionByName _)
      all.repartition(32).write.mode("overwrite")
        .parquet(s"$scaledDir/$name.parquet")
      System.err.println(s"[scale] wrote $name x$rep")
    }
    replicate("documents", (d, k) => d
      .withColumn("doc_id", col("doc_id") + lit(k * 100000000L))
      .withColumn("text", caesar(col("text"), k)))
    replicate("embeddings", (d, k) => d
      .withColumn("vec_id", col("vec_id") + lit(k * 100000000L)))
    replicate("events", (d, k) => d
      .withColumn("event_id", col("event_id") + lit(k * 100000000L))
      .withColumn("user_id", col("user_id") + lit(k * 10000000L)))
    // supplier (fuzzy-join probe): per-replica digit AND letter
    // substitution — names keep their length and within-replica edit
    // structure (bijective char maps), while cross-replica name pairs
    // differ in nearly every position (edit distance way past the
    // bound) for ANY replication factor: the digit cipher alone is
    // distinct to 40 replicas and the letter cipher to 312, and they
    // only repeat together past lcm — naive duplication would instead
    // create rep² exact-match pairs, a workload artifact.
    replicate("supplier", (d, k) => d
      .withColumn("s_suppkey", col("s_suppkey") + lit(k * 100000000L))
      .withColumn("s_name", caesar(digitCipher(col("s_name"), k), k)))
    // TPC-H relational tables: join keys shift IN LOCKSTEP so every
    // join stays within its replica — 10× fact rows meet 10× dimension
    // rows through 10× disjoint key ranges, exactly like real growth.
    // Non-key columns stay as-is: group-by cardinality (returnflag,
    // priority, ...) is domain-bounded, so aggregate outputs stay
    // fixed-size while scans and partial aggs grow linearly.
    replicate("lineitem", (d, k) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(k * 100000000L))
      .withColumn("l_partkey", col("l_partkey") + lit(k * 10000000L))
      .withColumn("l_suppkey", col("l_suppkey") + lit(k * 100000000L)))
    replicate("orders", (d, k) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(k * 100000000L))
      .withColumn("o_custkey", col("o_custkey") + lit(k * 10000000L)))
    replicate("customer", (d, k) => d
      .withColumn("c_custkey", col("c_custkey") + lit(k * 10000000L)))
    // part (sorted-neighborhood / linkage probes): names Caesar-rotate
    // and brand digits rotate per replica, so blocking keys (name
    // prefix, brand) are DISJOINT across replicas — 10× data means 10×
    // blocks of the same size, like a catalog gaining new brands, not
    // 10×-bigger blocks (which would 100× the blocked pair count — a
    // replication artifact the linkage operator would be blamed for).
    // brand digits cipher per replica; past 10 replicas the two-digit
    // brand space can't stay disjoint under any char bijection, so a
    // per-decade suffix keeps the equality-blocking domains disjoint
    // by construction (k < 10 is suffix-free — bit-identical to the
    // earlier 10× builds)
    replicate("part", (d, k) => d
      .withColumn("p_partkey", col("p_partkey") + lit(k * 10000000L))
      .withColumn("p_name", caesar(col("p_name"), k))
      .withColumn("p_brand",
        if (k < 10) digitCipher(col("p_brand"), k)
        else concat(digitCipher(col("p_brand"), k), lit("-" + k / 10))))
  }

  private def time(spark: SparkSession, name: String, dir: String): Double = {
    System.gc()
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val scaledDir = if (args.length > 1) args(1) else "/tmp/graft_sf_scaled"
    val rep = if (args.length > 2) args(2).toInt else 10
    // optional trailing query names: probe only that subset (incremental
    // refreshes after adding a family, instead of the full sweep)
    val subset = args.drop(3).toSet
    val spark = GraftSession.builder(appName = "graft-scale-probe")

    buildScaled(spark, srcDir, scaledDir, rep)

    // warmup compiles the codegen paths; not reported
    time(spark, "q_dedup_exact", srcDir)

    val rows = probeQueries
      .filter(n => subset.isEmpty || subset(n))
      .map { n =>
      val base = math.min(time(spark, n, srcDir), time(spark, n, srcDir))
      val scaled = math.min(time(spark, n, scaledDir), time(spark, n, scaledDir))
      System.err.println(f"[scale] $n base=$base%.2fs scaled=$scaled%.2fs " +
        f"ratio=${scaled / base}%.1f")
      (n, base, scaled)
    }
    val qs = rows.map { case (n, b, s) =>
      f""""$n":{"base":$b%.3f,"scaled":$s%.3f,"ratio":${s / b}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","replication":$rep,"queries":$qs}""")
    Console.out.flush()
    spark.stop()
  }
}
