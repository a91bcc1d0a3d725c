package graft.operators

import graft.plans.Checkpoints.LineageOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Link-graph scoring for corpus curation. Web-scale pipelines rank
 * domains by link authority (the CommonCrawl-derived corpora filter on
 * exactly this signal) — a PageRank over the host graph, joined back to
 * documents as a quality feature next to the content-local Gopher/C4
 * scores.
 *
 * Spark-native iterative shape (no graph library): ranks live in a
 * `(node, rank)` DataFrame; one iteration = join ranks to the edge list
 * on src, emit per-edge contributions, re-aggregate by dst. The edge
 * list — the big input — is partitioned ONCE on src and cached; each
 * iteration shuffles only the (node, rank) table, which is |V|-sized,
 * not |E|-sized. Lineage is truncated with localCheckpoint every
 * `checkpointEvery` rounds (same discipline as
 * [[Dedup.connectedComponents]]) so the plan stays flat at high
 * iteration counts.
 *
 * Result lifetime: every iterative entry point here returns an
 * eager-localCheckpoint frame whose block-manager storage has
 * CALLER-OWNED lifetime. A session running many heavy queries
 * back-to-back should free each consumed result with
 * [[graft.plans.Checkpoints.release]] (after which the frame is dead)
 * — Bench/ProfileQ/Verify do; see Checkpoints' scaladoc for the sf1
 * measurement that motivated the contract.
 *
 * Determinism across engines (the repo's float policy): per-edge
 * contributions round to 9 dp and sum as DECIMAL(22,9) — an
 * order-independent reduction, immune to partitioning — then the rank
 * update `(1-d) + d·sum` rounds back to 9 dp. Published ranks round to
 * 6 dp. The teleport term is written `1 - damping` (never a folded
 * literal) so the oracle can reproduce the exact double.
 *
 * Semantics: per-node teleport of `1-d` (ranks sum to ≈|V|, the classic
 * "authority score" normalization, as in Spark's own examples); mass of
 * dangling nodes (no out-edges) is dropped rather than redistributed —
 * the standard simplification, stated here because it changes absolute
 * values (not relative order) versus the stochastic-matrix formulation.
 */
object Graph {

  /** Iterate PageRank over `edges(srcCol, dstCol)`; returns
    * `(node, rank)` for every node appearing on either side. Duplicate
    * edges are counted once (dedup'd up front). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, damping: Double = 0.85,
               checkpointEvery: Int = 5): DataFrame = {
    val (ranks, caches) = pageRankRaw(edges, srcCol, dstCol, iterations,
      damping, checkpointEvery)
    // materialize before releasing the cached inputs the lineage reads
    val out = ranks.truncateLineage(eager = true)
    caches.foreach(_.unpersist())
    out
  }

  /** [[pageRank]] minus the final checkpoint/unpersist: the live plan
    * (for PlanAuditSpec's cached-edge-reuse assert) plus the cached
    * frames the caller must unpersist. */
  private[graft] def pageRankRaw(edges: DataFrame, srcCol: String, dstCol: String,
                                 iterations: Int, damping: Double = 0.85,
                                 checkpointEvery: Int = 5): (DataFrame, Seq[DataFrame]) = {
    require(iterations >= 1, "at least one iteration")
    // pinned exchange width for the per-iteration cell aggregates
    // (cluster-adaptive: executors x cores, not a local constant)
    val width = edges.sparkSession.sparkContext.defaultParallelism
    // repartition BEFORE the dedup: HashPartitioning(src) satisfies the
    // (src, dst) clustering the distinct-aggregate requires, so it
    // reuses the exchange — ONE |E| shuffle where r9 paid two
    // (distinct by (src,dst), then repartition by src)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .cache()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("__deg"))
    // edge list pre-joined with out-degree: reused every iteration
    val withDeg = e.join(outdeg, "src").cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().cache()

    val teleport = lit(1.0) - lit(damping)
    var ranks = nodes.withColumn("rank", lit(1.0))
    for (i <- 1 to iterations) {
      // contributions UNION a zero cell per node, ONE aggregate: every
      // node appears in the groupBy, so the rank update needs no
      // nodes-side left join — one fewer join/exchange per iteration,
      // and the zero cells are exact decimals (sum + 0 is exact), so
      // the result is bit-identical to the old join+coalesce form
      val cells = withDeg
        .join(ranks, withDeg("src") === ranks("node"))
        .select(col("dst").as("node"),
          round(col("rank") / col("__deg"), 9)
            .cast("decimal(22,9)").as("__c"))
      // explicit width: the cell exchange is byte-small (|E| id+decimal
      // rows) but CPU-heavy (per-row decimal rounding) — AQE's
      // size-based coalescing would run it on ONE task (observed: a
      // single task pinned in BigDecimal.valueOf for the whole
      // iteration while 31 cores idled); the pinned width keeps the
      // decimal work parallel and the groupBy reuses the exchange
      ranks = cells
        .unionByName(nodes.select(col("node"),
          lit(0).cast("decimal(22,9)").as("__c")))
        .repartition(width, col("node"))
        .groupBy("node").agg(sum(col("__c")).as("__s"))
        .select(col("node"),
          round(teleport + lit(damping) *
            col("__s").cast("double"), 9).as("rank"))
      if (i % checkpointEvery == 0 && i < iterations)
        ranks = ranks.truncateLineage(eager = true)
      graft.plans.IterationAudit.record("graph.pageRank", ranks)
    }
    (ranks.select(col("node"), round(col("rank"), 6).as("rank")),
      Seq(withDeg, e, nodes))
  }

  /**
   * Weighted PageRank: [[pageRank]] where a node splits its rank over
   * out-edges PROPORTIONALLY TO EDGE WEIGHT instead of uniformly —
   * the natural fit when edges carry counts (co-purchase multiplicity,
   * link frequency, interaction volume): a 100×-repeated relationship
   * should carry 100× the authority of a one-off. Duplicate (src, dst)
   * rows ADD their weights (so a raw multiplicity stream needs no
   * pre-aggregation); non-positive/NULL-weight edges drop.
   *
   * Scale shape: identical to [[pageRank]] — the weight share
   * `w/Σw(src)` is computed ONCE (one extra |E|-keyed aggregate at
   * setup), snapped to 9 dp, and cached with the edge list, so every
   * iteration still shuffles only the |V|-row rank table.
   *
   * Determinism: weights aggregate as DECIMAL(28,9) (order-free);
   * each share is one double division snapped to 9 dp; iterations
   * follow the [[pageRank]] 9-dp/DECIMAL/6-dp discipline, so the
   * oracle unrolls the same rounds.
   */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iterations: Int,
                       damping: Double = 0.85,
                       checkpointEvery: Int = 5): DataFrame = {
    require(iterations >= 1, "at least one iteration")
    // pinned exchange width for the per-iteration cell aggregates
    // (cluster-adaptive: executors x cores, not a local constant)
    val width = edges.sparkSession.sparkContext.defaultParallelism
    val dec = "decimal(28,9)"
    // ONE src-keyed exchange up front: HashPartitioning(src) satisfies
    // the (src, dst) clustering of the weight aggregate, the src
    // clustering of the share-denominator aggregate AND the join, so
    // everything below reuses it — r9 paid three exchanges here
    // ((src,dst) groupBy, src groupBy side, final repartition)
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"),
        round(col(weightCol).cast("double"), 9).as("__w"))
      .where(col("__w") > 0.0)
      .repartition(col("src"))
      .groupBy("src", "dst").agg(sum(col("__w").cast(dec)).as("__w"))
    val wsum = e.groupBy("src").agg(sum(col("__w")).as("__ws"))
    val withShare = e.join(wsum, "src")
      .select(col("src"), col("dst"),
        round(col("__w").cast("double") / col("__ws").cast("double"), 9)
          .as("__share"))
      .cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().cache()

    val teleport = lit(1.0) - lit(damping)
    var ranks = nodes.withColumn("rank", lit(1.0))
    for (i <- 1 to iterations) {
      // union-of-zero-cells instead of a nodes left join (see pageRankRaw)
      val cells = withShare
        .join(ranks, withShare("src") === ranks("node"))
        .select(col("dst").as("node"),
          round(col("rank") * col("__share"), 9)
            .cast("decimal(22,9)").as("__c"))
      // explicit width: see pageRankRaw (AQE would serialize the
      // decimal-heavy cell aggregate onto one task)
      ranks = cells
        .unionByName(nodes.select(col("node"),
          lit(0).cast("decimal(22,9)").as("__c")))
        .repartition(width, col("node"))
        .groupBy("node").agg(sum(col("__c")).as("__s"))
        .select(col("node"),
          round(teleport + lit(damping) *
            col("__s").cast("double"), 9).as("rank"))
      if (i % checkpointEvery == 0 && i < iterations)
        ranks = ranks.truncateLineage(eager = true)
      graft.plans.IterationAudit.record("graph.pageRankWeighted", ranks)
    }
    val out = ranks
      .select(col("node"),
        round(col("rank").cast("decimal(22,9)"), 6).cast("double")
          .as("rank"))
      .truncateLineage(eager = true)
    Seq(withShare, nodes).foreach(_.unpersist())
    out
  }

  /**
   * Personalized PageRank: [[pageRank]] with the teleport mass landing
   * ONLY on the seed set — `r(v) = (1−d)·[v ∈ seeds] + d·Σ
   * contributions` from r₀ = the seed indicator. Scores measure
   * proximity TO the seeds through the link structure: "similar items"
   * from a seed product, account-takeover blast radius from a
   * compromised node, related-entity expansion from a watchlist.
   * Returns `(node, rank)` for every node (non-seed-reachable nodes
   * decay to 0).
   *
   * Scale shape: identical to [[pageRank]] (cached deduped edges
   * pre-joined with out-degree, |V|-sized rank table the only
   * per-iteration shuffle, localCheckpoint lineage truncation) plus
   * one |seeds|-sized left-join flag — broadcast when the seed set is
   * small, which is the operator's whole premise.
   *
   * Determinism: the seed flag is exact; the per-iteration 9-dp /
   * DECIMAL / 6-dp discipline matches [[pageRank]] so the oracle
   * unrolls the same rounds.
   */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           seedCol: String, iterations: Int,
                           damping: Double = 0.85,
                           checkpointEvery: Int = 5): DataFrame = {
    require(iterations >= 1, "at least one iteration")
    // pinned exchange width for the per-iteration cell aggregates
    // (cluster-adaptive: executors x cores, not a local constant)
    val width = edges.sparkSession.sparkContext.defaultParallelism
    // repartition BEFORE the dedup: HashPartitioning(src) satisfies the
    // (src, dst) clustering the distinct-aggregate requires, so it
    // reuses the exchange — ONE |E| shuffle where r9 paid two
    // (distinct by (src,dst), then repartition by src)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .cache()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("__deg"))
    val withDeg = e.join(outdeg, "src").cache()
    val seedFlags = seeds.select(col(seedCol).as("node"))
      .distinct().withColumn("__seed", lit(1.0))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .join(broadcast(seedFlags), Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(0.0)).as("__seed"))
      .cache()

    val teleport = lit(1.0) - lit(damping)
    var ranks = nodes.withColumn("rank", col("__seed")).drop("__seed")
    for (i <- 1 to iterations) {
      // union-of-zero-cells instead of a nodes left join (see
      // pageRankRaw); the per-node seed flag rides on the zero cell
      // (exactly one per node) and `max` recovers it past the nulls on
      // the contribution cells — still one aggregate, no join
      val cells = withDeg
        .join(ranks, withDeg("src") === ranks("node"))
        .select(col("dst").as("node"),
          round(col("rank") / col("__deg"), 9)
            .cast("decimal(22,9)").as("__c"),
          lit(null).cast("double").as("__sd"))
      // explicit width: see pageRankRaw (AQE would serialize the
      // decimal-heavy cell aggregate onto one task)
      ranks = cells
        .unionByName(nodes.select(col("node"),
          lit(0).cast("decimal(22,9)").as("__c"),
          col("__seed").as("__sd")))
        .repartition(width, col("node"))
        .groupBy("node").agg(sum(col("__c")).as("__s"),
          max(col("__sd")).as("__seedv"))
        .select(col("node"),
          round(teleport * col("__seedv") + lit(damping) *
            col("__s").cast("double"), 9).as("rank"))
      if (i % checkpointEvery == 0 && i < iterations)
        ranks = ranks.truncateLineage(eager = true)
      graft.plans.IterationAudit.record("graph.personalizedPageRank", ranks)
    }
    // exact-decimal 6-dp publish: ranks are exact 9-dp decimals, where
    // string-based vs binary double rounding can split on half-ties
    val out = ranks.select(col("node"),
        round(col("rank").cast("decimal(22,9)"), 6).cast("double")
          .as("rank"))
      .truncateLineage(eager = true)
    Seq(withDeg, e, nodes).foreach(_.unpersist())
    out
  }

  /**
   * HITS hubs and authorities (Kleinberg 1999) over a DIRECTED edge
   * list — the second classic link-quality signal next to [[pageRank]]:
   * an authority is pointed to by good hubs, a hub points to good
   * authorities (for corpus curation: directory/aggregator pages vs
   * canonical content pages; in a bipartite click/citation graph the
   * two sides score independently, which PageRank's single score
   * can't express). Returns `(node, hub, authority)` for every node on
   * either side.
   *
   * Per iteration: `a(v) = Σ_{u→v} h(u)` then `h(u) = Σ_{u→v} a(v)`,
   * each half-step normalized by its MAX (not L2 — max keeps the
   * normalization a single exact decimal and the division one double
   * op, where an L2 norm would stack a sum of squares and a sqrt into
   * the round-off chain). Nodes with no in-edges get authority 0, no
   * out-edges hub 0.
   *
   * Scale shape: the deduped edge list is cached TWICE, partitioned by
   * src (the hub→authority join) and by dst (the authority→hub join) —
   * each iteration then shuffles only the |V|-sized score table, never
   * the edges (same discipline as [[pageRank]], including the
   * localCheckpoint lineage truncation). The max is a 1-row reduce
   * broadcast back.
   *
   * Determinism: contributions are 9-dp scores summed as
   * DECIMAL(22,9) (order-free); each normalized score is one double
   * division rounded to 9 dp; published scores round to 6 dp — the
   * oracle unrolls the same rounds.
   */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int, checkpointEvery: Int = 5): DataFrame = {
    require(iterations >= 1, "at least one iteration")
    // pinned exchange width for the per-iteration cell aggregates
    // (cluster-adaptive: executors x cores, not a local constant)
    val width = edges.sparkSession.sparkContext.defaultParallelism
    // repartition before the dedup (exchange reuse — see pageRankRaw)
    val eSrc = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .cache()
    val eDst = eSrc.repartition(col("dst")).cache()
    val nodes = eSrc.select(col("src").as("node"))
      .union(eSrc.select(col("dst").as("node")))
      .distinct().cache()
    def halfStep(scores: DataFrame, scoreCol: String, joinSide: String,
                 outSide: String, e: DataFrame, out: String): DataFrame = {
      // the raw sums feed BOTH the max subplan and the normalize join —
      // left live, every half-step would re-execute the whole history
      // twice (2^steps blowup); the checkpoint makes the |V|-row frame
      // a leaf both consumers read (same discipline as the arena fit)
      val raw = e.join(scores, e(joinSide) === scores("node"))
        .select(col(outSide).as("node"),
          col(scoreCol).cast("decimal(22,9)").as("__c"))
        // zero cell per node: the aggregate covers EVERY node, so the
        // normalize step needs no nodes left join (sum + exact-decimal
        // 0 is exact; the max normalizer is unchanged because all raw
        // sums are >= 0 and at least one is > 0 on a nonempty graph)
        .unionByName(nodes.select(col("node"),
          lit(0).cast("decimal(22,9)").as("__c")))
        // explicit width: see pageRankRaw (AQE would serialize the
        // decimal-heavy cell aggregate onto one task)
        .repartition(width, col("node"))
        .groupBy("node").agg(sum(col("__c")).as("__s"))
        .truncateLineage(eager = true)
      val mx = raw.agg(max(col("__s")).as("__m"))
      raw.crossJoin(mx)
        .select(col("node"),
          round(col("__s").cast("double") /
            col("__m").cast("double"), 9).as(out))
    }
    var hubs = nodes.withColumn("h", lit(1.0))
    var auths: DataFrame = null
    for (i <- 1 to iterations) {
      auths = halfStep(hubs, "h", "src", "dst", eSrc, "a")
      hubs = halfStep(auths, "a", "dst", "src", eDst, "h")
      if (i % checkpointEvery == 0 && i < iterations) {
        auths = auths.truncateLineage(eager = true)
        hubs = hubs.truncateLineage(eager = true)
      }
      graft.plans.IterationAudit.record("graph.hits", hubs)
    }
    val out = hubs
      .join(auths.withColumnRenamed("a", "__auth"), Seq("node"))
      .select(col("node"), round(col("h"), 6).as("hub"),
        round(col("__auth"), 6).as("authority"))
      .truncateLineage(eager = true)
    Seq(eSrc, eDst, nodes).foreach(_.unpersist())
    out
  }

  /**
   * Synchronous label propagation over an UNDIRECTED graph — spread a
   * small audited seed set's labels (keep/drop, license class, topic)
   * across a similarity/link graph: near-duplicates of junk are junk,
   * mirrors of a licensed source share its license. Seeds are CLAMPED
   * (never relabeled); every other node recomputes each round as the
   * MAJORITY label among its labeled neighbors from the previous round
   * (fresh each round — the classic synchronous update), ties breaking
   * to the smallest label so the result is a pure function of the
   * graph. Nodes that no label has reached stay NULL.
   *
   * Determinism: majority counts are exact integers and the argmax is a
   * (count desc, label asc) window rank — no floats anywhere, so the
   * k-round result is oracle-expressible by unrolling k rounds in SQL.
   *
   * Scale shape: the symmetrized edge list — the big input — is
   * partitioned once and cached; each round shuffles (node, label)
   * pairs bounded by the LABELED frontier's edge incidence, plus a
   * per-node window over ≤|labels| candidate rows. Same iterative
   * discipline as [[pageRank]] (localCheckpoint lineage truncation).
   */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       seeds: DataFrame, nodeCol: String, labelCol: String,
                       iterations: Int,
                       checkpointEvery: Int = 5): DataFrame = {
    require(iterations >= 1, "at least one iteration")
    val fwd = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val und = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .repartition(col("a"))
      .cache()
    val nodes = und.select(col("a").as("node")).distinct()
      .union(seeds.select(col(nodeCol).as("node"))).distinct().cache()
    val seed = seeds.select(col(nodeCol).as("node"),
      col(labelCol).cast("string").as("__seed"))

    var labels = nodes.join(seed, Seq("node"), "left")
      .select(col("node"), col("__seed").as("label"))
    for (i <- 1 to iterations) {
      val votes = und
        .join(labels.filter(col("label").isNotNull), und("a") === labels("node"))
        .select(col("b").as("node"), col("label"))
        .groupBy("node", "label").agg(count(lit(1)).as("__n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("node")
        .orderBy(col("__n").desc, col("label").asc)
      val majority = votes
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("node").as("__mn"), col("label").as("__ml"))
      labels = nodes.join(seed, Seq("node"), "left")
        .join(majority, col("node") === col("__mn"), "left")
        .select(col("node"), coalesce(col("__seed"), col("__ml")).as("label"))
      if (i % checkpointEvery == 0 && i < iterations)
        labels = labels.truncateLineage(eager = true)
      graft.plans.IterationAudit.record("graph.labelPropagation", labels)
    }
    val out = labels.truncateLineage(eager = true)
    und.unpersist(); nodes.unpersist()
    out
  }

  /**
   * Label-propagation COMMUNITY detection (Raghavan et al. 2007) — the
   * unseeded, unclamped sibling of [[labelPropagation]]: every node
   * starts as its own community and each round adopts the majority
   * community among its neighbors (ties → smallest label in STRING
   * order; a node that receives no votes keeps its current community).
   * The node universe is the symmetrized edge list with self-loops
   * dropped, so isolated and self-loop-only nodes do NOT appear in the
   * output — callers wanting them must union singletons back in. Where
   * [[Dedup.connectedComponents]] merges through ANY path — one
   * boilerplate hub fuses unrelated near-dup clusters — LPA communities
   * resist hub bridges: a bridge node's vote is outweighed by each
   * cluster's internal majority. Run a FIXED iteration count: the
   * synchronous update is deterministic but need not converge (classic
   * LPA oscillation), and a fixed-round result is exactly what the
   * unrolled SQL oracle can reproduce.
   *
   * Scale shape: identical to [[labelPropagation]] — cached symmetrized
   * edges, per-round (node, label) vote shuffle + per-node window.
   */
  def communities(edges: DataFrame, srcCol: String, dstCol: String,
                  iterations: Int,
                  checkpointEvery: Int = 5): DataFrame = {
    require(iterations >= 1, "at least one iteration")
    val fwd = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val und = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .repartition(col("a"))
      .cache()
    val nodes = und.select(col("a").as("node")).distinct().cache()

    var labels = nodes.withColumn("label", col("node").cast("string"))
    for (i <- 1 to iterations) {
      val votes = und
        .join(labels, und("a") === labels("node"))
        .select(col("b").as("node"), col("label"))
        .groupBy("node", "label").agg(count(lit(1)).as("__n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("node")
        .orderBy(col("__n").desc, col("label").asc)
      val majority = votes
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("node").as("__mn"), col("label").as("__ml"))
      labels = nodes.join(majority, col("node") === col("__mn"), "left")
        .select(col("node"),
          coalesce(col("__ml"), col("node").cast("string")).as("label"))
      if (i % checkpointEvery == 0 && i < iterations)
        labels = labels.truncateLineage(eager = true)
      graft.plans.IterationAudit.record("graph.communities", labels)
    }
    val out = labels.select(col("node"), col("label").as("community"))
      .truncateLineage(eager = true)
    und.unpersist(); nodes.unpersist()
    out
  }

  /**
   * Per-node triangle counts + local clustering coefficient over an
   * undirected graph — the classic link-graph quality audit (spam
   * farms and auto-generated link rings score near-zero clustering;
   * organic community structure scores high), and the standard
   * companion signal to [[pageRank]] when ranking crawl hosts.
   *
   * Spark-native DEGREE-ORIENTED enumeration (the "compact-forward"
   * scheme of Latapy 2008): symmetrize + dedup, compute degrees, then
   * orient every undirected edge from its lower-(degree, id) endpoint
   * to the higher one. Each triangle survives exactly once as an
   * oriented wedge a→b→c closed by a→c, so counting needs one
   * self-join of the oriented list (wedge build) plus one semi-join
   * against it (wedge close). Orientation is THE scale lever: oriented
   * out-degree is O(√m) on any graph, so the wedge join materializes
   * O(m^1.5) rows worst-case instead of the Σdeg² blowup a naive
   * neighbor self-join pays on hub nodes (a 10⁶-degree crawl hub would
   * otherwise emit 10¹² wedges alone). All shuffles are id-pair rows.
   *
   * Output: `(node, degree, triangles, clustering)` for every node of
   * the symmetrized self-loop-free graph, clustering =
   * 2T/(deg·(deg−1)) rounded to 6 dp (0.0 when deg < 2). Exact
   * integer counts — oracle-expressible as the same oriented join in
   * SQL with no float concerns.
   */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val fwd = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    // each stage below feeds SEVERAL downstream subtrees (deg is read
    // three times, orient three times) — eager checkpoints make every
    // corpus-sized shuffle happen exactly once instead of per-reference
    val und = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .truncateLineage(eager = true)
    val deg = und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
      .truncateLineage(eager = true)
    // orient: keep (a,b) iff (deg(a), a) < (deg(b), b) — each
    // undirected edge exactly once, out-degree bounded by O(sqrt(m))
    val da = deg.select(col("node").as("a"), col("deg").as("__da"))
    val db = deg.select(col("node").as("b"), col("deg").as("__db"))
    val orient = und.join(da, "a").join(db, "b")
      .filter(col("__da") < col("__db") ||
        (col("__da") === col("__db") && col("a") < col("b")))
      .select(col("a"), col("b"))
      .truncateLineage(eager = true)
    val wedge = orient
      .join(orient.select(col("a").as("b"), col("b").as("c")), "b")
      .select(col("a"), col("b"), col("c"))
    val tri = wedge.join(
        orient.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    val credits = tri.select(col("a").as("node"))
      .union(tri.select(col("b").as("node")))
      .union(tri.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__t"))
    deg.join(credits, Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("__t"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("__t"), lit(0L)).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /**
   * k-core membership by iterative peeling — repeatedly delete nodes
   * of degree < k until none remain; the surviving induced subgraph is
   * the k-core. Corpus use: a crawl-graph k-core isolates the densely
   * cross-linked "establishment" hosts (link-ring spam dies at low k;
   * long-tail leaf pages peel immediately), the standard structural
   * prior next to [[pageRank]]'s spectral one.
   *
   * Runs a FIXED `rounds` count of synchronous peels (matching the
   * unrolled-SQL oracle discipline of [[communities]]); callers wanting
   * the exact fixpoint pick rounds ≥ the peel depth — the returned
   * `converged` flag (true iff the last round deleted nothing) says
   * whether the cut is exact. Each round recomputes degrees over the
   * surviving edge list: one (node)-keyed count + one semi-join, both
   * shrinking monotonically; lineage is truncated every round via
   * localCheckpoint, so the plan stays flat at high peel depths.
   *
   * Output: `(node, core_degree, converged)` — the survivors of the
   * final round with their degree within the surviving subgraph.
   */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    val fwd = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    var und = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .truncateLineage(eager = true)
    var prev = und
    for (_ <- 1 to rounds) {
      val keep = und.groupBy(col("a").as("node"))
        .agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k)
        .select(col("node"))
      prev = und
      und = und
        .join(keep.select(col("node").as("a")), "a")
        .join(keep.select(col("node").as("b")), "b")
        .select(col("a"), col("b"))
        .truncateLineage(eager = true)
      graft.plans.IterationAudit.record("graph.kCore", und)
    }
    // convergence = the LAST round deleted nothing; both frames are
    // checkpointed, so this is two cheap counts, not per-round actions
    val converged = prev.count() == und.count()
    und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("core_degree"))
      .withColumn("converged", lit(converged))
  }

  /**
   * Newman modularity of a community assignment — the standard "is this
   * clustering better than chance?" score for [[communities]] /
   * [[Dedup.connectedComponents]] output:
   * Q = Σ_c [ m_c/m − (d_c/2m)² ] over communities, with m total
   * undirected edges, m_c intra-community edges, d_c the community's
   * degree sum. Q ≈ 0 for random structure, → 1 for strong modular
   * structure, negative when the assignment is worse than chance.
   * Nodes missing from `assign` count as their own singleton (no
   * intra-edges credited). One row: `(n_edges, n_communities,
   * modularity)`.
   *
   * Determinism: m, m_c, d_c are exact integers; each community's term
   * is a fixed-shape double expression rounded to 9 dp and accumulated
   * as DECIMAL (order-independent), final Q rounded to 6 dp. Scale
   * shape: two joins of the edge list against the (node, community)
   * table, then per-community integer aggregates — |communities|-sized
   * from there.
   */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 assign: DataFrame, nodeCol: String,
                 commCol: String): DataFrame = {
    val fwd = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val und = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
    val ca = assign.select(col(nodeCol).as("a"),
      col(commCol).cast("string").as("__ca"))
    val cb = assign.select(col(nodeCol).as("b"),
      col(commCol).cast("string").as("__cb"))
    val tagged = und.join(ca, Seq("a"), "left").join(cb, Seq("b"), "left")
      .select(
        coalesce(col("__ca"), concat(lit("__self:"), col("a").cast("string")))
          .as("ca"),
        coalesce(col("__cb"), concat(lit("__self:"), col("b").cast("string")))
          .as("cb"))
    // per-community: degree sum = directed rows with a∈c; intra = both ends
    val perC = tagged.groupBy("ca").agg(
      count(lit(1)).as("dc"),
      sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("intra2"))
    val mRow = und.agg((count(lit(1)) / lit(2)).cast("long").as("m"))
    val term = round(
      col("intra2").cast("double") / (lit(2.0) * col("m").cast("double")) -
        (col("dc").cast("double") / (lit(2.0) * col("m").cast("double"))) *
          (col("dc").cast("double") / (lit(2.0) * col("m").cast("double"))), 9)
      .cast("decimal(28,9)")
    perC.crossJoin(broadcast(mRow))
      .agg(max(col("m")).as("n_edges"),
        count(lit(1)).as("n_communities"),
        round(sum(term).cast("double"), 6).as("modularity"))
  }

  /**
   * Neighborhood link prediction: for every NON-adjacent distance-2
   * pair `(node_a, node_b)` of the symmetrized simple graph, the three
   * classic scores — `common_neighbors` |Γ(a)∩Γ(b)|, `jaccard`
   * |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)|, and `adamic_adar`
   * Σ_{v∈Γ(a)∩Γ(b)} 1/ln(deg v) (Adamic & Adar 2003) — the standard
   * "which edge appears next" ranking for recommendation and
   * record-graph completion. Each pair is emitted once with
   * `node_a < node_b`.
   *
   * Scale shape: candidates come from ONE wedge self-join through the
   * shared neighbor (id-only rows), so pair volume is Σ_v C(deg v, 2)
   * — quadratic in HUB degree, the same failure mode as
   * [[graft.operators.Linkage]] blocks. `maxCenterDegree` is the skew
   * guard ([[graft.operators.Dedup]] `maxShingleFreq` discipline):
   * wedges through centers above the cap are skipped, bounding the
   * join at cap·|E| rows while endpoint degrees (and so jaccard)
   * stay exact. A 10⁶-degree crawl hub contributes C(10⁶,2) ≈ 5·10¹¹
   * pairs — at 100 TB the cap is not optional; pick it at the degree
   * where "shared neighbor" stops being evidence (everyone shares the
   * mega-hub).
   *
   * Determinism: counts are exact integers; each 1/ln(deg) term snaps
   * to 9 dp and sums as DECIMAL(28,9) (order-independent), publishing
   * at 6 dp via exact decimal rounding; a wedge center has deg ≥ 2 so
   * ln is never 0. Jaccard's denominator ≥ common_neighbors ≥ 1.
   */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     maxCenterDegree: Option[Long] = None): DataFrame = {
    val fwd = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val und = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .truncateLineage(eager = true)
    val deg = und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
      .truncateLineage(eager = true)
    // deg-1 nodes can't center a wedge — dropping them up front also
    // keeps ln's argument >= 2 (ANSI division: 1/ln(1) would throw)
    val centerDeg = maxCenterDegree match {
      case Some(cap) =>
        require(cap >= 2, s"maxCenterDegree must be >= 2, got $cap")
        deg.filter(col("deg") >= 2 && col("deg") <= cap)
      case None => deg.filter(col("deg") >= 2)
    }
    // half-open star per admitted center, scored once: the wedge join
    // carries the center's 1/ln(deg) term instead of re-joining deg
    // onto the (much larger) wedge output
    val star = und.join(
        centerDeg.select(col("node").as("a"),
          round(lit(1.0) / log(col("deg").cast("double")), 9).as("__aa")),
        "a")
      .select(col("a").as("__c"), col("b"), col("__aa"))
      .truncateLineage(eager = true)
    val wedges = star.select(col("__c"), col("b").as("node_a"), col("__aa"))
      .join(star.select(col("__c"), col("b").as("node_b")), "__c")
      .filter(col("node_a") < col("node_b"))
    val scored = wedges.groupBy("node_a", "node_b").agg(
      count(lit(1)).as("common_neighbors"),
      sum(col("__aa").cast("decimal(28,9)")).as("__aas"))
    val nonAdj = scored.join(
      und.select(col("a").as("node_a"), col("b").as("node_b")),
      Seq("node_a", "node_b"), "left_anti")
    nonAdj
      .join(deg.select(col("node").as("node_a"), col("deg").as("__da")),
        "node_a")
      .join(deg.select(col("node").as("node_b"), col("deg").as("__db")),
        "node_b")
      .select(col("node_a"), col("node_b"), col("common_neighbors"),
        round(col("common_neighbors").cast("double") /
          (col("__da") + col("__db") - col("common_neighbors"))
            .cast("double"), 6).as("jaccard"),
        round(col("__aas"), 6).cast("double").as("adamic_adar"))
  }

  /**
   * Unweighted BFS hop distance from a seed set over the symmetrized
   * simple graph — blast-radius / coverage queries ("everything within
   * k hops of the flagged accounts"). Runs a FIXED `rounds` count of
   * synchronous relaxations (dist ← min(dist, min over neighbors + 1)),
   * so the result is exact for all nodes within `rounds` hops and a
   * pure function of the input — the oracle unrolls the same rounds.
   * Returns `(node, dist)` for REACHED graph nodes only; seeds absent
   * from the graph are ignored (same contract as
   * [[personalizedPageRank]]).
   *
   * Scale shape: edges symmetrize once (eager checkpoint, reused every
   * round); a round shuffles only the reached-frontier dist table
   * (≤ |V| id+long rows) through one join + one min-aggregate, and
   * lineage truncates per round. Distances are exact integers — no
   * float policy needed.
   */
  def bfsDistance(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, seedCol: String,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val fwd = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val und = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .truncateLineage(eager = true)
    val nodes = und.select(col("a").as("node")).distinct()
    var dist = nodes.join(
        seeds.select(col(seedCol).as("node")).distinct(),
        Seq("node"), "left_semi")
      .withColumn("dist", lit(0L))
      .truncateLineage(eager = true)
    for (_ <- 1 to rounds) {
      val relaxed = und
        .join(dist.select(col("node").as("a"), col("dist")), "a")
        .select(col("b").as("node"), (col("dist") + 1L).as("dist"))
      dist = dist.union(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .truncateLineage(eager = true)
      graft.plans.IterationAudit.record("graph.bfsDistance", dist)
    }
    dist
  }

  /**
   * Degree assortativity (Newman 2002): the Pearson correlation of
   * endpoint degrees over the symmetrized edge list, each undirected
   * edge contributing both orientations (which makes the x and y
   * marginals identical — the standard estimator). Positive = hubs
   * link to hubs (social graphs), negative = hubs link to leaves (the
   * web, star-spam) — a one-row structural fingerprint next to
   * [[triangles]]' clustering. Output `(n_edges, assortativity)`;
   * NULL when the degree sequence is constant (zero variance).
   *
   * One degree join + one moment reduce over the directed edge rows;
   * degree products snap to exact integer sums in DECIMAL, means round
   * to 9 dp, publish 6 dp.
   */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val fwd = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val und = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .truncateLineage(eager = true)
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
    val both = und
      .join(deg.select(col("node").as("a"), col("deg").as("__x")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("__y")), "b")
    val dec = "decimal(28,0)"
    val m = both.agg(
      count(lit(1)).as("__m"),
      sum(col("__x").cast(dec)).as("__sx"),
      sum((col("__x") * col("__x")).cast(dec)).as("__sxx"),
      sum((col("__x") * col("__y")).cast(dec)).as("__sxy"))
    val n = col("__m").cast("double")
    val mx = round(col("__sx").cast("double") / n, 9)
    val exx = round(col("__sxx").cast("double") / n, 9)
    val exy = round(col("__sxy").cast("double") / n, 9)
    val varx = round(exx - mx * mx, 9)
    m.select((col("__m") / lit(2)).cast("long").as("n_edges"),
      when(col("__m") === 0 || varx <= 0.0, lit(null).cast("double"))
        .otherwise(round(round(exy - mx * mx, 9) / varx, 6))
        .as("assortativity"))
  }
}
