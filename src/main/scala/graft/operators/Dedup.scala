package graft.operators

import graft.plans.Checkpoints.LineageOps
import graft.GraftSession.simhash64
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Document deduplication for training-data pipelines, at four fidelity
 * levels. All are pure DataFrame programs: candidate generation is always
 * a key-partitioned shuffle (never a cross join), so each scales linearly
 * in data size for fixed duplication density.
 *
 *  - exact:        hash-groupBy on normalized content.
 *  - ngramJaccard: EXACT n-gram-set Jaccard via an inverted shingle index
 *                  (recall 1; cost grows with shingle sharing).
 *  - minhash LSH:  MinHash signatures + banding (Broder '97); probabilistic
 *                  recall, constant-size signatures — the 100 TB path.
 *  - simhash:      64-bit SimHash + 16-bit band buckets + Hamming filter.
 */
object Dedup {

  /** Exact dedup: keep the lowest-id row per normalized-content group. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /**
   * Exact dedup, survivors only (deterministic: min id wins).
   *
   * Groups and joins on a 128-bit content digest, NOT the text itself:
   * at 100 TB the shuffle then carries 32-byte keys instead of whole
   * documents (the only full-text movement is the initial scan).
   * md5 collisions across distinct texts are 2^-64-scale — far below
   * hardware error rates.
   */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    digestDedup(df, idCol, md5(col(textCol)))

  /**
   * Duplication report — the headline numbers of a dedup audit, BEFORE
   * deciding to dedup: how many documents, and how much content MASS,
   * is exact-duplicate material. One row: `(n_docs, n_distinct,
   * dup_docs, dup_doc_frac, total_bytes, dup_bytes, dup_byte_frac)`
   * where dup = every row beyond each digest group's first (the rows
   * [[exactDedup]] would remove) and the mass columns weight by UTF-8
   * BYTES (`octet_length` — engine-portable where char counts differ on
   * surrogate pairs, and bytes are what storage/training actually
   * pays). NULL-text rows group together, length 0.
   *
   * Scale shape: one map-side-combining aggregate per digest (32-byte
   * keys + two longs on the wire), then one global reduce — strictly
   * cheaper than running the dedup itself. Fractions are single
   * divisions of exact longs, rounded to 6 dp.
   */
  def duplicationReport(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val perDigest = df
      .withColumn("__digest", md5(col(textCol)))
      .withColumn("__len",
        coalesce(octet_length(col(textCol)).cast("long"), lit(0L)))
      .groupBy("__digest")
      .agg(count(lit(1)).as("__n"), sum(col("__len")).as("__bytes"),
        min(col("__len")).as("__one")) // all group lengths equal; min = each
    perDigest.agg(
        sum(col("__n")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum(col("__n") - lit(1L)).as("dup_docs"),
        sum(col("__bytes")).as("total_bytes"),
        sum(col("__bytes") - col("__one")).as("dup_bytes"))
      .select(col("n_docs"), col("n_distinct"), col("dup_docs"),
        when(col("n_docs") === 0, lit(null).cast("double"))
          .otherwise(round(col("dup_docs").cast("double") /
            col("n_docs").cast("double"), 6)).as("dup_doc_frac"),
        col("total_bytes"), col("dup_bytes"),
        when(col("total_bytes") === 0, lit(null).cast("double"))
          .otherwise(round(col("dup_bytes").cast("double") /
            col("total_bytes").cast("double"), 6)).as("dup_byte_frac"))
  }

  /** Keep the min-id row per digest group. Null-SAFE on the digest (`<=>`):
    * null-text rows form their own group and their min-id representative
    * survives — matching SQL `GROUP BY text` semantics, where a plain
    * equi-semi-join would silently drop every null row. */
  private def digestDedup(df: DataFrame, idCol: String,
                          digest: org.apache.spark.sql.Column): DataFrame = {
    val keyed = df.withColumn("__digest", digest)
    val winners = keyed.groupBy("__digest").agg(min(col(idCol)).as("__keep"))
    keyed.join(winners,
        keyed("__digest") <=> winners("__digest") &&
          keyed(idCol) === winners("__keep"),
        "leftsemi")
      .drop("__digest")
  }

  /**
   * EXACT n-gram Jaccard near-dup pairs via inverted index:
   * doc → distinct hashed shingles → explode → self-join on shingle →
   * co-occurrence count = |A∩B| → Jaccard from set sizes.
   *
   * `maxShingleFreq` optionally drops shingles appearing in more than that
   * many docs (a frequency cap controls worst-case candidate blowup at the
   * cost of recall on boilerplate-heavy corpora; None = exact).
   */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxShingleFreq: Option[Int] = None): DataFrame =
    shingleCoOccurrence(df, idCol, textCol, n, maxShingleFreq)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /**
   * Threshold-sweep audit over an already-scored pair table: for each
   * candidate cutoff, how many pairs survive and how many distinct
   * documents they touch — the dup-rate-vs-threshold curve you read
   * BEFORE committing a dedup threshold (the knee of `n_docs` is where
   * boilerplate chains start fusing into mega-clusters). One row per
   * threshold: `(threshold, n_pairs, n_docs)`.
   *
   * Scale shape: the pair table was already candidate-bounded upstream
   * (banded LSH / capped inverted index); this pass expands it
   * |thresholds|× (a handful) and reduces with map-side combine —
   * thresholds with zero survivors still emit a row. The score compared
   * is the table's ROUNDED score column, so the curve is reproducible
   * from the persisted pair table alone.
   */
  def thresholdSweep(pairs: DataFrame, idACol: String, idBCol: String,
                     scoreCol: String, thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val tDf = pairs.sparkSession.range(1)
      .select(explode(array(thresholds.map(lit): _*)).as("threshold"))
    val joined = tDf.join(pairs, col(scoreCol) >= col("threshold"), "left")
    val nPairs = joined.groupBy("threshold")
      .agg(count(col(scoreCol)).as("n_pairs"))
    val nDocs = tDf.join(pairs, col(scoreCol) >= col("threshold"))
      .select(col("threshold"),
        explode(array(col(idACol), col(idBCol))).as("__id"))
      .distinct()
      .groupBy("threshold").agg(count(lit(1)).as("n_docs"))
    nPairs.join(nDocs, Seq("threshold"), "left")
      .select(col("threshold"), col("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /**
   * Exact dedup on the NORMALIZED content key ([[Clean.dedupKey]]):
   * catches duplicates differing only in case, punctuation, or spacing —
   * the cheap fuzz level between byte-exact and MinHash. Same digest
   * discipline as [[exactDedup]] (32-byte keys shuffle, never bodies).
   * Note symbol-only documents all normalize to the EMPTY key and dedup
   * together by design — they carry no retainable content.
   */
  def exactDedupNormalized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    digestDedup(df, idCol, md5(Clean.dedupKey(col(textCol))))

  /**
   * EXACT n-gram CONTAINMENT pairs: |A∩B| / min(|A|,|B|) — the asymmetric
   * overlap that catches quotation/subset duplication Jaccard misses
   * (a paragraph fully contained in a 100× longer document has Jaccard
   * ≈ 0.01 but containment 1.0). Same inverted-index engine and
   * frequency-cap knob as [[ngramJaccardPairs]].
   */
  def ngramContainmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxShingleFreq: Option[Int] = None): DataFrame =
    shingleCoOccurrence(df, idCol, textCol, n, maxShingleFreq)
      .withColumn("containment",
        col("inter").cast("double") / least(col("sz_a"), col("sz_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment"))

  /** Shared inverted-index core: (id_a, id_b, inter, sz_a, sz_b) for
    * every pair sharing ≥ 1 (under-cap) shingle. */
  private def shingleCoOccurrence(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, maxShingleFreq: Option[Int]): DataFrame = {
    val docs = df.select(col(idCol).as("id"),
      hashedShingleSet(col(textCol), n).as("shingles"))
    val sizes = docs.select(col("id"), size(col("shingles")).as("sz"))
    val inv0 = docs.select(col("id"), explode(col("shingles")).as("sh"))
    // The cap drops OVER-cap shingles via anti-join: the hot set (boiler-
    // plate shingles with freq > cap) is small by construction, so AQE can
    // broadcast it; the under-cap complement is nearly the whole distinct-
    // shingle universe and must never be broadcast (driver OOM at scale).
    val inv = maxShingleFreq match {
      case Some(cap) =>
        val hot = inv0.groupBy("sh").agg(count(lit(1)).as("f"))
          .filter(col("f") > cap).select("sh")
        inv0.join(hot, Seq("sh"), "left_anti")
      case None => inv0
    }
    val co = inv.as("a").join(inv.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    co.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
  }

  /**
   * Winnowing near-dup pairs (Schleimer et al., SIGMOD'03): each document
   * is reduced to its winnowed fingerprint set (sliding-window minima of
   * positional k-gram hashes — ~1/w of the shingle count), then the same
   * inverted-index → co-occurrence → Jaccard pipeline as
   * [[ngramJaccardPairs]] runs over the fingerprints.
   *
   * Sits between SimHash and exact n-gram Jaccard on the cost/fidelity
   * curve: sets shrink ~w×, so the Σ freq² index blowup shrinks ~w²×,
   * while guaranteed-overlap properties of winnowing keep matches of
   * length ≥ w+k-1 represented. Fingerprint Jaccard approximates (and
   * tracks) shingle Jaccard.
   */
  def winnowJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, threshold: Double = 0.5): DataFrame = {
    // sizes ride ALONG the inverted index (sz is per-id constant, legal
    // as a grouping key) instead of a separate subtree: the fingerprint
    // pass — the expensive part — then exists once in the plan, and the
    // self-join's two sides collapse via exchange reuse. The previous
    // separate-sizes formulation re-ran the rolling-hash pass for the
    // size relation and again per size join.
    val inv = df.select(col(idCol).as("id"),
        winnowedFingerprints(col(textCol), k, w).as("fps"))
      .select(col("id"), size(col("fps")).as("sz"), explode(col("fps")).as("fp"))
    inv.as("a").join(inv.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /**
   * MinHash + LSH near-dup pairs (Broder '97): k permutation min-hashes →
   * b bands of r = k/b rows → docs sharing any band bucket are candidates →
   * exact Jaccard on the hashed shingle sets confirms.
   *
   * Permutation i is `min over shingles of xxhash64(i, shingle_hash)` — a
   * fresh independent 64-bit hash per band row, computed in one codegen'd
   * pass over the shingle array.
   *
   * Candidate generation shuffles only (band, bucket) keys; signatures are
   * k longs per doc regardless of document size — the property that lets
   * this run at 100 TB where exact pairwise cannot.
   */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val docs = df.select(col(idCol).as("id"),
        hashedShingleSet(col(textCol), shingleN).as("shingles"))
      .filter(size(col("shingles")) > 0)
    // one-pass native signature (k mins in a single scan of the shingle set)
    val sig = docs.withColumn("sig", minhashSignature(col("shingles"), numHashes))
    // band j's key: hash of its r signature rows (+ j so bands don't collide)
    val banded = sig.select(col("id"), posexplode(
      array((0 until bands).map(j =>
        xxhash64(lit(j) +: (0 until rows).map(k => col("sig")(j * rows + k)): _*)): _*))
      .as(Seq("band", "bucket")))
    // Candidates shuffle ONLY id pairs; the shingle sets join back once
    // per unique pair for exact verification (carrying the arrays through
    // the band join duplicates them per shared band — a scale killer).
    //
    // At threshold 1.0 only set-identical pairs can survive the confirm,
    // and identical sets have identical signatures — so candidates come
    // straight from a full-signature-digest self-join (ONE shuffle on an
    // 8-byte key) instead of the b-band expansion. On a high-duplication
    // corpus this removes both the b× band fan-out and — decisively — the
    // near-dup false candidates (two sets at Jaccard j agree on all k
    // minhashes with probability j^k ≈ 0.5 at j=0.99, k=64: signature
    // digests pass only those, and every band key agreeing passes far
    // more), so the array-verify join below touches only true-duplicate
    // pairs plus that j^k sliver. Recall stays exactly 1: a Jaccard-1 pair
    // always has digest-equal signatures. (Measured on the gate's doubled
    // corpus at sf0.1: 18.7s → well under the 10s bar.)
    val cand =
      if (threshold >= 1.0) {
        val dg = sig.select(col("id"), xxhash64(col("sig")).as("dg"))
        dg.as("a").join(dg.as("b"),
            col("a.dg") === col("b.dg") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      } else banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
    cand
      .join(docs.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Shared MinHash plumbing: `(signatures, banded)` — one native
    * signature pass, then the b band keys (band-salted xxhash64 of each
    * band's r signature rows). */
  private def minhashSigAndBands(df: DataFrame, idCol: String, textCol: String,
                                 shingleN: Int, numHashes: Int,
                                 bands: Int): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val sig = df.select(col(idCol).as("id"),
        hashedShingleSet(col(textCol), shingleN).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(col("id"), minhashSignature(col("shingles"), numHashes).as("sig"))
    val banded = sig.select(col("id"), posexplode(
      array((0 until bands).map(j =>
        xxhash64(lit(j) +: (0 until rows).map(k => col("sig")(j * rows + k)): _*)): _*))
      .as(Seq("band", "bucket")))
    (sig, banded)
  }

  /**
   * Persist a MinHash band index for INCREMENTAL near-dup screening —
   * the signature/band computation is the expensive full-body pass, so
   * a corpus epoch pays it ONCE: `path/signatures` holds `(id, sig)`
   * (k longs per doc), `path/bands` holds `(id, band, bucket)`
   * partitioned by band. A later batch recomputes signatures only for
   * its OWN rows and joins against these id-only relations — history
   * BODIES are never re-read (the [[incrementalDedup]] Bloom path
   * answers "exact duplicate of history?"; this one answers "NEAR-dup
   * of history?", which the Bloom cannot).
   */
  def saveMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                       path: String, shingleN: Int = 3, numHashes: Int = 64,
                       bands: Int = 16): Unit = {
    val (sig, banded) = minhashSigAndBands(df, idCol, textCol,
      shingleN, numHashes, bands)
    sig.write.mode("overwrite").parquet(s"$path/signatures")
    banded.write.mode("overwrite").partitionBy("band")
      .parquet(s"$path/bands")
  }

  /**
   * Probe a persisted [[saveMinhashIndex]] with a new batch:
   * `(id_new, id_hist, jaccard_est)` for every batch row whose estimated
   * Jaccard against a history row reaches `threshold`. The confirm is
   * the signature-agreement estimator (fixed k longs per side —
   * document-size-independent, the 100 TB regime), parameters must match
   * the ones the index was built with (`numHashes` is re-derived from
   * the stored signature length; mismatched shingleN/bands silently
   * degrade recall, so pass the same ones).
   */
  def minhashPairsAgainstIndex(newBatch: DataFrame, idCol: String,
                               textCol: String, path: String,
                               shingleN: Int = 3, numHashes: Int = 64,
                               bands: Int = 16,
                               threshold: Double = 0.8): DataFrame = {
    val spark = newBatch.sparkSession
    val (sig, banded) = minhashSigAndBands(newBatch, idCol, textCol,
      shingleN, numHashes, bands)
    val histBands = spark.read.parquet(s"$path/bands")
    val histSig = spark.read.parquet(s"$path/signatures")
    val cand = banded.as("a").join(histBands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("id_new"), col("b.id").as("id_hist"))
      .dropDuplicates("id_new", "id_hist")
    cand
      .join(sig.select(col("id").as("id_new"), col("sig").as("sig_a")), "id_new")
      .join(histSig.select(col("id").as("id_hist"), col("sig").as("sig_b")), "id_hist")
      .withColumn("jaccard_est", signatureAgreement(numHashes))
      .filter(col("jaccard_est") >= threshold)
      .select(col("id_new"), col("id_hist"),
        round(col("jaccard_est"), 6).as("jaccard_est"))
  }

  /**
   * MinHash-LSH near-dup pairs with ESTIMATED Jaccard confirm: instead of
   * joining the shingle arrays back for exact verification, candidates
   * are scored by their signature agreement fraction — an unbiased
   * estimator of Jaccard with standard error ≈ √(j(1-j)/k) (±0.05 at
   * k = 64, j = 0.8).
   *
   * This is the 100 TB confirm path: the verify join carries k longs per
   * doc (fixed 512 bytes at k = 64) instead of full shingle sets, so its
   * cost is independent of document size. Use [[minhashPairs]] when exact
   * Jaccard is required; use this when candidates vastly outnumber true
   * pairs or documents are large.
   */
  def minhashPairsEstimated(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val (sig, banded) = minhashSigAndBands(df, idCol, textCol,
      shingleN, numHashes, bands)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("jaccard_est", signatureAgreement(numHashes))
      .filter(col("jaccard_est") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard_est"), 6).as("jaccard_est"))
  }

  /** The estimated Jaccard of a candidate pair: the fraction of the
    * `numHashes` MinHash rows on which `sig_a` and `sig_b` agree. */
  private def signatureAgreement(numHashes: Int): Column =
    aggregate(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, m) => acc + m).cast("double") / lit(numHashes.toDouble)

  /**
   * Connected components over a near-dup pair graph — the step that turns
   * PAIRS into dedup CLUSTERS (keep one representative per component,
   * drop the rest). Iterative min-label propagation: every node adopts
   * the smallest component id among itself and its neighbours until a
   * fixpoint; the final label is the component's minimum node id, which
   * makes "keep the smallest id per cluster" a plain filter.
   *
   * Scale shape: each iteration is one join + one groupBy on (id) —
   * shuffles carry 16-byte (id, comp) pairs, never payloads — and
   * `localCheckpoint` truncates the plan so the lineage doesn't grow by
   * two joins per round. Convergence takes O(component diameter)
   * rounds: near-dup graphs are band/bucket cliques (diameter ≤ 2 per
   * duplicate group; a handful when groups chain), so the loop ends in
   * 2-4 rounds in practice. When `maxIter` rounds pass WITHOUT
   * convergence — the adversarially-long-diameter case (substring /
   * containment dup CHAINS, where doc k overlaps only docs k±1) — the
   * loop escalates automatically: the graph is contracted by the
   * partial labels (every already-merged cluster becomes one node) and
   * [[connectedComponentsStar]] finishes in O(log d) rounds, so the
   * work done before escalation is kept, not discarded.
   *
   * Returns (id, comp): one row per node that appears in `pairs`.
   */
  def connectedComponents(pairs: DataFrame,
                          idA: String = "id_a", idB: String = "id_b",
                          maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .truncateLineage(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .truncateLineage(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val msgs = edges
        .join(labels.select(col("id").as("src"), col("comp")), "src")
        .select(col("dst").as("id"), col("comp"), lit(false).as("__own"))
      // One aggregation carries both the new label (min over own +
      // neighbour messages) and the node's previous label (min over the
      // own row alone), so convergence — "no label shrank" — folds into
      // the SAME job as the label update: the count action below both
      // materializes the lazy checkpoint and returns the changed count.
      // (One Spark action per round; the old shape paid a second
      // anti-join + isEmpty job per iteration.)
      val next = labels.withColumn("__own", lit(true)).union(msgs)
        .groupBy("id").agg(
          min(col("comp")).as("comp"),
          min(when(col("__own"), col("comp"))).as("__own_comp"))
        .withColumn("__changed", col("comp") < col("__own_comp"))
        .select("id", "comp", "__changed")
        .truncateLineage(false)
      val nChanged = next
        .agg(count(when(col("__changed"), lit(1))).as("n"))
        .first().getLong(0)
      converged = nChanged == 0L
      labels = next.select("id", "comp")
      graft.plans.IterationAudit.record("dedup.connectedComponents", labels)
      iter += 1
    }
    if (!converged) {
      // maxIter exceeded: long-diameter component. Contract by the
      // partial labels — |clusters| nodes, inter-cluster edges only —
      // and let star contraction close the remaining distance.
      val reduced = edges
        .join(labels.select(col("id").as("src"), col("comp").as("__ca")), "src")
        .join(labels.select(col("id").as("dst"), col("comp").as("__cb")), "dst")
        .filter(col("__ca") =!= col("__cb"))
        .select(col("__ca").as("id_a"), col("__cb").as("id_b"))
        .distinct()
      val starred = connectedComponentsStar(reduced)
      // isolated-in-reduced clusters (already component minima) keep
      // their own label via the left join
      labels = labels.select(col("id"), col("comp").as("__mid"))
        .join(starred.select(col("id").as("__mid"), col("comp").as("__fc")),
          Seq("__mid"), "left")
        .select(col("id"), coalesce(col("__fc"), col("__mid")).as("comp"))
    }
    labels
  }

  /**
   * Alternating star-contraction connected components (Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC'14) — the
   * O(log d)-round algorithm for graphs whose DIAMETER, not size, is
   * the problem. [[connectedComponents]]'s min-label loop moves a
   * component's minimum one hop per round; on a k-node path that is k
   * rounds. Star contraction instead halves path lengths every
   * (large-star, small-star) pair:
   *
   *  - LARGE-STAR (per node v): rewire every strictly-larger neighbour
   *    to min(Γ(v) ∪ {v}).
   *  - SMALL-STAR (per node v): rewire every smaller-or-equal neighbour
   *    (and v itself) to that same minimum.
   *
   * Both steps preserve connectivity and strictly shrink the potential
   * Σ(depth) (SoCC'14 Thm 3.2/3.3); the fixed point is a star forest
   * whose centres are the component minima — the same (id, comp)
   * contract as min-label, so the two are interchangeable.
   *
   * Scale shape: each half-step is one groupBy + one join on node ids —
   * shuffles carry (id, id) pairs only, `distinct` keeps the edge
   * multiset bounded by the input edge count, and `localCheckpoint`
   * truncates lineage per round. The fixed-point test ("no node is
   * both a child and a parent") shares the round's single action.
   *
   * Returns (id, comp): one row per node that appears in `pairs`.
   */
  def connectedComponentsStar(pairs: DataFrame,
                              idA: String = "id_a", idB: String = "id_b",
                              maxIter: Int = 50): DataFrame = {
    val nodes = pairs.select(col(idA).as("id"))
      .union(pairs.select(col(idB).as("id")))
      .distinct()
      .truncateLineage(true)
    var edges = pairs
      .select(col(idA).as("a"), col(idB).as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("hi"),
        least(col("a"), col("b")).as("lo"))
      .distinct()
      .truncateLineage(true)
    var done = false
    var iter = 0
    while (!done && iter < maxIter) {
      val ss = starRound(edges).truncateLineage(false)
      edges = ss
      graft.plans.IterationAudit.record("dedup.connectedComponentsStar", edges)
      iter += 1
      // fixed point = star forest: no id appears as both child (hi) and
      // parent (lo) — ONE aggregate over the tagged union (the old
      // distinct⋈distinct test paid 3 shuffles). Cadence is ADAPTIVE:
      // every round while young — near-dup graphs (band cliques,
      // diameter ≤ 2) converge in 1-2 rounds, and a skipped check there
      // costs a whole extra star round of |E| shuffles, which at scale
      // dwarfs the check's one small aggregate — then every 2nd round
      // once old, where the graph is provably a long chain still being
      // halved and a check that can only say "not yet" is pure cost.
      // Both star steps are idempotent at the fixed point, so a skipped
      // check costs at most one no-op round at the very end. (Measured
      // at sf0.1: every-2nd-from-the-start read the star gate 0.4 s
      // slower; every-round read the chain gate ~1 s slower.) The count
      // also materializes the round's lazy checkpoint.
      if (iter <= 4 || iter % 2 == 0 || iter == maxIter) {
        val chained = ss
          .select(col("hi").as("x"), lit(1).as("h"), lit(0).as("l"))
          .union(ss.select(col("lo").as("x"), lit(0).as("h"), lit(1).as("l")))
          .groupBy("x").agg(max(col("h")).as("h"), max(col("l")).as("l"))
          .where(col("h") === 1 && col("l") === 1)
          .count()
        done = chained == 0L
      }
    }
    nodes.join(edges.groupBy("hi").agg(min(col("lo")).as("__c")),
        nodes("id") === col("hi"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("comp"))
  }

  /**
   * One (large-star, small-star) contraction round over a canonical
   * (hi, lo) edge set — the loop body of [[connectedComponentsStar]],
   * exposed `private[graft]` so SubplanDump can commit the round's
   * LIVE plan (the loop's per-round checkpoint makes it invisible in
   * the public result's explain).
   *
   * large-star: centres see BOTH directions; larger neighbours n > c
   * rewire to m = min(neighbourhood ∪ centre). No distinct on the
   * rewired set: the only consumers are the small-star MIN rewires,
   * duplicate-safe, and the round-final distinct still bounds the edge
   * multiset. Each per-centre minimum is a PARTITIONED window-min
   * (= groupBy.min joined back, exactly), which pays ONE exchange of
   * the symmetric edge set instead of the agg exchange PLUS a second
   * full-|E| exchange (or broadcast build) for the join-back — half
   * the per-round shuffles, and none of the per-round broadcast-build
   * jobs that made the long-chain gate a ~500-tiny-stage storm.
   */
  private[graft] def starRound(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("hi").as("c"), col("lo").as("n"))
      .union(edges.select(col("lo").as("c"), col("hi").as("n")))
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("c")
    val ls = sym
      .withColumn("m", least(col("c"), min(col("n")).over(wc)))
      .filter(col("n") > col("c") && col("n") =!= col("m"))
      .select(col("n").as("hi"), col("m").as("lo"))
    // small-star: every edge now points hi→lo, so a centre's smaller
    // neighbourhood is exactly its lo set; rewire it (and the centre)
    // to the minimum lo — same partitioned window-min trade
    val wh = org.apache.spark.sql.expressions.Window.partitionBy("hi")
    val withM = ls.withColumn("m", min(col("lo")).over(wh))
    withM.filter(col("lo") =!= col("m"))
      .select(col("lo").as("hi"), col("m").as("lo"))
      .union(withM.select(col("hi"), col("m").as("lo")))
      .distinct()
  }

  /**
   * Incremental exact dedup of a NEW batch against a (huge) HISTORY
   * corpus — the continuous-ingest path: drop arriving documents whose
   * content already exists in history, without joining the new batch
   * against 100 TB.
   *
   * Mechanism: build a Bloom filter over history's content digests
   * (one distributed aggregation; ~1.2 GB per 10⁹ docs at 1% FPP —
   * broadcastable), split the batch into definitely-new (bloom miss —
   * no join AT ALL) and maybe-dup (bloom hit), and exactly confirm only
   * the maybe-dups with an anti-join whose history side is digest-only.
   * False positives are removed by the confirm join, so the result
   * EQUALS the plain anti-join (deterministic, oracle-checkable); the
   * bloom pass just shrinks the join input by ≈ the new-content
   * fraction.
   *
   * The bloom membership probe is a driver-broadcast object behind a
   * scalar UDF — the one place a UDF is warranted: Spark's own
   * BloomFilterMightContain expression is not public API. The probe is
   * computed as ONE column per scan; the batch (the small side) is read
   * once per branch of the hit/miss split. For repeated batches against
   * the same history, persist `history`'s digest projection so the 100 TB
   * side isn't rescanned per batch (it is read twice per call otherwise:
   * bloom build + confirm anti-join).
   *
   * Streaming: `newBatch` may be a streaming DataFrame — the bloom probe
   * is a pure filter and the confirm a stream-STATIC left-anti join, both
   * legal in append mode (cross-checked against the batch result in
   * StreamingCurationSpec) — the continuous-ingest "don't re-admit
   * yesterday's corpus" gate.
   */
  def incrementalDedup(newBatch: DataFrame, history: DataFrame,
                       idCol: String, textCol: String,
                       expectedHistoryItems: Long = 1000000L,
                       fpp: Double = 0.01): DataFrame = {
    val spark = newBatch.sparkSession
    val histDigests = history.select(md5(col(textCol)).as("__digest"))
    val bloom = histDigests.stat.bloomFilter("__digest", expectedHistoryItems, fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    // null digest (null text) → "definitely new": SQL NULL never equals a
    // history digest, so the plain anti-join keeps such rows too
    val mightContain = udf((d: String) =>
      d != null && bloomB.value.mightContainString(d))
    val probed = newBatch.withColumn("__digest", md5(col(textCol)))
      .withColumn("__hit", mightContain(col("__digest")))
    val definitelyNew = probed.filter(!col("__hit"))
    val confirmed = probed.filter(col("__hit"))
      .join(histDigests.distinct(), Seq("__digest"), "left_anti")
    definitelyNew.unionByName(confirmed).drop("__digest", "__hit")
  }

  /**
   * SimHash near-dup pairs: 64-bit fingerprint per doc (native
   * `simhash64` expression over xxhash64'd tokens), bucketed by each of the
   * four 16-bit chunks. By pigeonhole, any pair within Hamming distance 3
   * shares at least one chunk → recall 1 for maxHamming ≤ 3.
   */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(df.select(col(idCol),
        simhash64(hashedTokens(col(textCol))).as("__fp")),
      idCol, "__fp", maxHamming)

  /**
   * Banded Hamming near-dup pairs over PRECOMPUTED 64-bit hashes — the
   * generic core behind [[simhashPairs]], and directly the image-dedup
   * path when fed perceptual hashes (`Multimodal.imagePhash`). Hashes
   * bucket by each of their four 16-bit chunks; by pigeonhole any pair
   * within Hamming distance 3 agrees on at least one chunk → recall
   * EXACTLY 1 for `maxHamming` ≤ 3. Larger thresholds are legal but
   * approximate (banded-LSH recall < 1: a pair can differ in all four
   * chunks) — the simhash gate runs at 8 in that regime deliberately.
   * Candidates carry only (id, fp) — 16 bytes through the shuffle — and
   * the exact `bit_count` confirm runs on the pair, so precision is 1
   * at any threshold.
   */
  def hammingPairs(df: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val fps = df.select(col(idCol).as("id"), col(hashCol).cast("long").as("fp"))
    val chunks = fps.select(col("id"), col("fp"), posexplode(array(
      (0 until 4).map(j =>
        shiftrightunsigned(col("fp"), j * 16).bitwiseAND(lit(65535L))): _*))
      .as(Seq("chunk", "key")))
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /**
   * Pair-set evaluation harness: precision/recall/F1 of an APPROXIMATE
   * duplicate-pair pass against an exact reference pass — the tuning
   * report for every knob in this file (shingle-frequency caps,
   * winnowing, LSH band counts, sampling rates trade recall for cost;
   * this measures exactly what was traded). Both inputs are
   * (id_a, id_b) pair sets with id_a < id_b; extra columns are ignored.
   *
   * Scale shape: one full-outer join on the id pair (16-byte keys, no
   * payloads) then a single-row aggregate — the counts are the whole
   * output, so this composes after any pair generator at any corpus
   * size. Ratios are single IEEE divisions of exact longs, rounded to
   * 6 dp (0-denominator cases yield NULL, not Inf).
   */
  def evaluatePairs(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("id_a"), col("id_b"), lit(1).as("__a"))
    val e = exact.select(col("id_a"), col("id_b"), lit(1).as("__e"))
    val j = a.join(e, Seq("id_a", "id_b"), "full_outer")
    val agg = j.agg(
      sum(coalesce(col("__a"), lit(0))).cast("long").as("n_approx"),
      sum(coalesce(col("__e"), lit(0))).cast("long").as("n_exact"),
      sum(when(col("__a").isNotNull && col("__e").isNotNull, 1)
        .otherwise(0)).cast("long").as("n_common"))
    agg.select(col("n_approx"), col("n_exact"), col("n_common"),
      round(when(col("n_approx") > 0,
        col("n_common").cast("double") / col("n_approx").cast("double")), 6)
        .as("precision"),
      round(when(col("n_exact") > 0,
        col("n_common").cast("double") / col("n_exact").cast("double")), 6)
        .as("recall"),
      round(when(col("n_approx") + col("n_exact") > 0,
        lit(2.0) * col("n_common").cast("double") /
          (col("n_approx") + col("n_exact")).cast("double")), 6)
        .as("f1"))
  }

  /**
   * EXACT shared-substring spans (the "ExactSubstr" dedup mode of Lee et
   * al., "Deduplicating Training Data Makes Language Models Better",
   * ACL'22): for every document pair sharing a verbatim character run of
   * length ≥ `minLen`, report how many length-`minLen` windows they share
   * and the length of the longest shared run. This is the dedup mode the
   * set-based family (Jaccard/MinHash/SimHash) cannot express — those
   * score BAG overlap and lose positions, so a verbatim 500-char quote
   * inside two otherwise-different documents scores near 0 Jaccard but is
   * exactly what ExactSubstr exists to find.
   *
   * Plan: every sliding `minLen`-char window becomes a 28-byte
   * (id, pos, h, h2) row — TWO independently-seeded xxhash64 values of
   * the window, never the window text itself (128 collision bits, the
   * same digest-equality standard [[exactDuplicates]] rests on: a false
   * pair needs a 2⁻¹²⁸ double collision — below any physical corpus
   * size). Occurrences group on the digest in ONE map-side-combined
   * shuffle; groups of size 1 — almost all of them — die in a size
   * filter, and surviving groups expand to cross pairs. Keeping text
   * out of the exchange matters more than anything else here: window
   * rows amplify the corpus ~(len − minLen)×, so every byte per row is
   * a byte × corpus-length in the shuffle. Shared windows land on
   * "diagonals"
   * (pos_a − pos_b constant along a contiguous run); a per-diagonal
   * island detection (pos_a − row_number) turns consecutive windows into
   * runs, and a run of `r` consecutive windows is a shared substring of
   * exactly `minLen − 1 + r` chars.
   *
   * Scale shape: the window explode amplifies text ~(len − minLen)×, but
   * each window row is (id, pos, h, sub) and the join shuffles only
   * matching-hash partitions. At the 100 TB regime the knobs are
   * `sampleEvery` (keep windows with h ≡ 0 mod s — CONTENT-defined, so
   * the same window text is kept or dropped in every document; detection
   * of runs ≥ minLen + s·k becomes probabilistic with p = 1−(1−1/s)^k and
   * `max_run_chars` degrades to a lower bound — kept windows are rarely
   * position-adjacent, so islands fragment — while the shuffle shrinks s×)
   * and `maxWindowFreq` (skip digest groups larger than the cap BEFORE
   * pair expansion — the boilerplate knob is a size comparison on the
   * already-grouped rows, bounding the output at cap²/2 pairs per
   * window). Output: (id_a, id_b, shared_windows, max_run_chars).
   */
  def substringDupSpans(
      df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 30, maxWindowFreq: Option[Int] = None,
      sampleEvery: Int = 1): DataFrame = {
    // The window explode amplifies each input split ~(len − minLen)×
    // BEFORE the first exchange, so scan-partition boundaries, not
    // cores, would bound the hashing stage (one 128 MB split → one task
    // doing 268× its byte weight). A doc-id repartition first is a
    // shuffle of the SMALL pre-explode rows that lets the amplified
    // stage use every core.
    val w0 = df.select(col(idCol).as("id"), col(textCol).as("t"))
      .filter(length(col("t")) >= minLen)
      .repartition(col("id"))
      .select(col("id"),
        explode(expr(s"sequence(1, length(t) - ${minLen - 1})")).as("pos"),
        col("t"))
      .select(col("id"), col("pos"),
        expr(s"substring(t, pos, $minLen)").as("sub"))
      .select(col("id"), col("pos"),
        xxhash64(col("sub")).as("h"),
        // different seed chain: XXH64(sub, XXH64(1L, 42)) vs XXH64(sub, 42)
        xxhash64(lit(1L), col("sub")).as("h2"))
    val sampled =
      if (sampleEvery > 1) w0.filter(pmod(col("h"), lit(sampleEvery)) === 0)
      else w0
    // ONE evaluation of the amplified window stream, ONE digest-keyed
    // shuffle. A windowed count tags every occurrence with its group
    // size so singletons — almost all rows — die in a plain filter;
    // collect_list then runs only on survivors AND reuses the window's
    // (h, h2) hash partitioning (no second exchange), dodging the
    // object-aggregation GC cost of building 1-element lists for every
    // unique window (measured 2× the whole query). A self-join
    // formulation is worse still: it evaluates the explode lineage
    // three times (dup-set + both sides). `maxWindowFreq` becomes a
    // pre-expansion comparison on the same count, not an anti-join.
    val winSpec = Window.partitionBy("h", "h2")
    val occ = sampled
      .withColumn("cnt", count(lit(1)).over(winSpec))
      .filter(col("cnt") >= 2)
    val kept = maxWindowFreq match {
      case Some(cap) => occ.filter(col("cnt") <= cap)
      case None => occ
    }
    val shared = kept
      .groupBy("h", "h2")
      .agg(collect_list(struct(col("id"), col("pos"))).as("ws"))
      .select(explode(col("ws")).as("a"), col("ws"))
      .select(col("a"), explode(col("ws")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.pos").as("pos_a"), col("b.pos").as("pos_b"))
    // (pos_a, pos_b) is unique per pair (window positions are unique per
    // doc), so row_number over pos_a within a diagonal is collision-free
    // and the island key (pos_a - rank) is deterministic.
    val isl = shared
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("grp", col("pos_a") - row_number().over(
        Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")))
    isl.groupBy("id_a", "id_b", "diag", "grp")
      .agg(count(lit(1)).as("rw"))
      .groupBy("id_a", "id_b")
      .agg(sum("rw").cast("long").as("shared_windows"),
        (max("rw") + lit(minLen - 1)).cast("long").as("max_run_chars"))
  }

  /**
   * Repeated-substring REMOVAL — the actual ExactSubstr TRANSFORM of Lee
   * et al. ACL'22 (where [[substringDupSpans]] is the audit): every
   * character span that appears ≥ 2 times in the corpus keeps its FIRST
   * occurrence (smallest (id, pos) — deterministic, not "whichever task
   * ran first") and is CUT from every other position, including repeats
   * within one document. Output: one row per input row with the cleaned
   * text and the count of removed characters.
   *
   * Plan: the same 28-byte (id, pos, h, h2) window stream and single
   * digest-keyed shuffle as the audit (window text never crosses the
   * wire); a windowed (count, row_number) pass marks every non-first
   * occurrence's [pos, pos+minLen) as a delete interval; per-document
   * interval merge (prefix-max island detection) collapses overlapping
   * windows so a duplicated run of length L becomes ONE [start, start+L)
   * cut, exactly the span the audit reports; reconstruction is a pure
   * codegen'd `aggregate` fold over the ≤|intervals| array — substring
   * segments between cuts concatenate in one pass, no UDF.
   *
   * Scale shape: identical to the audit up to the digest shuffle (the
   * dominant term, corpus-linear with the ~(len−minLen)× window
   * amplification); the delete set is bounded by duplicated windows
   * only, and the per-document interval state is |cuts|, not |windows|.
   * Documents shorter than `minLen` (or with no duplicated span) pass
   * through byte-identical via the left join.
   */
  def removeDupSubstrings(df: DataFrame, idCol: String, textCol: String,
                          minLen: Int = 30,
                          outCol: String = "text_clean"): DataFrame = {
    val passthrough = df.columns.filterNot(_ == textCol).map(col)
    val base = df.select(col(idCol).as("__rid"), col(textCol).as("__t"))
    val w = base.filter(length(col("__t")) >= minLen)
      .repartition(col("__rid"))
      .select(col("__rid"),
        explode(expr(s"sequence(1, length(__t) - ${minLen - 1})")).as("__pos"),
        col("__t"))
      .select(col("__rid"), col("__pos"),
        expr(s"substring(__t, __pos, $minLen)").as("__sub"))
      .select(col("__rid"), col("__pos"),
        xxhash64(col("__sub")).as("__h"),
        xxhash64(lit(1L), col("__sub")).as("__h2"))
    // one digest shuffle carries both the group size and the global
    // first-occurrence rank (same partitioning, two window functions)
    val grp = Window.partitionBy("__h", "__h2")
    val del = w
      .withColumn("__cnt", count(lit(1)).over(grp))
      .withColumn("__rn", row_number().over(
        grp.orderBy(col("__rid"), col("__pos"))))
      .filter(col("__cnt") >= 2 && col("__rn") > 1)
      .select(col("__rid"), col("__pos"))
    // merge overlapping/adjacent delete windows into intervals
    val byDoc = Window.partitionBy("__rid").orderBy("__pos")
    val isl = del
      .withColumn("__pe", max(col("__pos") + lit(minLen))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__brk",
        when(col("__pe").isNull || col("__pos") > col("__pe"), 1).otherwise(0))
      .withColumn("__g", sum("__brk").over(byDoc))
      .groupBy("__rid", "__g")
      .agg(min("__pos").cast("int").as("s"),
        (max("__pos") + lit(minLen)).cast("int").as("e"))
    val ivs = isl.groupBy("__rid")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("__ivs"))
    val cleaned = base.join(ivs, Seq("__rid"), "left")
      .select(col("__rid"), col("__t"),
        when(col("__ivs").isNull, col("__t")).otherwise(expr(
          """aggregate(__ivs, named_struct('c', 1, 'acc', ''),
            |  (st, iv) -> named_struct(
            |    'c', iv.e,
            |    'acc', concat(st.acc, substring(__t, st.c, iv.s - st.c))),
            |  st -> concat(st.acc,
            |    substring(__t, st.c, length(__t) - st.c + 1)))""".stripMargin))
          .as(outCol))
    df.join(cleaned.select(col("__rid").as(idCol), col(outCol)), Seq(idCol))
      .select(passthrough :+ col(outCol)
        :+ (length(col(textCol)) - length(col(outCol))).cast("long")
          .as("removed_chars"): _*)
  }

  /**
   * Duplicate-cluster size distribution — the histogram behind
   * [[duplicationReport]]'s totals: one row per observed cluster size
   * `(cluster_size, n_clusters, n_docs, doc_share)` where a cluster is
   * an exact-content (md5) equivalence class. Reading it tells you
   * WHICH dedup strategy pays: mass in size-2 clusters (mirrors/reposts
   * — cheap wins) vs a few giant clusters (boilerplate — consider
   * substring removal instead of whole-doc dedup).
   *
   * Scale shape: digest aggregate (32-byte keys) → size aggregate
   * (|distinct sizes| rows, ≤ log-ish in practice) → broadcast 1-row
   * total. Nothing beyond digests crosses the wire.
   */
  def clusterSizeProfile(df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val sizes = df.groupBy(md5(col(textCol)).as("__digest"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
    val total = sizes.agg(coalesce(sum("n_docs"), lit(0L)).as("__total"))
    sizes.crossJoin(broadcast(total))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        round(col("n_docs").cast("double") / col("__total"), 6)
          .as("doc_share"))
  }

  /**
   * Cross-source duplication matrix — WHERE duplicate mass flows
   * between corpus slices: for each unordered source pair, the number
   * of exact-duplicate document pairs spanning them and the number of
   * content classes shared. High off-diagonal mass means one source
   * republishes another (dedup order then decides who survives); the
   * diagonal is within-source duplication.
   *
   * Output: `(source_a, source_b, n_shared_clusters, n_dup_pairs)`
   * with source_a ≤ source_b; the diagonal's `n_dup_pairs` is C(c,2)
   * within the class, off-diagonals c_a·c_b.
   *
   * Scale shape: one (digest, source) aggregate, then a digest-keyed
   * self-join of that COUNT table — per digest the join fans out to
   * (#sources present)², bounded by |sources|² regardless of cluster
   * size (the reason this never materializes doc-level pairs), then a
   * map-side-combined aggregate to the |sources|² matrix.
   */
  def crossSourceDuplication(df: DataFrame, idCol: String, textCol: String,
                             sourceCol: String): DataFrame = {
    val perSrc = df.groupBy(md5(col(textCol)).as("__digest"),
        col(sourceCol).as("__src"))
      .agg(count(lit(1)).as("__c"))
    perSrc.as("a").join(perSrc.as("b"),
        col("a.__digest") === col("b.__digest") &&
          col("a.__src") <= col("b.__src"))
      .select(col("a.__src").as("source_a"), col("b.__src").as("source_b"),
        // integer `div`, not `/`: Spark's Divide on longs yields DOUBLE,
        // which loses exactness past 2^53 pair counts
        when(col("a.__src") === col("b.__src"),
          expr("a.__c * (a.__c - 1) div 2"))
          .otherwise(col("a.__c") * col("b.__c")).as("__pairs"))
      .filter(col("__pairs") > 0)
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_clusters"),
        sum("__pairs").as("n_dup_pairs"))
  }

  /**
   * Sorted-neighborhood candidate pairs (Hernández & Stolfo, SIGMOD '95):
   * records sorted by a discriminating key are compared only against
   * their `windowSize - 1` successors in sort order — the classic cheap
   * blocking when near-duplicates share key PREFIXES (names, addresses,
   * normalized titles) rather than exact tokens.
   *
   * The textbook method needs one global sort; a single total order is a
   * scale anti-pattern (one reducer owns the tail), so this implements
   * the standard blocked variant: records first partition by the first
   * `blockLen` characters of the key, and the sliding window runs
   * WITHIN each block (pairs whose keys differ in the first `blockLen`
   * chars are dropped — by construction they disagree early, exactly
   * the records the method's sort-key assumption already writes off).
   * Multi-pass usage = union over calls with different `keyExpr`s.
   *
   * Output: `(id_a, id_b, dist)` where `dist` is the rank distance in
   * sort order (1 = adjacent), `id_a` the earlier record. Ties in the
   * key sort break by id, so output is deterministic.
   *
   * Scale shape: ONE shuffle on the block prefix; within a block the
   * window functions and the `windowSize-1` lead projections are linear
   * in block size. Candidate count ≤ (windowSize-1)·n regardless of
   * corpus size — the defining property of the method. Skewed blocks
   * (many records sharing a prefix) cost O(block) not O(block²),
   * because neighbors come from `lead`, not a self-join.
   */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, keyExpr: String,
                              blockLen: Int = 4,
                              windowSize: Int = 5): DataFrame = {
    val keyed = df.select(col(idCol).as("__id"), expr(keyExpr).as("__k"))
      .withColumn("__blk", substring(col("__k"), 1, blockLen))
    val order = Window.partitionBy("__blk").orderBy(col("__k"), col("__id"))
    val withNext = (1 until windowSize).foldLeft(keyed) { (acc, o) =>
      acc.withColumn(s"__n$o", lead(col("__id"), o).over(order))
    }
    withNext
      .select(col("__id"), posexplode(
        array((1 until windowSize).map(o => col(s"__n$o")): _*)))
      .filter(col("col").isNotNull)
      .select(col("__id").as("id_a"), col("col").as("id_b"),
        (col("pos") + 1).cast("int").as("dist"))
  }
}
