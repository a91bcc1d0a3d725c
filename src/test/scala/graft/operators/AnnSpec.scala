package graft.operators

import graft.SparkTestBase
import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class AnnSpec extends SparkTestBase {

  // Controlled corpus: 0↔1 identical, 2 a close neighbour of 0, 3/4 far.
  private def vec(parts: Double*): Seq[Double] = parts
  private lazy val corpus = df("id BIGINT, v ARRAY<DOUBLE>", Seq(
    Row(0L, vec(1, 0, 0, 0, 1, 0, 0, 1)),
    Row(1L, vec(1, 0, 0, 0, 1, 0, 0, 1)),
    Row(2L, vec(1, 0.1, 0, 0, 1, 0, 0, 0.9)),
    Row(3L, vec(-1, 2, 0.5, -3, 0, 1, 2, -1)),
    Row(4L, vec(0, -1, 3, 2, -2, 0.5, -1, 0))))
  private lazy val probes = corpus.filter("id = 0")
    .select(col("id").as("qid"), col("v").as("qv"))

  private def realEmbeddings = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), VF.asDouble(col("embedding")).as("v"))

  test("brute force: exact ranking, self excluded, identical vector first") {
    val out = Ann.bruteForceTopK(corpus, "id", "v", probes, "qid", "qv", k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.head == ((1, 1L, 1.0)))    // identical vector, cosine 1
    assert(out(1)._2 == 2L)               // near neighbour second
    assert(out.map(_._1).toSeq == Seq(1, 2, 3))
  }

  test("LSH top-k finds the identical and near vectors (high-similarity recall)") {
    val out = Ann.lshTopK(corpus, "id", "v", probes, "qid", "qv",
      k = 3, bands = 16, bandBits = 8)
      .collect().map(_.getLong(2))
    assert(out.contains(1L)) // identical vector shares every band
    assert(out.contains(2L)) // near vector shares ≥1 of 16 bands w.h.p.
  }

  test("cosine near-dup pairs confirm with exact cosine at the threshold") {
    val pairs = Ann.cosineNearDupPairs(corpus, "id", "v",
      threshold = 0.95, bands = 8, bandBits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)))
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 == 1.0)
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L)) // far vector absent
  }

  test("near-dup recall 1 on exact twins; 16-bit bands prune candidates ≪ N²/2") {
    // Twin construction: positive scaling preserves every hyperplane sign,
    // so each (v, 2v) pair must collide in ALL bands — recall exactly 1.
    val e = realEmbeddings
    val twins = e.select((col("vec_id") + lit(1000000L)).as("vec_id"),
      transform(col("v"), x => x * lit(2.0)).as("v"))
    val all = e.unionByName(twins)
    val n = all.count()
    val expected = e.count()

    val pairs = Ann.cosineNearDupPairs(all, "vec_id", "v",
      threshold = 0.9, bands = 8, bandBits = 16).collect()
    assert(pairs.length == expected,
      s"expected exactly $expected twin pairs, got ${pairs.length}")
    assert(pairs.forall(r => r.getLong(1) == r.getLong(0) + 1000000L))
    assert(pairs.forall(_.getDouble(2) == 1.0))

    // The whole point of wide band keys: the LSH must actually prune.
    val candidates = Ann.cosineCandidatePairs(all, "vec_id", "v",
      bands = 8, bandBits = 16).count()
    val allPairs = n * (n - 1) / 2
    assert(candidates < allPairs / 20,
      s"LSH did not prune: $candidates candidates of $allPairs pairs")
  }

  test("IVF top-k: identical vector recalled from the probed cells") {
    val out = Ann.ivfTopK(corpus, "id", "v", probes, "qid", "qv",
      k = 3, nCentroids = 2, nProbe = 1)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    assert(out.head._2 == 1L && out.head._3 == 1.0) // identical vec, same cell
  }

  test("IVF recall vs brute force on the real embeddings (nProbe=all == exact)") {
    val e = realEmbeddings
    val p = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val bf = Ann.bruteForceTopK(e, "vec_id", "v", p, "qid", "qv", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // probing every cell must reproduce the exact result
    val ivf = Ann.ivfTopK(e, "vec_id", "v", p, "qid", "qv", k = 5,
      nCentroids = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivf == bf)
  }

  test("ivfIndex built once serves multiple probe batches from the materialized assignment") {
    val e = realEmbeddings
    val index = Ann.ivfIndex(e, "vec_id", "v", nCentroids = 8)
    index.assigned.persist()
    try {
      val p1 = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val p2 = e.filter(col("vec_id") >= 3 && col("vec_id") < 6)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val b1 = Ann.ivfSearch(index, "vec_id", "v", p1, "qid", "qv", k = 5, nProbe = 8)
      val b2 = Ann.ivfSearch(index, "vec_id", "v", p2, "qid", "qv", k = 5, nProbe = 8)
      // each shared-index batch equals the single-shot operator (same
      // seed + sample → same centroids → same cells)
      val d1 = Ann.ivfTopK(e, "vec_id", "v", p1, "qid", "qv", k = 5,
        nCentroids = 8, nProbe = 8)
      val d2 = Ann.ivfTopK(e, "vec_id", "v", p2, "qid", "qv", k = 5,
        nCentroids = 8, nProbe = 8)
      assert(b1.collect().toSeq == d1.collect().toSeq)
      assert(b2.collect().toSeq == d2.collect().toSeq)
      // and the batches actually REUSE the materialized cell assignment:
      // the search plan reads the cached relation, not a fresh
      // scan+assign (this is the "materialize __cell once, query many
      // batches" 100 TB path)
      assert(b2.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"),
        "ivfSearch did not read the persisted cell assignment")
    } finally index.assigned.unpersist()
  }

  test("ivfIndex in-plan Lloyd fit: deterministic per seed, cells = nearest centroid") {
    val e = realEmbeddings
    val a = Ann.ivfIndex(e, "vec_id", "v", nCentroids = 8, seed = 7L)
    val b = Ann.ivfIndex(e, "vec_id", "v", nCentroids = 8, seed = 7L)
    // fit-path equality on a fixed seed: two independent distributed
    // fits produce the identical centroid matrix
    assert(a.centroids.length == b.centroids.length)
    a.centroids.zip(b.centroids).foreach { case (x, y) =>
      assert(x.toSeq == y.toSeq)
    }
    // every centroid is unit (NearestCells' dots must BE cosines)
    a.centroids.foreach { c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-12)
    }
    // the expression-assigned cell equals the plan-level nearest-centroid
    // assignment over the same matrix
    val cents = df("label BIGINT, centroid ARRAY<DOUBLE>",
      a.centroids.zipWithIndex.map { case (c, i) => Row(i.toLong, c.toSeq) })
    val viaPlan = Centroids.assignToCentroids(e, "vec_id", "v", cents)
      .select(col("vec_id"), col("cluster"))
    val viaExpr = a.assigned.select(col("vec_id"), col("__cell").cast("long").as("cluster"))
    assert(viaExpr.except(viaPlan).isEmpty && viaPlan.except(viaExpr).isEmpty)
  }

  test("appendToIvfIndex equals a fresh assignment of the union under the same centroids") {
    val e = realEmbeddings.limit(80)
    val half1 = e.filter(col("vec_id") % 2 === 0)
    val half2 = e.filter(col("vec_id") % 2 === 1)
    val idx = Ann.ivfIndex(half1, "vec_id", "v", nCentroids = 4)
    val path = tempDir("graft_ivf_append_spec").resolve("index").toString
    Ann.saveIvfIndex(idx, path)
    Ann.appendToIvfIndex(spark, path, half2, "v")
    val loaded = Ann.loadIvfIndex(spark, path)
    // the appended index holds exactly the union, each row assigned to
    // the frozen centroids' nearest cell
    val got = loaded.assigned.select("vec_id", "__cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val want = e
      .withColumn("__cell",
        graft.functions.VectorFunctions
          .nearestCells(col("v"), idx.centroids, 1)(0))
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(got == want)
    // and a search over the appended index behaves like one over a
    // fresh union index with the same centroids
    val probes = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val fresh = Ann.IvfIndex(idx.centroids, e.withColumn("__cell",
      graft.functions.VectorFunctions
        .nearestCells(col("v"), idx.centroids, 1)(0)))
    val a = Ann.ivfSearch(loaded, "vec_id", "v", probes, "qid", "qv",
      k = 3, nProbe = 2).collect().map(_.toSeq).toSeq
    val b = Ann.ivfSearch(fresh, "vec_id", "v", probes, "qid", "qv",
      k = 3, nProbe = 2).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("derived band width tracks ceil(log2 N) and clamps to [8, 24]") {
    assert(Ann.derivedBandBits(100) == 8)             // floor
    assert(Ann.derivedBandBits(8000) == 13)           // ceil(log2 8000)
    assert(Ann.derivedBandBits(1L << 20) == 20)       // exact power
    assert(Ann.derivedBandBits((1L << 20) + 1) == 21) // next width up
    assert(Ann.derivedBandBits(1L << 40) == 24)       // cap
    // bandBits = 0 (default) derives the width from a corpus count;
    // identical-vector recall must hold exactly as with explicit bits
    val out = Ann.lshTopK(corpus, "id", "v", probes, "qid", "qv",
      k = 3, bands = 16)
      .collect().map(_.getLong(2))
    assert(out.contains(1L))
  }

  test("LSH recall vs brute force on the real embeddings table (top-1 of identical)") {
    val e = realEmbeddings
    val p = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val bf = Ann.bruteForceTopK(e, "vec_id", "v", p, "qid", "qv", k = 5)
      .filter("rank = 1").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val lsh = Ann.lshTopK(e, "vec_id", "v", p, "qid", "qv", k = 5,
      bands = 16, bandBits = 8).collect()
      .groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    // random 64-dim vectors at moderate similarity: approximate by design —
    // expect a reasonable fraction of true top-1s among the candidates
    val hits = bf.count { case (q, top1) => lsh.get(q).exists(_.contains(top1)) }
    assert(hits >= 3, s"top-1 recall too low: $hits/10")

    // multi-probe (Hamming-1 ball, probe side only) must not lose recall —
    // and on this corpus it should find strictly more true top-1s
    val mp = Ann.lshTopK(e, "vec_id", "v", p, "qid", "qv", k = 5,
      bands = 16, bandBits = 8, probeHamming = 1).collect()
      .groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    val mpHits = bf.count { case (q, top1) => mp.get(q).exists(_.contains(top1)) }
    assert(mpHits >= hits, s"multi-probe lost recall: $mpHits < $hits")
  }

  test("int8 quantization bounds reconstruction error and preserves near-dup cosine") {
    val e = realEmbeddings
    val q = Quantize.int8(e, "vec_id", "v")
    val recon = q.select(col("vec_id"),
      Quantize.dequantize(col("q"), col("scale")).as("rv"))
    val joined = e.join(recon, "vec_id")
      .select(col("vec_id"),
        array_max(zip_with(col("v"), col("rv"), (a, b) => abs(a - b))).as("max_err"),
        graft.functions.VectorFunctions.cosine(col("v"), col("rv")).as("cos"))
      .collect()
    joined.foreach { r =>
      assert(r.getDouble(1) < 0.02, s"reconstruction error too large: $r")
      assert(r.getDouble(2) > 0.999, s"quantization destroyed direction: $r")
    }
    // codes stay in the int8 range
    val bounds = q.select(array_max(col("q")).as("mx"), array_min(col("q")).as("mn")).collect()
    assert(bounds.forall(r => r.getInt(0) <= 127 && r.getInt(1) >= -127))
  }

  test("brute-force search over int8 codes recalls the exact top-k (scale cancels in cosine)") {
    val e = realEmbeddings
    val codes = Quantize.int8(e, "vec_id", "v")
      .select(col("vec_id"), transform(col("q"), x => x.cast("double")).as("v"))
    val p = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val pCodes = codes.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = Ann.bruteForceTopK(e, "vec_id", "v", p, "qid", "qv", k = 5)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val quant = Ann.bruteForceTopK(codes, "vec_id", "v", pCodes, "qid", "qv", k = 5)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    // per-component error ≤ scale/254 barely moves cosine: expect ≥ 4/5 overlap
    exact.foreach { case (q, top) =>
      assert(quant(q).intersect(top).size >= 4, s"query $q: $top vs ${quant(q)}")
    }
  }

  test("matryoshka truncation yields unit-norm prefixes; zero prefix passes through") {
    val e = realEmbeddings
    val m = Quantize.matryoshka(e, "vec_id", "v", dims = 16)
    val checked = m.select(col("vec_id"), size(col("v")).as("d"),
        aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x).as("sq"))
      .collect()
    assert(checked.forall(_.getInt(1) == 16))
    assert(checked.forall(r => math.abs(r.getDouble(2) - 1.0) < 1e-9))
    // an all-zero prefix must not divide by zero
    val z = df("vec_id BIGINT, v ARRAY<DOUBLE>", Seq(
      org.apache.spark.sql.Row(1L, Seq(0.0, 0.0, 0.0, 5.0))))
    val zv = Quantize.matryoshka(z, "vec_id", "v", dims = 3)
      .head().getSeq[Double](1)
    assert(zv == Seq(0.0, 0.0, 0.0))
  }

  test("IVF index persists and reloads: identical search results, cell-partitioned layout") {
    val e = realEmbeddings
    val index = Ann.ivfIndex(e, "vec_id", "v", nCentroids = 8)
    val dir = tempDir("ivf_index").toString
    Ann.saveIvfIndex(index, dir)
    val loaded = Ann.loadIvfIndex(spark, dir)
    // centroid matrix round-trips exactly (text doubles are lossless via toString)
    assert(loaded.centroids.length == index.centroids.length)
    loaded.centroids.zip(index.centroids).foreach { case (a, b) =>
      assert(a.toSeq == b.toSeq)
    }
    // the on-disk layout IS the inverted file: one directory per cell
    val cells = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/assigned"))
      .iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("__cell=")).toSeq
    assert(cells.nonEmpty && cells.size <= 8)
    // searching the loaded index equals searching the live one
    val p = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val live = Ann.ivfSearch(index, "vec_id", "v", p, "qid", "qv", k = 5, nProbe = 8)
      .collect().toSeq
    val disk = Ann.ivfSearch(loaded, "vec_id", "v", p, "qid", "qv", k = 5, nProbe = 8)
      .collect().toSeq
    assert(disk == live)
  }

  test("mutualTopK keeps only reciprocating pairs — a hub that never reciprocates drops") {
    // a and b point at each other; hub c is a's & b's 2nd choice but
    // c's own top-1 is a — with k=1, only (a, b) is mutual
    val vecs = df("vec_id BIGINT, v ARRAY<DOUBLE>", Seq(
      org.apache.spark.sql.Row(1L, Seq(1.0, 0.0)),
      org.apache.spark.sql.Row(2L, Seq(0.99, 0.02)),
      org.apache.spark.sql.Row(3L, Seq(0.6, 0.6))))
    val probes = vecs.selectExpr("vec_id AS query_id", "v AS qv")
    val top1 = Ann.bruteForceTopK(vecs, "vec_id", "v", probes, "query_id", "qv", k = 1)
    val m = Ann.mutualTopK(top1, "query_id", "vec_id", "cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(m.toSeq == Seq((1L, 2L)))
    // at k=2 every pair reciprocates in this 3-clique
    val top2 = Ann.bruteForceTopK(vecs, "vec_id", "v", probes, "query_id", "qv", k = 2)
    val m2 = Ann.mutualTopK(top2, "query_id", "vec_id", "cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m2 == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("jlProject preserves pairwise distance structure and is seed-deterministic") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.col("vec_id") < 40)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    val proj = Quantize.jlProject(e, "vec_id", "v", sourceDims = 64, targetDims = 24)
    val orig = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val red = proj.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // JL with ±1 entries: squared distances preserved in expectation;
    // at 24 dims spot-check the ratio stays within a loose (0.4, 2.5)
    // band for every sampled pair — catches sign/scale bugs, not tight
    // concentration (which needs higher target dims)
    val ids = orig.keys.toSeq.sorted.take(15)
    for (a <- ids; b <- ids if a < b) {
      val r = d2(red(a), red(b)) / d2(orig(a), orig(b))
      assert(r > 0.4 && r < 2.5, s"pair ($a,$b) distorted by $r")
    }
    // deterministic across invocations; a different seed moves values
    val again = Quantize.jlProject(e, "vec_id", "v", 64, 24).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(again == red)
    val other = Quantize.jlProject(e, "vec_id", "v", 64, 24, seed = "other")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(other != red)
  }

  test("embeddingDimStats: hand-computed moments per dimension") {
    val d = df("v ARRAY<DOUBLE>", Seq(
      Row(Seq(1.0, 2.0)), Row(Seq(3.0, 2.0)), Row(Seq(5.0, 2.0))))
    val out = Profile.embeddingDimStats(d, "v").orderBy("dim").collect()
    // dim 1: mean 3, E[x²] = (1+9+25)/3, var = 35/3 - 9 = 8/3
    assert(out(0).getInt(0) == 1 && out(0).getLong(1) == 3L)
    assert(out(0).getAs[Double]("mean") == 3.0)
    assert(out(0).getAs[Double]("variance") == 2.666667)
    assert(out(0).getAs[Double]("min_val") == 1.0 &&
      out(0).getAs[Double]("max_val") == 5.0)
    // dim 2: constant -> dead dimension, variance 0
    assert(out(1).getAs[Double]("variance") == 0.0 &&
      out(1).getAs[Double]("mean") == 2.0)
  }

  test("marginPairs: ratio margin beats raw cosine, best-per-source, threshold cut") {
    import org.apache.spark.sql.Row
    // source 10: neighborhood mean (0.9+0.7)/2 = 0.8
    //   candidate 1 (hub):   cos 0.9, hub's own mean 0.9 → den (0.8+0.9)/2
    //   candidate 2 (quiet): cos 0.7, mean 0.4          → den (0.8+0.4)/2
    // raw cosine prefers the hub; margin prefers the quiet target:
    //   margin(10,1) = 0.9/0.85 ≈ 1.059 < margin(10,2) = 0.7/0.6 ≈ 1.167
    val fwd = df("query_id BIGINT, vec_id BIGINT, cosine DOUBLE", Seq(
      Row(10L, 1L, 0.9), Row(10L, 2L, 0.7),
      Row(11L, 1L, 0.3), Row(11L, 2L, 0.2))) // src 11: mean 0.25, margins < 1
    val bwd = df("query_id BIGINT, vec_id BIGINT, cosine DOUBLE", Seq(
      Row(1L, 10L, 0.9), Row(1L, 11L, 0.9),   // hub target: mean 0.9
      Row(2L, 10L, 0.5), Row(2L, 11L, 0.3)))  // quiet target: mean 0.4
    val out = Ann.marginPairs(fwd, bwd, threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // src 10 picks target 2 on margin (not the higher-cosine hub);
    // src 11's best margin = 0.3/((0.25+0.65)/2)=0.667 — cut by threshold
    assert(out.toSeq == Seq((10L, 2L,
      BigDecimal(0.7 / 0.6).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }
}
