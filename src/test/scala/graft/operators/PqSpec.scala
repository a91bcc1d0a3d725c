package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

case class AnnVec(vec_id: Long, v: Seq[Double])

class PqSpec extends SparkTestBase {

  // d = 2, m = 2 subspaces of 1 dim each; two tight clusters per
  // subspace, seeds = the two smallest ids (0 and 1)
  private lazy val corpus = df("id BIGINT, v ARRAY<DOUBLE>", Seq(
    Row(0L, Seq(0.0, 10.0)), Row(1L, Seq(1.0, 20.0)),
    Row(2L, Seq(0.2, 10.2)), Row(3L, Seq(0.8, 19.8)),
    Row(4L, Seq(0.1, 9.9)), Row(5L, Seq(0.9, 20.1))))

  test("fit: one re-mean round lands the hand-computed per-subspace centroids") {
    val cb = Pq.fit(corpus, "id", "v", subspaces = 2, k = 2, iterations = 1)
    // subspace 0: seeds 0.0 / 1.0 -> clusters {0,.2,.1} and {1,.8,.9}
    assert(cb(0)(0).toSeq == Seq(0.1) && cb(0)(1).toSeq == Seq(0.9))
    // subspace 1: means round to 9 dp
    assert(cb(1)(0).toSeq == Seq(10.033333333))
    assert(cb(1)(1).toSeq == Seq(19.966666667))
  }

  test("encode: codes are the nearest centroid per subspace, ties to the lower code") {
    val cb = Pq.fit(corpus, "id", "v", 2, 2, 1)
    val codes = Pq.encode(corpus, "id", "v", cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(0L) == Seq(0, 0) && codes(2L) == Seq(0, 0) && codes(4L) == Seq(0, 0))
    assert(codes(1L) == Seq(1, 1) && codes(3L) == Seq(1, 1) && codes(5L) == Seq(1, 1))
    // EXACT ties (binary-exact centroids and midpoints) break to the
    // lower code in both subspaces
    val cb2: Array[Array[Array[Double]]] =
      Array(Array(Array(0.0), Array(1.0)), Array(Array(10.0), Array(20.0)))
    val mid = df("id BIGINT, v ARRAY<DOUBLE>", Seq(Row(9L, Seq(0.5, 15.0))))
    assert(Pq.encode(mid, "id", "v", cb2).collect()(0).getSeq[Int](1) == Seq(0, 0))
  }

  test("reconstruct + error report: centroids round-trip exactly, corpus error is bounded") {
    val cb = Pq.fit(corpus, "id", "v", 2, 2, 1)
    val rec = Pq.reconstruct(Pq.encode(corpus, "id", "v", cb), "id", "codes", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(rec(0L) == Seq(0.1, 10.033333333))
    assert(rec(1L) == Seq(0.9, 19.966666667))
    val err = Pq.reconstructionError(corpus, "id", "v", cb).collect()(0)
    assert(err.getLong(0) == 6L)
    assert(err.getDouble(1) > 0 && err.getDouble(2) < 0.2)
    // a corpus sitting exactly ON the centroids reconstructs losslessly
    val exact = df("id BIGINT, v ARRAY<DOUBLE>", Seq(
      Row(10L, Seq(0.1, 10.033333333)), Row(11L, Seq(0.9, 19.966666667))))
    val e2 = Pq.reconstructionError(exact, "id", "v", cb).collect()(0)
    assert(e2.getDouble(1) == 0.0 && e2.getDouble(2) == 0.0)
  }

  test("adcTopK: the ADC score IS dot(q, reconstruction), ranked with id tie-breaks") {
    val cb = Pq.fit(corpus, "id", "v", 2, 2, 1)
    val codes = Pq.encode(corpus, "id", "v", cb)
    val probes = df("qid BIGINT, qv ARRAY<DOUBLE>", Seq(
      Row(0L, Seq(0.0, 10.0)), Row(1L, Seq(1.0, 20.0))))
    val out = Pq.adcTopK(codes, "id", "codes", probes, "qid", "qv", cb, k = 5)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // expected scores: dot(q, x̂) where x̂ is one of the two
    // reconstructions; for q0 = [0, 10]: cluster-0 recon scores
    // 0*0.1 + 10*10.033333333 = 100.33333333, cluster-1 recon
    // 0*0.9 + 10*19.966666667 = 199.66666667 — so ids 1,3,5 rank
    // first; published scores round to 6 dp
    val q0 = out.filter(_._1 == 0L)
    assert(q0.map(_._3).toSeq == Seq(1L, 3L, 5L, 2L, 4L)) // self (0) excluded
    assert(q0.head._4 == 199.666667)
    assert(q0.last._4 == 100.333333)
    // ranks are 1..5 and ties broke to ascending id within equal scores
    assert(q0.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("fit keeps a seed centroid when its cluster empties (duplicate seeds)") {
    val dup = df("id BIGINT, v ARRAY<DOUBLE>", Seq(
      Row(0L, Seq(0.0, 1.0)), Row(1L, Seq(0.0, 1.0)), Row(2L, Seq(0.1, 1.1))))
    // seeds 0 and 1 are identical -> every row ties to code 0; cluster 1
    // keeps its seed value instead of vanishing
    val cb = Pq.fit(dup, "id", "v", 2, 2, 1)
    assert(cb(0).length == 2 && cb(1).length == 2)
    assert(cb(0)(1).toSeq == Seq(0.0) && cb(1)(1).toSeq == Seq(1.0))
    assert(cb(0)(0).toSeq == Seq(0.033333333)) // mean of all three
  }

  test("ivfPq: all-cells probe equals plain ADC; nProbe subsets to probed cells only") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(60)
    val idx = Ann.ivfPqIndex(e, "vec_id", "v", nCentroids = 4,
      subspaces = 2, pqK = 4, lloydIter = 1, pqIter = 1)
    val probes = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // probing every cell makes the cell tier a no-op
    val all = rows(Ann.ivfPqSearch(idx, "vec_id", probes, "qid", "qv",
      k = 5, nProbe = 4))
    val adc = rows(Pq.adcTopK(idx.codes.select("vec_id", "codes"), "vec_id",
      "codes", probes, "qid", "qv", idx.codebook, k = 5))
    assert(all == adc)
    // nProbe = 1: the ADC ranking computed over ONLY the candidates in
    // each probe's nearest cell (driver-side re-derivation, same fold
    // association: per-subspace sub-dots summed in subspace order)
    val one = rows(Ann.ivfPqSearch(idx, "vec_id", probes, "qid", "qv",
      k = 5, nProbe = 1))
    val meta = idx.codes.collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getSeq[Int](2)))).toMap
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val probeCell = probes.select(col("qid"),
        graft.functions.VectorFunctions
          .nearestCells(col("qv"), idx.ivf.centroids, 1)(0).as("c"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val dsub2 = idx.codebook(0)(0).length
    def score(q: Long, v: Long): Double = {
      val qv = vecs(q)
      val cs = meta(v)._2
      val s = cs.zipWithIndex.foldLeft(0.0) { case (acc, (c, sp)) =>
        acc + idx.codebook(sp)(c).zipWithIndex.foldLeft(0.0) {
          case (a, (cv, i)) => a + qv(sp * dsub2 + i) * cv
        }
      }
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = probeCell.keys.toSeq.sorted.flatMap { q =>
      meta.keys.toSeq
        .filter(v => v != q && meta(v)._1 == probeCell(q))
        .map(v => (v, score(q, v)))
        .sortBy { case (v, s) => (-s, v) }
        .take(5).zipWithIndex
        .map { case ((v, s), i) => (q, (i + 1).toLong, v, s) }
    }
    assert(one.sortBy(r => (r._1, r._2)) == expected)
  }

  test("residual IVFADC: scores are base + LUT, and residual coding cuts reconstruction error") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(60)
    val raw = Ann.ivfPqIndex(e, "vec_id", "v", nCentroids = 4,
      subspaces = 2, pqK = 4, lloydIter = 1, pqIter = 1)
    val res = Ann.ivfPqResidualIndex(e, "vec_id", "v", nCentroids = 4,
      subspaces = 2, pqK = 4, lloydIter = 1, pqIter = 1)
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def l2(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    def recon(cb: Array[Array[Array[Double]]], cs: Seq[Int]) =
      cs.zipWithIndex.flatMap { case (c, s) => cb(s)(c) }
    // driver-side reconstruction error, raw vs residual (+ centroid)
    val rawErr = raw.codes.collect().map { r =>
      l2(vecs(r.getLong(0)), recon(raw.codebook, r.getSeq[Int](2)))
    }.sum
    val rawMeans = res.residualCentroids.get
    val resErr = res.codes.collect().map { r =>
      val cent = rawMeans(r.getInt(1)).toSeq
      val rec = recon(res.codebook, r.getSeq[Int](2))
        .zip(cent).map { case (a, b) => a + b }
      l2(vecs(r.getLong(0)), rec)
    }.sum
    assert(resErr < rawErr,
      s"residual coding should reconstruct better: $resErr vs $rawErr")
    // search scores equal the driver-side base + LUT re-derivation
    val probes = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val out = Ann.ivfPqResidualSearch(res, "vec_id", probes, "qid", "qv",
      k = 3, nProbe = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val dsub = res.codebook(0)(0).length
    out.keys.foreach { case (q, v) =>
      val meta = res.codes.filter(col("vec_id") === v).collect()(0)
      val cell = meta.getInt(1); val cs = meta.getSeq[Int](2)
      val qv = vecs(q)
      val base = qv.zip(rawMeans(cell))
        .foldLeft(0.0) { case (a, (x, y)) => a + x * y }
      val score = cs.zipWithIndex.foldLeft(base) { case (acc, (c, sp)) =>
        acc + res.codebook(sp)(c).zipWithIndex.foldLeft(0.0) {
          case (a, (cv, i)) => a + qv(sp * dsub + i) * cv
        }
      }
      val r6 = BigDecimal(score).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      assert(out((q, v)) == r6, s"($q,$v)")
    }
  }

  test("recall@10 vs brute force rises with the codebook budget (the (m,k) knob)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = Ann.bruteForceTopK(e, "vec_id", "v", probes, "qid", "qv",
      k = 10).select("query_id", "vec_id")
    def hits(m: Int, k: Int): Long = {
      val cb = Pq.fit(e, "vec_id", "v", m, k, iterations = 2)
      val approx = Pq.adcTopK(Pq.encode(e, "vec_id", "v", cb), "vec_id",
        "codes", probes, "qid", "qv", cb, k = 10)
        .select("query_id", "vec_id")
      exact.join(approx, Seq("query_id", "vec_id")).count()
    }
    val tiny = hits(2, 4)    // 16 reconstructions — the gate's budget
    val real = hits(8, 16)   // 16^8 reconstructions — a production shape
    // the testdata embeddings are near-random 64-dim vectors — the
    // adversarial case for PQ (no cluster structure, neighbor cosine
    // gaps ~1e-3, quantization noise comparable) — so absolute recall
    // stays modest; what must hold is that the budget knob WORKS
    assert(real > tiny, s"bigger codebook must recover recall: $real vs $tiny")
    assert(real >= 2 * tiny && real >= 25,
      s"8x16 should clearly beat the 16-point codebook: $real vs $tiny")
  }

  test("Pq.encode is stream-legal: streamed batches produce the batch codes") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(40)
    val cb = Pq.fit(e, "vec_id", "v", 2, 4, 1)
    val batch = Pq.encode(e, "vec_id", "v", cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[AnnVec]
    val sink = scala.collection.mutable.Map[Long, Seq[Int]]()
    val q = Pq.encode(mem.toDF(), "vec_id", "v", cb)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => sink.synchronized {
          sink(r.getLong(0)) = r.getSeq[Int](1)
        })
        ()
      }.start()
    try {
      val rows = e.collect().map(r => AnnVec(r.getLong(0), r.getSeq[Double](1)))
      val (h, t) = rows.splitAt(17)
      mem.addData(h.toSeq); q.processAllAvailable()
      mem.addData(t.toSeq); q.processAllAvailable()
    } finally q.stop()
    assert(sink.toMap == batch)
  }

  test("savePqIndex/loadPqIndex round-trips the codebook bit-for-bit and the codes") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(40)
    val cb = Pq.fit(e, "vec_id", "v", 2, 4, 1)
    val codes = Pq.encode(e, "vec_id", "v", cb)
    val path = tempDir("graft_pq_spec").resolve("index").toString
    Pq.savePqIndex(codes, cb, path)
    val (cb2, codes2) = Pq.loadPqIndex(spark, path)
    // Double.toString is shortest-round-trip: parsing returns the
    // identical IEEE double, so reloaded ADC plans are bit-equal
    assert(cb2.map(_.map(_.toSeq).toSeq).toSeq ==
      cb.map(_.map(_.toSeq).toSeq).toSeq)
    assert(codes2.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap ==
      codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap)
  }

  test("native nearestCellL2 agrees with a reference argmin on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(50)
    val cb = Pq.fit(e, "vec_id", "v", subspaces = 4, k = 4, iterations = 2)
    val dsub = cb(0)(0).length
    val rows = e.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val codes = Pq.encode(e, "vec_id", "v", cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    rows.foreach { case (id, v) =>
      val expect = (0 until 4).map { s =>
        val x = v.slice(s * dsub, (s + 1) * dsub)
        val d2 = cb(s).map(c =>
          x.zip(c).foldLeft(0.0) { case (acc, (a, b)) => acc + (a - b) * (a - b) })
        d2.indexOf(d2.min) // first minimum = lowest code on ties
      }
      assert(codes(id) == expect, s"id $id")
    }
  }
}
