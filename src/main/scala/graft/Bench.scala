package graft

/**
 * Benchmark main — runs every SparkEntry query against
 * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query seconds.
 * `graft.Bench q_a q_b` times only the named queries (the A/B loop for
 * one change) and skips the board-coverage check; an unknown name is
 * rejected before any Spark session starts.
 *
 * Each query is forced through the `noop` sink, not `count()`: count lets
 * Catalyst prune every projected column (a filter query would measure only
 * the predicate column scan), while noop materializes the full result
 * rows — what a real consumer pays. A warmup action first absorbs JVM/
 * codegen compilation so query 1 isn't charged for it.
 *
 * Failure is never silent: a failing query reports value -1 (not its
 * time-to-throw, which would fake a fast entry) and lands in the
 * `"errors"` array. The JSON line goes to stdout AND to
 * `SPARK_GRAFT_BENCH_OUT` (default `bench_out.json` in the CWD) so a
 * consumer that greps a log-polluted stdout has a clean fallback.
 */
object Bench {
  private final case class Run(sec: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val unknown = args.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown quer(ies): ${unknown.mkString(", ")}")
    val names =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq.distinct
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(appName = "graft-bench")

    def runOnce(name: String): Run = {
      // Quiesce: collect the previous query's garbage NOW instead of letting
      // a mixed GC land inside the next timed window (measured: the dedup
      // block's shuffle garbage taxed an unrelated scan 6×).
      System.gc()
      val t0 = System.nanoTime()
      val ok =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
          // checkpoint-lifetime contract (Checkpoints scaladoc): free
          // the result's caller-owned checkpoint blocks so a heavy
          // iterative query doesn't tax every query after it
          graft.plans.Checkpoints.release(df)
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] $name $dt%.2fs ok=$ok")
      Run(dt, ok)
    }

    // Warmup: representative ops (scan+join+agg+sort) compile the codegen
    // paths; not reported. (An explicit q_embed_covariance warmup was
    // tried in r7 and MEASURED useless: the warmup run took 18.2 s and
    // both timed runs still ~17 s — the family's cost is steady-state
    // DECIMAL aggregation over ~10M d²-explode cells at sf0.1, not
    // first-execution JIT as r6 hypothesized. See BASELINE.md r7.)
    runOnce("q_pipeline")

    // Best-of-2 by default: a single pass makes whichever query catches a
    // GC pause or codegen compile look 10x slower; min-of-2 reports
    // steady-state cost. SPARK_GRAFT_BENCH_REPS=1 opts into one pass for
    // long boards (the sf1 full-board run) where wall-clock dominates.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val results = names.map { n =>
      val runs = (1 to math.max(1, reps)).map(_ => runOnce(n))
      n -> Run(runs.map(_.sec).min, runs.forall(_.ok))
    }
    // board-coverage contract (round-8 postmortem: q_mix_doremi landed
    // oracle-green but appeared on no board because the boards were run
    // before the final commit): the emitted board must cover every query
    // in the COMMITTED manifest (tools/expected_queries.txt, kept in
    // lockstep with SparkEntry.queries by BenchManifestSpec). Comparing
    // against the on-disk manifest — not this JVM's own keySet, which is
    // stale exactly when the tree is — is what actually catches a
    // stale-compiled-tree board run against a fresh checkout.
    // A named subset is not a board, so it has nothing to cover.
    val manifest = new java.io.File("tools/expected_queries.txt")
    if (args.isEmpty && manifest.isFile) {
      val src = scala.io.Source.fromFile(manifest, "UTF-8")
      val expected =
        try src.getLines().map(_.trim).filter(_.nonEmpty).toSet
        finally src.close()
      val missing = expected -- results.map(_._1).toSet
      require(missing.isEmpty,
        s"bench board is missing ${missing.size} manifest quer(ies) — " +
          "stale compiled tree? " + missing.toSeq.sorted.mkString(", "))
    } else if (args.isEmpty) System.err.println(
      "[bench] tools/expected_queries.txt not found (non-repo CWD?) — " +
        "board-coverage check skipped")
    val qs = results.map { case (k, r) =>
      "\"" + k + "\":" + (if (r.ok) r.sec else -1)
    }.mkString("{", ",", "}")
    val errors = results.collect { case (k, r) if !r.ok => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.filter(_._2.ok).map(_._2.sec).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errors,"sf":"$sfDir"}"""
    println(line)
    Console.out.flush()
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      val w = new java.io.PrintWriter(outFile)
      try w.println(line) finally w.close()
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
