package perfbench

import graft.GraftSession
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/**
 * Benchmark entry point: `Main --workload <name> --seed <n> --seconds <s>
 * --trace <0|1> --work <dir>`. Prints one detail line, then the result
 * line `{"correct", "attempted", "failed", "metrics"}`; exits 1 when an
 * output does not match ground truth.
 *
 * `--trace 0` measures the end-to-end metrics with tracing off. `--trace 1`
 * runs a third of the time untraced, a third traced (spans + Spark
 * listener) and a third untraced again, and reports per-layer metrics from
 * the traced third and the tracing overhead as traced minus untraced.
 */
object Main {
  /** Inputs are generated this many times; setup charges the median, and
    * every copy must be byte-identical. */
  val GenRepeats = 3

  val workloads: Map[String, Workload] =
    Map("interactive" -> Interactive, "batch" -> Batch)

  /** Span name → per-layer metric; each is the mean self time of one call. */
  val layerSpans: Seq[(String, String)] = Seq(
    "sources.csv_load" -> "sources.csv_load_ms",
    "sources.parquet_load" -> "sources.parquet_load_ms",
    "sources.jsonl_load" -> "sources.jsonl_load_ms",
    "sources.write" -> "sources.write_ms",
    "planner.parse" -> "planner.parse_ms",
    "sql.parse" -> "sql.parse_ms",
    "pipeline.repair" -> "pipeline.repair_ms",
    "model.render" -> "model.render_ms",
    "pipeline.execute" -> "pipeline.execute_ms",
    "compile.compile" -> "compile.compile_ms",
    "pipeline.preview" -> "pipeline.preview_ms",
    "pipeline.describe" -> "pipeline.describe_ms",
    "pipeline.collect" -> "pipeline.collect_ms",
    "viz.suggest" -> "viz.suggest_ms",
    "operators.clean" -> "operators.clean_ms",
    "operators.quality" -> "operators.quality_ms",
    "operators.exact_dedup" -> "operators.exact_dedup_ms",
    "operators.minhash" -> "operators.minhash_ms",
    "operators.components" -> "operators.components_ms",
    "operators.decontaminate" -> "operators.decontaminate_ms",
    "operators.sample_pack" -> "operators.sample_pack_ms",
    "plans.release" -> "plans.release_ms")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = workloads(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val (spark, sessionMs) = Stats.timed(GraftSession.builder(
      master = s"local[$cores]", shufflePartitions = cores, appName = "perfbench"))

    val gens = (0 until GenRepeats).map { i =>
      val dir = work.resolve(s"inputs-$i")
      Files.createDirectories(dir)
      val (_, ms) = Stats.timed(workload.generate(dir, seed))
      (dir, ms, digest(dir))
    }
    val inputs = gens.head._1
    val sameInputs = gens.map(_._3).distinct.size == 1

    val ctx = Ctx(spark, new Trace(false), cores, seed, work)
    val (_, warmupMs) = Stats.timed(workload.warmup(ctx, inputs))
    val setupS = (sessionMs + Stats.median(gens.map(_._2)) + warmupMs) / 1000.0

    def measure(c: Ctx, secs: Double): Phase = {
      val p = new Phase
      val t0 = System.nanoTime()
      workload.run(c, inputs, p, t0 + (secs * 1e9).toLong)
      p.elapsedNs = System.nanoTime() - t0
      p
    }
    def rowsPerS(p: Phase) = p.inputRows.get / (p.elapsedNs / 1e9)
    var selfTimes = Map.empty[String, Any]

    val (phases, metrics) =
      if (!traced) {
        val p = measure(ctx, seconds)
        workload.verify(ctx, p)
        val heap = Counters.heapAfterGcMb()
        (Seq(p), Seq(
          ("setup_s", setupS, "s"),
          ("step_p50_ms", p.steps.percentile(50), "ms"),
          ("step_p95_ms", p.steps.percentile(95), "ms"),
          ("ingest_p50_ms", p.ingests.percentile(50), "ms"),
          ("rows_per_s", rowsPerS(p), "rows/s"),
          ("heap_retained_mb", heap, "MB")))
      } else {
        // untraced, traced, untraced thirds: comparing the traced third with
        // the mean of the other two cancels warm-up drift over the run
        val plain1 = measure(ctx, seconds / 3)
        val trace = new Trace(true)
        trace.attach(spark)
        val counters = new Counters
        spark.sparkContext.addSparkListener(counters)
        val before = counters.snapshot()
        val p = measure(ctx.copy(trace = trace), seconds / 3)
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val d = counters.snapshot() - before
        spark.sparkContext.removeSparkListener(counters)
        val storage = Counters.storageMb(spark)
        val plain2 = measure(ctx, seconds / 3)
        workload.verify(ctx, p)
        val spans = trace.all
        Files.createDirectories(work.resolve("traces"))
        trace.write(work.resolve("traces").resolve(s"${opts("workload")}-seed$seed.jsonl"))
        val self = Trace.selfTimes(spans)
        selfTimes = self.map { case (k, (n, ns)) => k -> Map("calls" -> n, "self_ms" -> ns / 1e6) }
        val steps = math.max(1, p.steps.size).toDouble
        def x(k: String) = Option(p.extra.get(k)).map(_.doubleValue).getOrElse(0.0)
        def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
        val mb = 1048576.0
        val layers = layerSpans.map { case (span, metric) =>
          val (n, ns) = self.getOrElse(span, (0L, 0L))
          (metric, ratio(ns / 1e6, n), "ms")
        }
        def untraced(f: Phase => Double) = (f(plain1) + f(plain2)) / 2
        (Seq(plain1, p, plain2), layers ++ Seq(
          ("sources.files_written", ratio(x("files_written"), x("publishes")), "count"),
          ("sources.bytes_written_per_input_byte", ratio(x("bytes_written"), x("bytes_read_for_write")), "ratio"),
          ("sources.scan_mb", d.get("input_bytes") / mb / steps, "MB"),
          ("pipeline.rows_scanned_per_row_returned",
            ratio(d.get("records_read:pipeline.preview"), x("rows_previewed")), "ratio"),
          ("spark.jobs_per_op", d.get("jobs") / steps, "count"),
          ("spark.stages_per_op", d.get("stages") / steps, "count"),
          ("spark.tasks_per_op", d.get("tasks") / steps, "count"),
          ("spark.scheduler_delay_ms", ratio(d.get("task_wait_ms"), d.get("task_wait_n")), "ms"),
          ("spark.core_busy_frac", d.get("run_ms") / (d.at / 1e6 * cores), "ratio"),
          ("spark.shuffle_write_mb", d.get("shuffle_write_bytes") / mb / steps, "MB"),
          ("spark.shuffle_read_mb", d.get("shuffle_read_bytes") / mb / steps, "MB"),
          ("spark.spill_mb", d.get("spill_bytes") / mb / steps, "MB"),
          ("spark.storage_mb", storage, "MB"),
          ("jvm.gc_ms_per_op", d.get("gc_ms") / steps, "ms"),
          ("trace.step_p50_overhead_ms", p.steps.percentile(50) - untraced(_.steps.percentile(50)), "ms"),
          ("trace.rows_per_s_overhead", rowsPerS(p) - untraced(rowsPerS), "rows/s")))
      }

    val attempted = phases.map(_.attempted.get).sum + 1
    val failed = phases.map(_.failed.get).sum + (if (sameInputs) 0 else 1)
    val errors = (if (sameInputs) Nil else Seq("same seed gave different input bytes")) ++
      phases.flatMap(_.errors.asScala)
    val correct = failed == 0 && metrics.forall(m => !m._2.isNaN)
    val last = if (traced) phases(1) else phases.head
    println(Stats.json(Map("detail" -> (Map(
      "workload" -> opts("workload"), "seed" -> seed, "trace" -> traced,
      "cores" -> cores, "memory_mb" -> Counters.totalMemoryMb(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "error_rate" -> failed.toDouble / attempted,
      "setup" -> Map("session_ms" -> sessionMs, "generate_ms" -> gens.map(_._2), "warmup_ms" -> warmupMs,
        "input_sha256" -> gens.head._3),
      "measured_s" -> last.elapsedNs / 1e9,
      "step_samples" -> last.steps.size, "ingest_samples" -> last.ingests.size,
      "first_errors" -> errors.take(5)) ++ workload.report(last) ++
      (if (traced) Map("span_self_times" -> selfTimes) else Map.empty)))))
    println(Stats.json(Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  /** SHA-256 over every file under `dir`, in path order, names included. */
  def digest(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      .sortBy(p => dir.relativize(p).toString).foreach { p =>
        md.update(dir.relativize(p).toString.getBytes("UTF-8"))
        md.update(Files.readAllBytes(p))
      }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
