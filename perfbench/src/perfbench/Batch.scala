package perfbench

import java.nio.file.{Files, Path}

/**
 * `batch`: one client alternates an [[Etl]] iteration (TPC-H-shaped flows
 * run to completion, then two publishes) with a [[Curation]] pass (the
 * corpus funnel). Both are batch uses with no interactive previews; they
 * share one run so that a run's fixed cost — JVM and Spark start, cold
 * code generation — is paid once for both.
 */
object Batch extends Workload {
  override def generate(dir: Path, seed: Long): Unit = {
    Etl.generate(Files.createDirectories(dir.resolve("etl")), seed)
    Curation.generate(Files.createDirectories(dir.resolve("curation")), seed)
  }

  /** Warm-up iterations: the first is cold (class loading, code
    * generation); iteration times still fall by about a fifth in the
    * second. */
  val WarmupIterations = 2

  override def warmup(ctx: Ctx, inputs: Path): Unit = {
    Etl.prepare(ctx, inputs.resolve("etl"))
    Curation.prepare(ctx)
    val p = new Phase
    (1 to WarmupIterations).foreach(_ => iteration(ctx, inputs, p))
    Etl.clearResults()
    if (p.failed.get > 0) throw new IllegalStateException("warmup failed: " + p.errors.peek())
  }

  private def iteration(ctx: Ctx, inputs: Path, phase: Phase): Unit = {
    Etl.iteration(ctx, inputs.resolve("etl"), phase)
    Curation.pass(ctx, inputs.resolve("curation"), phase)
  }

  /** Whole iterations only: another starts while at least half of one
    * still fits before the deadline, so the count is the time divided by
    * an iteration, rounded — not a coin flip when the two are close. */
  override def run(ctx: Ctx, inputs: Path, phase: Phase, deadlineNs: Long): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || System.nanoTime() + (System.nanoTime() - t0) / n / 2 < deadlineNs) {
      iteration(ctx, inputs, phase)
      n += 1
    }
  }

  override def verify(ctx: Ctx, phase: Phase): Unit = {
    Etl.verify(ctx, phase)
    Curation.verify(ctx, phase)
  }

  override def report(phase: Phase): Map[String, Any] =
    Map("iterations" -> phase.ops.get / 2, "etl" -> Etl.report(phase), "curation" -> Curation.report(phase))
}
