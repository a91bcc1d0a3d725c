package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession

/** What a workload needs from the harness. */
final case class Ctx(spark: SparkSession, trace: Trace, cores: Int, seed: Long, work: Path)

/** Measurements of one timed phase. Every field is filled by the workload's
  * clients while the phase runs; the harness reads it afterwards. */
final class Phase {
  /** One stage, flow or curation step: submitted → result returned. */
  val steps = new Samples
  /** One input file: load → first preview rows. */
  val ingests = new Samples
  val inputRows = new AtomicLong
  val ops = new AtomicLong
  val attempted = new AtomicLong
  val failed = new AtomicLong
  /** Named per-layer counters a workload measures itself (bytes, files). */
  val extra = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var elapsedNs: Long = 0L

  def addExtra(k: String, v: Double): Unit = extra.merge(k, v, (a, b) => a + b)

  /** Run one operation: counts it, and counts (and keeps) its failure
    * instead of letting it end the client loop. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: Exception =>
        failed.incrementAndGet()
        errors.add(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        None
    }
  }

  def check(what: String)(ok: Boolean): Unit = {
    attempted.incrementAndGet()
    if (!ok) { failed.incrementAndGet(); errors.add(s"check failed: $what") }
  }
}

trait Workload {
  /** Write the workload's inputs for `seed` under `dir`; only these files
    * reach the program. Must be deterministic in the seed. */
  def generate(dir: Path, seed: Long): Unit

  /** Load ground truth and warm the session up on the generated inputs. */
  def warmup(ctx: Ctx, inputs: Path): Unit

  /** Closed loop until `deadlineNs`; every started operation completes. */
  def run(ctx: Ctx, inputs: Path, phase: Phase, deadlineNs: Long): Unit

  /** Compare the outputs kept during `run` with ground truth computed
    * without Spark; one `phase.check` per output. */
  def verify(ctx: Ctx, phase: Phase): Unit

  /** Workload-specific figures for the report line (never metrics). */
  def report(phase: Phase): Map[String, Any] = Map.empty
}
