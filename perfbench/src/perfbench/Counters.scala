package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/**
 * Spark and JVM work counters, collected from outside the program: a
 * `SparkListener` the benchmark registers itself, plus the JVM's MXBeans.
 * Counters only grow; a phase is measured as the difference of two
 * [[Counters.Snapshot]]s.
 */
final class Counters extends SparkListener {
  private val c = new ConcurrentHashMap[String, AtomicLong]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()

  private def add(key: String, v: Long): Unit =
    c.computeIfAbsent(key, _ => new AtomicLong()).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.LayerProperty)))
    layer.foreach(l => e.stageIds.foreach(s => stageLayer.putIfAbsent(s, l)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("stages", 1)
    stageSubmitted.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val info = e.taskInfo
    Option(stageSubmitted.get(e.stageId)).foreach { sub =>
      add("task_wait_ms", math.max(0L, info.launchTime - sub))
      add("task_wait_n", 1)
    }
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
      val layer = Option(stageLayer.get(e.stageId)).getOrElse("none")
      add(s"records_read:$layer", m.inputMetrics.recordsRead)
    }
  }

  def snapshot(): Counters.Snapshot = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    Counters.Snapshot(c.asScala.map { case (k, v) => k -> v.get }.toMap +
      ("gc_ms" -> gc), System.nanoTime())
  }
}

object Counters {
  final case class Snapshot(values: Map[String, Long], at: Long) {
    def get(k: String): Long = values.getOrElse(k, 0L)
    def -(o: Snapshot): Snapshot =
      Snapshot((values.keySet ++ o.values.keySet).map(k => k -> (get(k) - o.get(k))).toMap,
        at - o.at)
  }

  /** Heap in use after a full collection, in MB. */
  def heapAfterGcMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Memory the block manager holds for cached or checkpointed data, in MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  def totalMemoryMb(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getTotalMemorySize / 1048576.0
      case _ => Double.NaN
    }
}
