package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import scala.collection.mutable

/**
 * Optimization-round profiling harness (guide §1: measure first).
 * `ProfileQ <query> [<query> ...]` runs each named SparkEntry query
 * through the noop sink twice (run 1 absorbs codegen compile; run 2 is
 * instrumented) and prints, per query:
 *
 *  - a stage table (duration, task count, shuffle read/write bytes,
 *    records, memory/disk spill) from a SparkListener, and
 *  - the executed plan's per-operator SQLMetrics (rows, dataSize, op
 *    times) walked from the AQE final plan,
 *
 * then dumps `.explain("formatted")` with [[writePlan]].
 * `SPARK_GRAFT_PLAN_ONLY=1` dumps the plans without executing
 * anything. The one per-query profiler; for plain per-query seconds run
 * `graft.Bench <query> ...`. Diagnostic only — never part of the
 * bench/oracle surface.
 */
object ProfileQ {
  private final class StageCollector extends SparkListener {
    final case class Row(id: Int, name: String, ms: Long, tasks: Int,
                         shufReadMB: Double, shufWriteMB: Double,
                         inRecords: Long, outRecords: Long,
                         spillMB: Double)
    val rows = mutable.ArrayBuffer[Row]()
    // per-stage task-metric sums: where did the task time actually go?
    final case class T(var run: Long = 0, var gc: Long = 0, var deser: Long = 0,
                       var resSer: Long = 0, var wall: Long = 0)
    val tasks = mutable.Map[Int, T]()
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val t = tasks.getOrElseUpdate(te.stageId, T())
      val m = te.taskMetrics
      if (m != null) {
        t.run += m.executorRunTime; t.gc += m.jvmGCTime
        t.deser += m.executorDeserializeTime
        t.resSer += m.resultSerializationTime
        t.wall += te.taskInfo.duration
      }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      val ms = (for {s <- si.submissionTime; c <- si.completionTime}
        yield c - s).getOrElse(-1L)
      rows += Row(si.stageId, si.name.takeWhile(_ != '\n').take(90), ms,
        si.numTasks,
        m.shuffleReadMetrics.totalBytesRead / 1048576.0,
        m.shuffleWriteMetrics.bytesWritten / 1048576.0,
        m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.recordsWritten,
        (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
    }
  }

  /** Writes `df`'s formatted plan to `<SPARK_GRAFT_PLAN_DIR, default
    * plans/r11>/<name>_<tag>.txt` (tag from SPARK_GRAFT_PLAN_TAG, default
    * "before"). The one plan-file writer: ProfileQ and [[SubplanDump]]. */
  private[graft] def writePlan(name: String, df: DataFrame): Unit = {
    val dir = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r11"))
    dir.mkdirs()
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val w = new java.io.PrintWriter(new java.io.File(dir, s"${name}_$tag.txt"))
    try w.println(df.queryExecution.explainString(FormattedMode))
    finally w.close()
  }

  private def walk(p: SparkPlan, depth: Int, out: StringBuilder): Unit = {
    val keep = Seq("numOutputRows", "dataSize", "time in aggregation build",
      "aggregate time", "sort time", "shuffle write time", "time to build",
      "time to broadcast", "scan time", "duration", "shuffle records written",
      "records read", "number of output batches")
    val ms = p.metrics.collect {
      case (k, v) if v.value > 0 && keep.exists(k.contains) =>
        s"$k=${v.value}"
    }.toSeq.sorted.mkString(" ")
    out.append("  " * depth).append(p.nodeName)
    if (ms.nonEmpty) out.append("  [").append(ms).append("]")
    out.append('\n')
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children ++ other.subqueries
    }
    kids.foreach(walk(_, depth + 1, out))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQ <query> [<query> ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(appName = "graft-profile")
    // plan-only mode: dump formatted plans without executing (cheap
    // "before" evidence capture for queries about to be changed)
    if (sys.env.get("SPARK_GRAFT_PLAN_ONLY").contains("1")) {
      for (name <- args) {
        writePlan(name, SparkEntry.queries(name)(spark, sfDir))
        System.err.println(s"[planonly] $name dumped")
      }
      spark.stop()
      return
    }
    // warmup: representative scan+join+agg+sort compile pass
    SparkEntry.queries("q_pipeline")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    var lastCompileCount =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
    for (name <- args) {
      // frame CONSTRUCTION is inside both timed regions — iterative
      // operators run their eager per-round checkpoints at build time,
      // and Bench times the build too
      spark.sparkContext.setJobDescription(s"profile:$name warm")
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val warm = (System.nanoTime() - t0) / 1e9
      graft.plans.Checkpoints.release(df)
      System.gc()
      lastCompileCount = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
      val coll = new StageCollector
      spark.sparkContext.addSparkListener(coll)
      spark.sparkContext.setJobDescription(s"profile:$name timed")
      val t1 = System.nanoTime()
      val df2 = SparkEntry.queries(name)(spark, sfDir)
      df2.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t1) / 1e9
      spark.sparkContext.removeSparkListener(coll)
      println(f"\n===== $name run1=$warm%.2fs run2=$dt%.2fs =====")
      locally {
        // codegen compile volume: count is monotonic, so report the delta
        // of the timed run vs the warm run (lastCompileCount)
        val cm = org.apache.spark.metrics.source.CodegenMetrics
        val cnt = cm.METRIC_COMPILATION_TIME.getCount
        println(s"[codegen] compilesThisTimedRun=${cnt - lastCompileCount} " +
          s"cumulative=$cnt")
        lastCompileCount = cnt
      }
      println(f"${"stage"}%6s ${"ms"}%8s ${"tasks"}%5s ${"shR_MB"}%8s " +
        f"${"shW_MB"}%8s ${"recR"}%10s ${"recW"}%10s ${"spill"}%7s  name")
      coll.rows.sortBy(-_.ms).foreach { r =>
        val t = coll.tasks.getOrElse(r.id, coll.T())
        println(f"${r.id}%6d ${r.ms}%8d ${r.tasks}%5d ${r.shufReadMB}%8.1f " +
          f"${r.shufWriteMB}%8.1f ${r.inRecords}%10d ${r.outRecords}%10d " +
          f"${r.spillMB}%7.1f  run=${t.run} gc=${t.gc} deser=${t.deser} " +
          f"wall=${t.wall}  ${r.name}")
      }
      val sb = new StringBuilder
      walk(df2.queryExecution.executedPlan, 0, sb)
      println("--- executed plan (with metrics) ---")
      println(sb.result())
      graft.plans.Checkpoints.release(df2)
      // formatted plan dump for the committed evidence
      writePlan(name, SparkEntry.queries(name)(spark, sfDir))
    }
    spark.stop()
  }
}
