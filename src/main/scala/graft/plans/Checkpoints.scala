package graft.plans

import org.apache.spark.sql.DataFrame

/**
 * Release contract for checkpoint-backed results — the missing half of
 * the iterative operators' storage discipline.
 *
 * Iterative operators ([[graft.operators.Graph]],
 * [[graft.operators.Dedup.connectedComponents]],
 * [[graft.operators.Centroids]], [[graft.operators.Attribution]]…)
 * return `localCheckpoint(eager = true)` frames: the checkpoint
 * truncates the iteration's lineage and lets the operator unpersist
 * its INTERNAL caches before returning, but the checkpoint's own
 * block-manager storage has CALLER-OWNED lifetime — it lives until
 * the JVM drops the frame. A session that runs many heavy iterative
 * queries back-to-back therefore accumulates dead result blocks, and
 * the block-manager pressure taxes later queries (measured at sf1:
 * pagerank_weighted 54.9 s → 198 s on its second warm repetition
 * before this contract existed — see BASELINE.md round 8).
 *
 * [[release]] frees those blocks explicitly. AFTER RELEASE THE FRAME
 * IS DEAD: a local checkpoint discards the lineage needed to
 * recompute it, so any further action on the frame (or anything
 * derived from it that was not itself materialized) throws. Call it
 * when — and only when — the result has been fully consumed (written,
 * collected, or folded into something materialized). Bench and
 * ProfileQ release every query's result between timed runs for
 * exactly this reason.
 */
object Checkpoints {

  /** Session conf key forcing RELIABLE checkpoints (see [[truncate]]);
    * setting a `SparkContext` checkpoint dir has the same effect. */
  val ReliableConf = "spark.graft.checkpoint.reliable"

  /**
   * Truncate `df`'s lineage — the pluggable strategy behind every
   * iterative operator's per-round checkpoint:
   *
   *  - default: `localCheckpoint(eager)` — blocks live in executor
   *    storage, zero external I/O. Right for local mode and for
   *    clusters where re-running a lost query beats paying DFS writes
   *    per iteration, but the blocks DIE WITH THEIR EXECUTOR: on a
   *    1000-executor 100-TB run, routine executor loss would kill a
   *    20-iteration PageRank mid-flight with an unrecomputable-block
   *    error.
   *  - reliable: when the session has a `SparkContext` checkpoint dir
   *    (or [[ReliableConf]] is `true`), `checkpoint(eager)` writes the
   *    rows to the checkpoint directory (HDFS/S3 on a real cluster) —
   *    executor loss just re-reads the files. Costs one DFS
   *    write+read per truncation (measured delta in BASELINE.md).
   *
   * Both strategies materialize the same rows, so results are
   * digit-identical (pinned by CheckpointStrategySpec); [[release]]
   * frees either kind.
   */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    // the conf, when set, is authoritative (so `false` can force local
    // truncation in a session that has a checkpoint dir for other
    // reasons); otherwise a configured checkpoint dir opts in
    val wantReliable = spark.conf.getOption(ReliableConf) match {
      case Some(v) => v.toBoolean
      case None => sc.getCheckpointDir.isDefined
    }
    if (wantReliable) {
      require(sc.getCheckpointDir.isDefined,
        s"$ReliableConf=true needs a checkpoint dir: call " +
          "sparkContext.setCheckpointDir(...) (HDFS/S3 on a cluster)")
      df.checkpoint(eager)
    } else df.localCheckpoint(eager)
  }

  /** Unpersist every checkpoint-backed leaf (`LogicalRDD` sources
    * reachable from `df`'s analyzed plan) and, for RELIABLE
    * checkpoints, delete their files from the checkpoint directory.
    * Returns the number of storage handles released. No-op (0) for
    * plans with no checkpoint leaves — safe to call on any frame.
    * Deliberately does NOT touch `InMemoryRelation` (`.cache()`)
    * leaves: whoever called `.cache()` owns that frame and its
    * `unpersist`, and unlike a checkpoint a cached block can recompute
    * if evicted — the leak this contract closes is specifically the
    * unrecomputable, caller-owned checkpoint block. */
  def release(df: DataFrame, blocking: Boolean = false): Int = {
    var n = 0
    val hadoopConf = df.sparkSession.sparkContext.hadoopConfiguration
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking)
        // a reliable checkpoint's rows live in FILES, not blocks —
        // getCheckpointFile is Some only for that kind
        lr.rdd.getCheckpointFile.foreach { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          val fs = path.getFileSystem(hadoopConf)
          fs.delete(path, true)
        }
        n += 1
      case _ =>
    }
    n
  }

  /** Chaining sugar: `df.truncateLineage()` == [[truncate]](df) —
    * the drop-in spelling at the 60+ former `localCheckpoint` sites. */
  implicit final class LineageOps(private val df: DataFrame)
      extends AnyVal {
    def truncateLineage(eager: Boolean = true): DataFrame =
      truncate(df, eager)
  }
}
