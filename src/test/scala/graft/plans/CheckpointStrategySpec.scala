package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/**
 * The pluggable lineage-truncation contract ([[Checkpoints.truncate]]):
 * local and RELIABLE checkpoints must produce digit-identical results
 * (they materialize the same rows — only the storage medium differs),
 * reliable runs must actually write checkpoint files, and
 * [[Checkpoints.release]] must delete those files so a long session
 * doesn't fill the checkpoint directory the way r8's block leak filled
 * the block manager.
 *
 * The spec drives two real iterative operators (PageRank's fixed-round
 * |V|-shuffle loop, connected components' doubling loop) rather than a
 * synthetic frame, because the hazard is per-ROUND truncation inside
 * an iteration, not a single checkpoint.
 */
class CheckpointStrategySpec extends SparkTestBase {

  private def edges = {
    val rng = new scala.util.Random(42)
    val rows = (0 until 400).map { _ =>
      (s"n${rng.nextInt(60)}", s"n${rng.nextInt(60)}")
    }.filter { case (a, b) => a != b }
    spark.createDataFrame(rows).toDF("src", "dst")
  }

  /** Run `body` with the reliable strategy forced on (checkpoint dir +
    * authoritative conf), restoring local-strategy behavior after —
    * the conf is left at `false`, which overrides the now-set session
    * checkpoint dir for every later suite in this shared JVM. */
  private def withReliable[A](body: => A): A = {
    val dir = tempDir("graft-ckpt-spec").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Checkpoints.ReliableConf, "true")
    try body finally spark.conf.set(Checkpoints.ReliableConf, "false")
  }

  private def checkpointRoot = new org.apache.hadoop.fs.Path(
    spark.sparkContext.getCheckpointDir.get)

  private def filesUnderCheckpointDir(): Int = {
    val p = checkpointRoot
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
  }

  test("pagerank and connected components are digit-identical under " +
      "local and reliable truncation") {
    val e = edges
    def rank() = graft.operators.Graph
      .pageRank(e, "src", "dst", iterations = 8)
      .orderBy("node").collect().map(_.toSeq.map(String.valueOf)).toSeq
    def comps() = graft.operators.Dedup
      .connectedComponents(e.toDF("a", "b"), "a", "b")
      .orderBy("id").collect().map(_.toSeq.map(String.valueOf)).toSeq
    val localRank = rank()
    val localComps = comps()
    val (relRank, relComps) = withReliable { (rank(), comps()) }
    assert(relRank == localRank, "pagerank diverged across strategies")
    assert(relComps == localComps, "components diverged across strategies")
  }

  test("reliable truncation writes checkpoint files and release() " +
      "deletes a released frame's files") {
    withReliable {
      val df = Checkpoints.truncate(edges.groupBy("src")
        .agg(count(lit(1)).as("deg")))
      assert(df.count() > 0)
      val before = filesUnderCheckpointDir()
      assert(before > 0, "reliable checkpoint wrote no files")
      val released = Checkpoints.release(df)
      assert(released == 1, s"expected 1 checkpoint leaf, got $released")
      val after = filesUnderCheckpointDir()
      assert(after < before,
        s"release() left the checkpoint files in place ($before -> $after)")
    }
  }

  test("the conf is authoritative: false forces local truncation even " +
      "with a checkpoint dir set") {
    withReliable {
      spark.conf.set(Checkpoints.ReliableConf, "false")
      val df = Checkpoints.truncate(edges.limit(5))
      assert(df.count() == 5)
      // a LOCAL checkpoint has no file
      val hasFile = df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.getCheckpointFile.isDefined
      }
      assert(hasFile == Seq(false), s"got $hasFile")
      Checkpoints.release(df)
    }
  }
}
