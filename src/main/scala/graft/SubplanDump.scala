package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Pre-checkpoint subtree plans for ITERATIVE operators (graph,
 * attribution, ann): `df.explain` on their public results only shows
 * `Scan ExistingRDD` — the eager checkpoint hides the real plan from
 * audit. This diagnostic main rebuilds the operator's LIVE internal
 * frame (before the final checkpoint) the same way the query gate does
 * and dumps its formatted plan with [[ProfileQ.writePlan]].
 *
 * Usage: `SubplanDump <name> [<name> ...]` (or `all`). Diagnostic
 * only — never part of the bench/oracle surface.
 */
object SubplanDump {

  private def coorderEdges(ex: graft.pipeline.PipelineExecutor): DataFrame = {
    val pairs = ex.table("lineitem").join(ex.table("orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("c:"), col("o_custkey")).as("c"),
        concat(lit("s:"), col("l_suppkey")).as("p"))
    pairs.select(col("c").as("src"), col("p").as("dst"))
      .unionByName(pairs.select(col("p").as("src"), col("c").as("dst")))
  }

  /** name -> live (pre-checkpoint) frame builder. */
  private def subplans(spark: SparkSession, sfDir: String)
      : Map[String, () => DataFrame] = {
    def ex = SparkEntry.executor(spark, sfDir)
    Map(
      "sub_graph_pagerank_ranks" -> (() => {
        val (ranks, _) = graft.operators.Graph.pageRankRaw(
          coorderEdges(ex), "src", "dst", iterations = 3)
        ranks
      }),
      // one star-contraction round over the chain gate's path graph —
      // the loop body of Dedup.connectedComponentsStar, whose per-round
      // checkpoint hides it from the public result's explain
      "sub_dedup_star_round" -> (() => {
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"))
        // bounded-window: test-scaffold — same gate-local chain fixture as q_dedup_components_chain
        val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
        val pairs = docs
          .withColumn("__next", org.apache.spark.sql.functions.lead(col("doc_id"), 1).over(w))
          .filter(col("__next").isNotNull)
          .select(col("doc_id").as("id_a"), col("__next").as("id_b"))
        val edges = pairs
          .select(greatest(col("id_a"), col("id_b")).as("hi"),
            least(col("id_a"), col("id_b")).as("lo"))
          .distinct()
        graft.operators.Dedup.starRound(edges)
      })
    )
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SubplanDump <name> [<name> ...] | all")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(appName = "graft-subplan")
    val reg = subplans(spark, sfDir)
    val names = if (args.sameElements(Array("all"))) reg.keys.toSeq.sorted
                else args.toSeq
    for (n <- names) {
      ProfileQ.writePlan(n, reg(n)())
      System.err.println(s"[subplan] $n dumped")
    }
    spark.stop()
  }
}
