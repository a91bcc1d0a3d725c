package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Decade-2 scale probe: times the five heaviest sf1 families (the
 * round-8 board's top pair-volume queries) across THREE data decades —
 * sf0.1, the 10× sf1 build, and a 100× sf10 build — and prints each
 * family's per-decade cost ratios. The growth-law check is ratio
 * stability: a family whose second-decade ratio (sf10/sf1) stays
 * within ~1.5× of its first-decade ratio (sf1/sf0.1) is growing by
 * its predicted law (pair-linear for blocked linkage/fuzzy candidates,
 * data-linear for iteration-flat graph fits and basket counting);
 * a super-linear term would COMPOUND and blow the second ratio.
 *
 * `q_mine_margin` is probed in its production shape — FIXED probe set
 * (replica-0 ids), growing corpus: the gate's both-sides-grow shape is
 * deliberately quadratic (|X|·|Y| brute-force pair math), so its
 * honest decade law is measured with |X| pinned, where cost is
 * corpus-linear.
 *
 * Usage: Decade2 <sf0.1-dir> <sf1-dir> <sf10-dir> [reps=1]
 * (build the scaled dirs first: `BuildScaled <sf0.1> <sf1dir> 10`,
 * `BuildScaled <sf0.1> <sf10dir> 100`)
 */
object Decade2 {

  private val replica0Cap = 100000000L // ids below this = replica 0

  def families(spark: org.apache.spark.sql.SparkSession)
      : Seq[(String, String => DataFrame)] = Seq(
    "q_linkage_score" -> ((d: String) =>
      SparkEntry.queries("q_linkage_score")(spark, d)),
    "q_fuzzy_pairs" -> ((d: String) =>
      SparkEntry.queries("q_fuzzy_pairs")(spark, d)),
    "q_graph_pagerank_weighted" -> ((d: String) =>
      SparkEntry.queries("q_graph_pagerank_weighted")(spark, d)),
    "q_basket_rules" -> ((d: String) =>
      SparkEntry.queries("q_basket_rules")(spark, d)),
    // the gate's margin mining with the probe side PINNED to replica 0
    // (see scaladoc) — corpus-linear by construction
    "q_mine_margin_fixedprobe" -> ((d: String) => {
      val e = spark.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"),
          graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
      val xs = e.filter(col("vec_id") % 2 === 0 &&
        col("vec_id") < replica0Cap)
      val ys = e.filter(col("vec_id") % 2 === 1)
      val xp = xs.select(col("vec_id").as("qid"), col("v").as("qv"))
      val yp = ys.filter(col("vec_id") < replica0Cap)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val fwd = graft.operators.Ann.bruteForceTopK(
        ys, "vec_id", "v", xp, "qid", "qv", k = 4)
      val bwd = graft.operators.Ann.bruteForceTopK(
        xs, "vec_id", "v", yp, "qid", "qv", k = 4)
      graft.operators.Ann.marginPairs(fwd, bwd, threshold = 1.0)
        .orderBy("src_id")
    }))

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Decade2 <sf0.1> <sf1> <sf10> [reps]")
    val dirs = args.take(3)
    val reps = if (args.length > 3) args(3).toInt else 1
    val spark = GraftSession.builder(appName = "graft-decade2")

    def time(f: () => DataFrame): Double = {
      System.gc()
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val df = f()
        df.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.plans.Checkpoints.release(df)
        dt
      }
      runs.min
    }

    // warm codegen paths once
    SparkEntry.queries("q_pipeline")(spark, dirs.head)
      .write.format("noop").mode("overwrite").save()

    val rows = families(spark).map { case (name, q) =>
      val ts = dirs.map { d =>
        val s = time(() => q(d))
        System.err.println(f"[decade2] $name $d $s%.1fs")
        s
      }
      val r1 = ts(1) / ts(0)
      val r2 = ts(2) / ts(1)
      (name, ts, r1, r2)
    }
    println("| family | sf0.1 s | sf1 s | sf10 s | decade1 x | decade2 x |")
    println("|---|---|---|---|---|---|")
    rows.foreach { case (n, ts, r1, r2) =>
      println(f"| $n | ${ts(0)}%.1f | ${ts(1)}%.1f | ${ts(2)}%.1f " +
        f"| $r1%.1f | $r2%.1f |")
    }
    Console.out.flush()
    spark.stop()
  }
}
