package graft

/**
 * Builds a FULL sf1-equivalent testdata directory from sf0.1: the eight
 * big tables go through [[ScaleProbe.buildScaled]]'s 10× statistically-
 * independent replication (shifted keys, rotated text — real growth, not
 * duplication artifacts), and the remaining small tables (region,
 * nation) copy verbatim, exactly as TPC-H holds dimension leaves fixed
 * across scale factors. The result is a directory `graft.Bench` can
 * point at for the full-board sf1 run (`BENCH_full_sf1`).
 *
 * Usage: BuildScaled <srcDir> <outDir> [replication=10]
 */
object BuildScaled {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BuildScaled <srcDir> <outDir> [rep]")
    val srcDir = args(0)
    val outDir = args(1)
    val rep = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.builder(appName = "graft-build-scaled")
    ScaleProbe.buildScaled(spark, srcDir, outDir, rep)
    Seq("region", "nation").foreach { t =>
      if (!new java.io.File(s"$outDir/$t.parquet").exists()) {
        spark.read.parquet(s"$srcDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
        System.err.println(s"[scale] copied $t verbatim")
      }
    }
    spark.stop()
  }
}
