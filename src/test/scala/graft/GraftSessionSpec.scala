package graft

import org.apache.spark.network.util.JavaUtils

/** The session settings that are constants, not knobs: each value here is
  * the one every session runs with. */
class GraftSessionSpec extends SparkTestBase {

  test("builder pins the codegen cache, cache compression and AQE floor") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    assert(spark.conf.get("spark.sql.inMemoryColumnarStorage.compressed") == "false")
    assert(JavaUtils.byteStringAsBytes(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")) == 1024L * 1024)
  }

  test("the builder sets no graft conf key; specs may set the two real ones") {
    val known = Set(graft.plans.Checkpoints.ReliableConf,
      graft.plans.CumWalk.WindowCutoffConf)
    assert(spark.conf.getAll.keys.filter(_.startsWith("spark.graft.")).toSet
      .subsetOf(known))
  }
}
