package graft.streaming

import graft.SparkTestBase
import graft.operators.Expect
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}

/**
 * Streaming write-audit-publish: every published micro-batch directory
 * is fully audited (`_AUDIT.json` present) or not visible at all — a
 * failing batch kills the query BEFORE publishing, leaving prior
 * batches intact and no staging debris.
 */
class StreamingWapSpec extends SparkTestBase {

  case class Doc(id: Long, text: String)

  test("good batches publish atomically; a failing audit blocks publication") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val base = tempDir("graft_swap").toString
    val ckpt = tempDir("graft_swap_ck").toString
    val mem = MemoryStream[Doc]
    val rules = Seq(Expect.notNull("text"))
    val q = mem.toDF().writeStream
      .foreachBatch(StreamingPipeline.wapBatchSink(base, rules))
      .option("checkpointLocation", ckpt)
      .start()
    try {
      mem.addData(Doc(1L, "ok"), Doc(2L, "fine"))
      q.processAllAvailable()
      // batch 0 published with its audit trail
      assert(Files.exists(Paths.get(base, "batch_0", "_AUDIT.json")))
      assert(spark.read.parquet(s"$base/batch_0").count() == 2L)

      // batch 1 violates not_null -> the query must FAIL, not publish
      mem.addData(Doc(3L, null))
      val err = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
      assert(msgs(err).exists(_.contains("audit failed")), msgs(err).mkString("|"))
      assert(!Files.exists(Paths.get(base, "batch_1")))
      // no staging debris left behind
      val leftovers = new java.io.File(base).list().toSeq
        .filter(_.startsWith("."))
      assert(leftovers.isEmpty, leftovers.toString)
      // the good batch is still there, untouched
      assert(spark.read.parquet(s"$base/batch_0").count() == 2L)
    } finally if (q.isActive) q.stop()
  }
}
