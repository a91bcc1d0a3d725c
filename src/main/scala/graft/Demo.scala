package graft

import graft.model._
import graft.operators._
import graft.pipeline._
import graft.planner._
import graft.sql._
import graft.streaming._
import graft.viz._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/**
 * End-to-end demo of the public API: plan → repair → execute → chart,
 * multimodal metadata/decode plumbing, and a streaming stage pipeline.
 * Runnable documentation — `./run_main.sh graft.Demo`.
 */
object Demo {
  final case class Ev(event_id: Long, ts: java.sql.Timestamp,
                      event_type: String, value: Double)

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(appName = "graft-demo")
    import spark.implicits._

    // 1. NL prompt → plan (SQL + stages + chart) → execute → chart suggestion
    val schemas = Seq(
      TableSchema("orders", Seq("order_id" -> "BIGINT", "customer_id" -> "BIGINT",
        "amount" -> "DOUBLE")),
      TableSchema("customers", Seq("customer_id" -> "BIGINT", "name" -> "VARCHAR")))
    val plan = new MockPlanner().plan("join orders and customers", schemas)
    println(s"PLAN_SQL=${plan.sql}")
    println(s"PLAN_STAGES=${plan.stages.map(_.stageType).mkString(",")}")
    println(s"PLAN_PROMPT=${PromptGenerator.fromStages(plan.stages)}")

    Seq((1L, 101L, 50.0), (2L, 102L, 950.0)).toDF("order_id", "customer_id", "amount")
      .createOrReplaceTempView("orders")
    Seq((101L, "Alice"), (102L, "Bob")).toDF("customer_id", "name")
      .createOrReplaceTempView("customers")
    val planned = spark.sql(plan.sql)
    println(s"PLAN_EXEC_ROWS=${planned.count()}")
    println(s"CHART=${ChartConfig.suggest(planned)}")

    // 2. Repair a malformed planner stage, then run it through the pipeline
    val raw = StageRepair.RawStage("s1", "FILTER", "keep high value orders",
      Map("table" -> "orders"))
    val repaired = StageRepair.repair(raw,
      _ => Some(Seq("order_id", "customer_id", "amount")), Some("orders"))
    println(s"REPAIRED=$repaired")
    val ex = new PipelineExecutor(spark)
    ex.register("orders", spark.table("orders"))
    println(s"REPAIR_EXEC_ROWS=${ex.run(Seq(repaired.get)).count()}")
    println(s"RESOLVE=${ex.resolveTableName("orders_csv")}")

    // 3. Multimodal: magic-byte sniffing + stubbed decode plumbing
    val media = Seq((1L, Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10,
      0, 0, 0, 13))).toDF("id", "payload")
    println(s"MIME=${Multimodal.withMetadata(media, "payload")
      .select("meta.mime").head().getString(0)}")
    println(s"FEAT_W=${Multimodal.decodeFeatures(media, "payload")
      .select("feat.width").head().getInt(0)}")

    // 4. Train-batch / serve-stream curation loop: fit the in-plan
    // quality classifier, hand the weights to the stream-legal scorer,
    // and rank an arena of model outputs with Bradley-Terry
    val corpus = Seq((1L, "good clean prose", 1.0), (2L, "fine good text", 1.0),
      (3L, "spam junk bad", 0.0), (4L, "bad noisy junk", 0.0))
      .toDF("id", "text", "y")
    val weights = Classifier.fitLogistic(corpus, "id", "text", "y",
      buckets = 32, iterations = 4, lr = 1.0)
    val (bias, wm) = Classifier.collectWeights(weights)
    val scores = Classifier.scoreInline(corpus, "id", "text", bias, wm, 32)
      .orderBy(org.apache.spark.sql.functions.col("score").desc)
    println(s"CLASSIFIER_TOP=${scores.head().getLong(0)}")
    val games = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 2L))
      .toDF("winner", "loser")
    val ratings = Preference.bradleyTerry(games, "winner", "loser",
      iterations = 10)
    println(s"ARENA_BEST=${ratings
      .orderBy(org.apache.spark.sql.functions.col("strength").desc)
      .head().getLong(0)}")

    // 5. Streaming: stage algebra over an unbounded source
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), "click", 1.0),
      Ev(2, java.sql.Timestamp.valueOf("2026-01-01 10:01:00"), "view", 2.0))
    val sOut = StreamingPipeline.applyStages(spark, mem.toDF(),
      Seq(FilterStage("f", "", None, Seq(FilterCondition("event_type", "=", "click")))))
    val q = sOut.writeStream.format("memory").queryName("probe_out")
      .outputMode("append").start()
    q.processAllAvailable()
    println(s"STREAM_ROWS=${spark.sql("SELECT count(*) FROM probe_out").head.getLong(0)}")
    q.stop()
    spark.stop()
    println("DRIVE_OK")
  }
}
