package graft.pipeline

import graft.SparkTestBase
import graft.model._
import graft.planner.ImagePromptBuilder
import graft.planner.ImagePromptBuilder._
import graft.sources.Ingest
import org.apache.spark.sql.Row

/**
 * End-to-end image→flow integration: the two halves of the reference's
 * `/api/analyze-flow-image` path meet. Server side (ImagePromptBuilder,
 * server/index.js:481-933): the flow context assembled from live pipeline
 * state must present the latest result table as the mandated connection
 * target. Client side (ui/src/App.tsx:736-1536): the vision response —
 * an extracted payload table plus a JOIN continuation stage, exactly what
 * the prompt's rules require the model to produce — goes through payload
 * ingestion, stage repair, and per-stage materialized execution.
 */
class ImageFlowSpec extends SparkTestBase {

  private def freshFlow(): PipelineExecutor = {
    val ex = new PipelineExecutor(spark)
    ex.register("table_customers", df("customer_id INT, name STRING", Seq(
      Row(1, "Alice"), Row(2, "Bob"), Row(3, "Cara"))))
    ex.register("table_orders", df("order_id INT, customer_id INT, amount DOUBLE", Seq(
      Row(101, 1, 50.0), Row(102, 2, 500.0), Row(103, 3, 1500.0), Row(104, 1, 2000.0))))
    ex.run(Seq(
      JoinStage("stage_1", "join orders to customers", "INNER",
        "table_orders", "table_customers", "customer_id", "customer_id"),
      FilterStage("stage_2", "keep big orders", None,
        Seq(FilterCondition("amount", ">", "100")))))
    ex
  }

  /** The client's context payload from live executor state
    * (ui/src/App.tsx:1806-1867). */
  private def contextOf(ex: PipelineExecutor): FlowContext = {
    val resultTables = ex.stageToTable.values.toSeq
    val latest = resultTables.lastOption
    FlowContext(
      existingTables = ex.tableNames.map { n =>
        ContextTable(n, ex.describe(n).map { case (c, t) => ContextColumn(c, t) },
          isResultTable = resultTables.contains(n),
          isLatestResultTable = latest.contains(n))
      },
      existingStages = ex.stageToTable.toSeq.map { case (sid, tbl) =>
        ContextStage(tbl.split("_").last.toUpperCase, s"stage $sid", Some(tbl))
      },
      latestStageIndex = ex.stageToTable.size - 1,
      stageToTableInfo = ex.stageToTable.toSeq.map { case (sid, tbl) =>
        StageToTable(tbl.split("_").last.toUpperCase, s"stage $sid", tbl)
      })
  }

  test("assembled context presents the latest result table as the [LATEST] target") {
    val ex = freshFlow()
    val req = ImagePromptBuilder.imageAnalysisRequest(Some(contextOf(ex)))
    // the prompt names the actual latest result table as the mandated
    // first connection target, with its live columns
    assert(req.prompt.contains(
      "- result_stage_2_filter (columns: order_id (INTEGER), customer_id (INTEGER), " +
        "amount (DOUBLE), name (VARCHAR)) [LATEST]"))
    // within the context block, the LATEST section precedes the
    // loaded-tables fallback section
    val info = ImagePromptBuilder.contextInfo(Some(contextOf(ex)))
    assert(info.indexOf("result_stage_2_filter (columns") <
      info.indexOf("LOADED TABLES (original sources"))
    assert(req.prompt.contains("[LATEST - CONTINUE FROM HERE!]"))
  }

  test("vision response (payload table + JOIN continuation) repairs and executes against the flow") {
    val ex = freshFlow()

    // The simulated vision response for a "products" screenshot, shaped
    // exactly as the prompt's STEP 1 example mandates: connect the new
    // table to the [LATEST] result on the shared customer_id column.
    val products = Ingest.fromImagePayload(spark,
      Seq(Ingest.ImageColumn("Product_ID", "INTEGER"),
        Ingest.ImageColumn("Customer_ID", "INTEGER"),
        Ingest.ImageColumn("Price", "DOUBLE")),
      Seq(Seq("501", "1", "9.99"), Seq("502", "2", "19.99")))
    ex.register("products", products)
    assert(products.schema.fieldNames.toSeq ==
      Seq("product_id", "customer_id", "price")) // lowercase normalization

    val raw = Seq(StageRepair.RawStage(
      "stage_join_continuation_1", "JOIN",
      "Join products with result_stage_2_filter to continue flow",
      Map("joinType" -> "INNER",
        "leftTable" -> "result_stage_2_filter", "rightTable" -> "products",
        "leftKey" -> "customer_id", "rightKey" -> "customer_id")))
    val schemaOf: StageRepair.SchemaLookup = n =>
      scala.util.Try(ex.table(n)).toOption.map(_.schema.fieldNames.toSeq)
    val repaired = StageRepair.repairAll(raw, schemaOf)
    assert(repaired.size == 1)

    // image path = continue-on-error execution (ui/src/App.tsx:1491-1498)
    val out = ex.run(repaired, ErrorPolicy.Continue)
    assertSameRows(
      out.select("order_id", "customer_id", "amount", "name", "product_id", "price"),
      Seq(
        Seq(104, 1, 2000.0, "Alice", 501, 9.99),
        Seq(102, 2, 500.0, "Bob", 502, 19.99)))
  }

  test("JOIN continuation with missing keys repairs from the description (planner hardening)") {
    val ex = freshFlow()
    val products = Ingest.fromImagePayload(spark,
      Seq(Ingest.ImageColumn("Customer_ID", "INTEGER"),
        Ingest.ImageColumn("Price", "DOUBLE")),
      Seq(Seq("1", "9.99")))
    ex.register("products", products)
    // the model omitted leftKey/rightKey but named the key in the
    // description — the repair pass infers it (ui/src/App.tsx:1008-1061)
    val raw = Seq(StageRepair.RawStage(
      "stage_join_continuation_1", "JOIN",
      "Join products with latest result on customer_id",
      Map("joinType" -> "INNER",
        "leftTable" -> "result_stage_2_filter", "rightTable" -> "products")))
    val repaired = StageRepair.repairAll(raw,
      n => scala.util.Try(ex.table(n)).toOption.map(_.schema.fieldNames.toSeq))
    assert(repaired == Seq(JoinStage(
      "stage_join_continuation_1",
      "Join products with latest result on customer_id", "INNER",
      "result_stage_2_filter", "products", "customer_id", "customer_id")))
    val out = ex.run(repaired, ErrorPolicy.Continue)
    assert(out.count() == 1L)
  }
}
