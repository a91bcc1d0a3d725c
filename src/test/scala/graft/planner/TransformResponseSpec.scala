package graft.planner

import graft.SparkTestBase
import graft.model.{FilterStage, GroupStage, JoinStage, SortStage}
import graft.pipeline.{PipelineExecutor, StageRepair}
import org.apache.spark.sql.Row

/**
 * Record-replay fixture for the LLM HTTP seam: a captured Gemini-shape
 * `/api/transform` response payload (exactly the reference's response
 * schema, server/index.js:84-195 — every field the model is forced to
 * emit) driven end-to-end through parse → StageRepair →
 * PipelineExecutor. Green here = a live HTTP adapter can drop in behind
 * [[Planner]] without engine changes.
 */
class TransformResponseSpec extends SparkTestBase {

  /** Captured response for: "total amount by customer name for orders
    * over 100, biggest first" — the shape Gemini returns under the
    * JSON-forced schema: full stage decomposition with per-type data,
    * chart axes, and an isValid flag. */
  private val goldenJson =
    """{
      |  "isValid": true,
      |  "sql": "SELECT c.name, SUM(o.amount) AS total_amount FROM orders o JOIN customers c ON o.customer_id = c.customer_id WHERE o.amount > 100 GROUP BY c.name ORDER BY total_amount DESC",
      |  "chartType": "bar",
      |  "xAxis": "name",
      |  "yAxis": "total_amount",
      |  "explanation": "Joins orders with customers, keeps orders over 100, totals amount per customer name, sorted descending.",
      |  "transformationStages": [
      |    {
      |      "type": "JOIN",
      |      "description": "Join orders with customers on customer_id",
      |      "data": {
      |        "joinType": "INNER",
      |        "leftTable": "orders",
      |        "rightTable": "customers",
      |        "leftKey": "customer_id",
      |        "rightKey": "customer_id"
      |      }
      |    },
      |    {
      |      "type": "FILTER",
      |      "description": "Keep orders with amount over 100",
      |      "data": { "column": "amount", "operator": ">", "value": "100" }
      |    },
      |    {
      |      "type": "GROUP",
      |      "description": "Total amount per customer name",
      |      "data": {
      |        "groupBy": ["name"],
      |        "aggregations": [
      |          { "function": "SUM", "column": "amount", "alias": "total_amount" }
      |        ]
      |      }
      |    },
      |    {
      |      "type": "SORT",
      |      "description": "Sort by total amount descending",
      |      "data": { "orderBy": [ { "column": "total_amount", "direction": "DESC" } ] }
      |    }
      |  ]
      |}""".stripMargin

  test("golden fixture parses into typed fields and client-shaped RawStages") {
    val r = TransformResponse.parse(goldenJson)
    assert(r.isValid)
    assert(r.sql.exists(_.startsWith("SELECT c.name")))
    assert(r.chartConfig.contains(
      graft.viz.ChartConfig("bar", "name", "total_amount")))
    assert(r.rawStages.map(_.tpe) == Seq("JOIN", "FILTER", "GROUP", "SORT"))
    assert(r.rawStages.map(_.id) ==
      Seq("stage_1", "stage_2", "stage_3", "stage_4")) // App.tsx:1040 ids
    assert(r.rawStages(1).data == Map(
      "column" -> "amount", "operator" -> ">", "value" -> "100"))
    assert(r.rawStages(2).data("groupBy") == Seq("name"))
  }

  test("golden fixture replays end-to-end: parse -> repair -> execute") {
    val ex = new PipelineExecutor(spark)
    ex.register("orders", df("order_id BIGINT, customer_id BIGINT, amount DOUBLE",
      Seq(Row(1L, 101L, 150.0), Row(2L, 101L, 80.0),
        Row(3L, 102L, 300.0), Row(4L, 102L, 200.0))))
    ex.register("customers", df("customer_id BIGINT, name STRING",
      Seq(Row(101L, "Alice"), Row(102L, "Bob"))))

    val parsed = TransformResponse.parse(goldenJson)
    val schemaOf: StageRepair.SchemaLookup = n =>
      scala.util.Try(ex.table(n)).toOption.map(_.schema.fieldNames.toSeq)
    val stages = StageRepair.repairAll(parsed.rawStages, schemaOf)
    assert(stages.map(_.getClass.getSimpleName) ==
      Seq("JoinStage", "FilterStage", "GroupStage", "SortStage"))
    assert(stages.collectFirst { case j: JoinStage => (j.leftKey, j.rightKey) }
      .contains(("customer_id", "customer_id")))
    assert(stages.collectFirst { case f: FilterStage =>
      f.conditions.map(c => (c.column, c.operator, c.value)) }
      .contains(Seq(("amount", ">", "100"))))
    assert(stages.collectFirst { case g: GroupStage =>
      g.aggregations.map(_.alias) }.contains(Seq(Some("total_amount"))))
    assert(stages.collectFirst { case s: SortStage =>
      s.orderBy.map(k => (k.column, k.direction)) }
      .contains(Seq(("total_amount", "DESC"))))

    val out = ex.run(stages)
    assertRowsInOrder(out.select("name", "total_amount"), Seq(
      Seq("Bob", 500.0),    // 300 + 200, over-100 only
      Seq("Alice", 150.0))) // the 80 is filtered out
    // the stage-to-result-table mapping the reference keeps (App.tsx:604)
    assert(ex.resultTableFor("stage_4").contains("result_stage_4_sort"))
  }

  test("toPlan: a recorded response becomes a Plan, completing the Planner seam") {
    val plan = TransformResponse.toPlan(
      TransformResponse.parse(goldenJson), _ => None)
    assert(plan.isValid && plan.stages.size == 4)
    assert(plan.chartConfig.exists(_.chartType == "bar"))
    assert(plan.sql.nonEmpty && plan.explanation.nonEmpty)
  }

  test("toPlan fuzzy-matches a GROUP stage's groupBy against its own table") {
    // the groupBy repair (ui/src/App.tsx:1394-1446) on the planner path
    val plan = TransformResponse.toPlan(TransformResponse.parse(
      """{"explanation": "e",
         "transformationStages": [{"type": "GROUP", "description": "per customer",
           "data": {"table": "orders", "groupBy": ["CustomerID"]}}]}"""),
      { case "orders" => Some(Seq("order_id", "customer_id", "amount"))
        case _ => None })
    assert(plan.stages.collect { case g: GroupStage => (g.table, g.groupBy) } ==
      Seq((Some("orders"), Seq("customer_id"))))
  }

  test("invalid response is stripped to {isValid, explanation}, like the client") {
    val r = TransformResponse.parse(
      """{"isValid": false,
         "explanation": "The request is unrelated to the data.",
         "sql": "SELECT 1", "chartType": "bar", "xAxis": "a", "yAxis": "b",
         "transformationStages": [{"type": "CUSTOM", "description": "x"}]}""")
    assert(!r.isValid && r.rawStages.isEmpty)
    assert(r.sql.isEmpty && r.chartConfig.isEmpty)
    assert(r.explanation == "The request is unrelated to the data.")
  }

  test("isValid defaults true; missing stage data defaults to empty map") {
    val r = TransformResponse.parse(
      """{"explanation": "e", "sql": "SELECT 1",
         "transformationStages": [{"type": "CUSTOM", "description": "d"}]}""")
    assert(r.isValid && r.rawStages.head.data.isEmpty)
    assert(r.chartConfig.isEmpty) // no chartType -> no config
  }

  test("numeric stage-data values arrive stringly, as StageRepair expects") {
    val r = TransformResponse.parse(
      """{"explanation": "e",
         "transformationStages": [{"type": "FILTER", "description": "f",
           "data": {"column": "amount", "operator": ">", "value": 100}}]}""")
    assert(r.rawStages.head.data("value") == "100")
    val st = StageRepair.repair(r.rawStages.head, _ => None, None)
    assert(st.collect { case f: FilterStage => f.conditions.head.value }
      .contains("100"))
  }
}
