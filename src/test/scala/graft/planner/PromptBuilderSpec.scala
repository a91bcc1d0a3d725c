package graft.planner

import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the assembled transform request to the reference's rules
  * (server/index.js:84-195 schema, 226-333 prompt). */
class PromptBuilderSpec extends AnyFunSuite {

  private val schemas = Seq(
    TableSchema("table_orders", Seq("order_id" -> "BIGINT", "amount" -> "DOUBLE")),
    TableSchema("table_customers", Seq("customer_id" -> "BIGINT", "name" -> "VARCHAR")))

  private val req = PromptBuilder.transformRequest("join orders to customers", schemas)

  test("request carries the reference's model id and JSON-forced output") {
    assert(PromptBuilder.ModelId == "gemini-3-flash-preview")
    assert(req.responseSchema == PromptBuilder.responseSchema && req.audioMimeType.isEmpty)
    // generateContent sets responseMimeType on every request (HttpPlannerSpec)
  }

  test("prompt lists every table with its schema, one '- name: [...]' line each") {
    assert(req.prompt.contains("Available Tables:"))
    schemas.foreach(s => assert(req.prompt.contains(s"- ${s.name}: [")))
    assert(req.prompt.contains("\"column_name\":\"order_id\""))
    assert(req.prompt.contains("User Goal: \"join orders to customers\""))
  }

  test("prompt includes the SQL->stage decomposition and CUSTOM-SQL rules") {
    val rules = Seq(
      "Write valid DuckDB SQL",
      "use type \"JOIN\"",
      "use type \"FILTER\"",
      "Only use \"CUSTOM\" if the SQL doesn't fit any of the above categories",
      "CUSTOM: sql string",
      "MANDATORY: You MUST return the transformationStages array",
      "set chartType to 'none'")
    rules.foreach(r => assert(req.prompt.contains(r), s"missing rule: $r"))
  }

  test("empty schema list falls back to the single-table prompt form") {
    val p = PromptBuilder.buildPrompt("x", Nil)
    assert(p.contains("Current Table Schema (DuckDB):"))
    assert(!p.contains("Available Tables:"))
  }

  private def props(o: JValue): Set[String] = o \ "properties" match {
    case JObject(fields) => fields.map(_._1).toSet
    case _               => Set.empty
  }

  test("response schema: top-level fields and required list match the reference") {
    val s = PromptBuilder.responseSchema
    assert(props(s) == Set("isValid", "sql", "chartType", "xAxis", "yAxis",
      "zAxis", "explanation", "transformationStages"))
    assert((s \ "required") == JArray(List(JString("isValid"), JString("explanation"))))
  }

  test("response schema: stage items enumerate every per-type data field") {
    val item = PromptBuilder.responseSchema \ "properties" \ "transformationStages" \ "items"
    assert((item \ "required") == JArray(List(JString("type"), JString("description"))))
    val data = item \ "properties" \ "data"
    assert(props(data) == Set(
      "joinType", "leftTable", "rightTable", "leftKey", "rightKey",
      "unionType", "tables",
      "table", "column", "operator", "value", "conditions",
      "groupBy", "aggregations", "columns", "orderBy", "sql"))
    // nested item shapes
    assert(props(data \ "properties" \ "aggregations" \ "items") ==
      Set("function", "column", "alias"))
    assert(props(data \ "properties" \ "orderBy" \ "items") ==
      Set("column", "direction"))
    assert(props(data \ "properties" \ "conditions" \ "items") ==
      Set("column", "operator", "value", "logic"))
  }
}
