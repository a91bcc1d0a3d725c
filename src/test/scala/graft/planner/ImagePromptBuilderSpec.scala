package graft.planner

import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the assembled analyze-flow-image request to the reference's rules
  * (server/index.js:336-465 schema, 530-905 prompt/context assembly). */
class ImagePromptBuilderSpec extends AnyFunSuite {
  import ImagePromptBuilder._

  private val ctx = FlowContext(
    existingTables = Seq(
      ContextTable("table_customers", Seq(ContextColumn("Customer_ID", "BIGINT"),
        ContextColumn("Name", "VARCHAR"))),
      ContextTable("result_stage_2_join", Seq(ContextColumn("customer_id", "BIGINT"),
        ContextColumn("order_id", "BIGINT")), isResultTable = true),
      ContextTable("result_stage_5_filter", Seq(ContextColumn("customer_id", "BIGINT"),
        ContextColumn("amount", "DOUBLE")), isResultTable = true,
        isLatestResultTable = true)),
    existingStages = Seq(
      ContextStage("JOIN", "Join customers and orders", Some("result_stage_2_join")),
      ContextStage("FILTER", "Keep big orders", Some("result_stage_5_filter"))),
    latestStageIndex = 1,
    stageToTableInfo = Seq(
      StageToTable("JOIN", "Join customers and orders", "result_stage_2_join"),
      StageToTable("FILTER", "Keep big orders", "result_stage_5_filter")))

  private val req = imageAnalysisRequest(Some(ctx))

  test("request carries the vision model id and JSON-forced output") {
    assert(PromptBuilder.ModelId == "gemini-3-flash-preview")
    assert(req.responseSchema == imageAnalysisResponseSchema && req.audioMimeType.isEmpty)
    // generateContent sets responseMimeType on every request (HttpPlannerSpec)
  }

  test("context block: priority-ordered table listing with [LATEST] marker and lowercase columns") {
    val info = contextInfo(Some(ctx))
    assert(info.contains("EXISTING FLOW CONTEXT:"))
    assert(info.contains("🎯 LATEST RESULT TABLE (HIGHEST PRIORITY - TRY THIS FIRST!):"))
    assert(info.contains("- result_stage_5_filter (columns: customer_id (BIGINT), amount (DOUBLE)) [LATEST]"))
    assert(info.contains("OTHER RESULT TABLES (from previous stages - try these next):"))
    assert(info.contains("LOADED TABLES (original sources - use only as a last resort):"))
    // column names are pre-normalized to lowercase (server/index.js:548)
    assert(info.contains("table_customers (columns: customer_id (BIGINT), name (VARCHAR))"))
    // ordering: LATEST section before other results before loaded tables
    val iLatest = info.indexOf("LATEST RESULT TABLE")
    val iOther = info.indexOf("OTHER RESULT TABLES")
    val iLoaded = info.indexOf("LOADED TABLES")
    assert(iLatest >= 0 && iLatest < iOther && iOther < iLoaded)
  }

  test("context block: stage listing marks the latest stage and maps stages to tables") {
    val info = contextInfo(Some(ctx))
    assert(info.contains("EXISTING TRANSFORMATION STAGES (in order):"))
    assert(info.contains("1. JOIN: Join customers and orders → produces table: result_stage_2_join"))
    assert(info.contains("2. FILTER: Keep big orders → produces table: result_stage_5_filter [LATEST - CONTINUE FROM HERE!]"))
    assert(info.contains("STAGE-TO-TABLE MAPPING (which stage produces which table):"))
    assert(info.contains("Stage 2 (FILTER): \"Keep big orders\" → Table: result_stage_5_filter"))
  }

  test("prompt includes the [LATEST]-priority connection rules and integration instruction") {
    val rules = Seq(
      "CRITICAL INSTRUCTION FOR TABLE INTEGRATION",
      "STEP 1 (HIGHEST PRIORITY): Try to connect to the [LATEST] result table",
      "STEP 2 (SECOND PRIORITY): If Step 1 fails, try connecting to OTHER RESULT TABLES",
      "STEP 3 (LOWEST PRIORITY - LAST RESORT): Only if Steps 1 and 2 fail, connect to LOADED TABLES",
      "CASE-INSENSITIVE & SEMANTIC COLUMN MATCHING",
      "Do NOT generate `LOAD` stages for any tables. The app handles loading automatically.",
      "YOUR PRIMARY GOAL: CONTINUE THE FLOW FROM THE LATEST STAGE!")
    rules.foreach(r => assert(req.prompt.contains(r), s"missing rule: $r"))
  }

  test("prompt includes the image-type taxonomy and stage-flow structural rules") {
    val rules = Seq(
      "IMAGE TYPES TO DETECT:",
      "\"stage_flow\" - A data transformation flow diagram.",
      "\"data_table\" - A table of data (spreadsheet, CSV preview, etc.).",
      "\"unrecognized\" - Anything else.",
      // sequential stage ids (server/index.js:672-676)
      "Generate SEQUENTIAL stage IDs starting from \"stage_1\", \"stage_2\", \"stage_3\", etc.",
      "Count ALL stages including LOAD stages when numbering",
      // source-tables-only rule (server/index.js:664-670)
      "The \"tables\" array MUST ONLY contain SOURCE/INPUT tables",
      "DO NOT include intermediate result tables (e.g., \"result_stage_3_join\", \"joined_data\")",
      // per-type complete-data rules
      "JOIN: MUST include {leftTable, rightTable, leftKey, rightKey, joinType}",
      "FILTER: MUST include {table, column, operator, value}",
      "LOAD: MUST include {tableName, fileName}",
      // no-extension normalization
      "DO NOT include file extensions like \"_csv\", \"_xlsx\", \".csv\", \".xlsx\" in table names.",
      "NORMALIZE all column names to lowercase",
      // section B with context: never LOAD, empty array when unrelated
      "NEVER include a stage with type \"LOAD\" in your response.",
      "When in doubt, CREATE A JOIN! The user wants integration!",
      // exemplars + closing rule
      "EXAMPLE STAGE DATA STRUCTURES (CRITICAL - FOLLOW THESE EXACTLY):",
      "REMEMBER: For a data_table with existing context, your primary goal is INTEGRATION, starting from the [LATEST] point in the flow.")
    rules.foreach(r => assert(req.prompt.contains(r), s"missing rule: $r"))
  }

  test("without context: LOAD-only section B, no context block, no integration appendix") {
    val p = buildPrompt(None)
    assert(p.contains("Generate a LOAD stage for the new table with a unique id (e.g., \"stage_load_1\")."))
    assert(p.contains("Do NOT generate additional transformation stages."))
    assert(!p.contains("EXISTING FLOW CONTEXT:"))
    assert(!p.contains("CRITICAL INSTRUCTION FOR TABLE INTEGRATION"))
    assert(!p.contains("NEVER include a stage with type \"LOAD\""))
    // empty context behaves like no context (server/index.js:533 guard)
    assert(buildPrompt(Some(FlowContext())) == p)
  }

  private def props(o: JValue): Set[String] = o \ "properties" match {
    case JObject(fields) => fields.map(_._1).toSet
    case _               => Set.empty
  }

  test("response schema: top-level fields and required list match the reference") {
    val s = imageAnalysisResponseSchema
    assert(props(s) == Set("imageType", "explanation", "tables", "transformationStages"))
    assert((s \ "required") == JArray(List(JString("imageType"), JString("explanation"))))
  }

  test("response schema: table items require name/columns/rows with string-cell row arrays") {
    val item = imageAnalysisResponseSchema \ "properties" \ "tables" \ "items"
    assert(props(item) == Set("name", "columns", "rows"))
    assert((item \ "required") == JArray(List(
      JString("name"), JString("columns"), JString("rows"))))
    assert(props(item \ "properties" \ "columns" \ "items") == Set("name", "type"))
    // rows: ARRAY of ARRAY of STRING cells
    val rows = item \ "properties" \ "rows"
    assert((rows \ "items" \ "items" \ "type") == JString("STRING"))
  }

  test("response schema: stage items require id/type/description and share the stage-data union plus tableName") {
    val item = imageAnalysisResponseSchema \ "properties" \ "transformationStages" \ "items"
    assert((item \ "required") == JArray(List(
      JString("id"), JString("type"), JString("description"))))
    val data = item \ "properties" \ "data"
    // the transform surface's union (minus `conditions`, which this schema
    // omits) plus the LOAD-only tableName field (server/index.js:455-456)
    assert(props(data) == Set(
      "joinType", "leftTable", "rightTable", "leftKey", "rightKey",
      "unionType", "tables",
      "table", "column", "operator", "value",
      "groupBy", "aggregations", "columns", "orderBy",
      "tableName", "sql"))
    assert(props(data \ "properties" \ "aggregations" \ "items") ==
      Set("function", "column", "alias"))
    assert(props(data \ "properties" \ "orderBy" \ "items") ==
      Set("column", "direction"))
  }
}
