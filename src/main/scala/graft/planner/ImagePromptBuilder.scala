package graft.planner

import org.json4s._
import org.json4s.JsonDSL._
import PromptBuilder.{aggregationItem, orderByItem, str, strArr}

/**
 * Pure port of the reference's `/api/analyze-flow-image` request assembly —
 * the second LLM surface beside `/api/transform` (which [[PromptBuilder]]
 * ports): given the existing-flow context the client sends (reference:
 * ui/src/App.tsx:1806-1867), produce the exact vision-call payload — the
 * `imageAnalysisResponseSchema` JSON-forced response schema
 * (reference: server/index.js:336-465, wired at :518-524), and the
 * assembled prompt text with the `[LATEST]`-result-table priority rules
 * (reference: server/index.js:530-905).
 *
 * The prompt TEXT is the parity contract (like PromptBuilder's transform
 * prompt) and is therefore reproduced verbatim, including the context
 * assembly's conditional blocks. Image bytes/transport are out of scope
 * (offline sandbox); the client-side half of this flow — stage repair,
 * result-table filtering, pipeline execution — is already ported in
 * [[graft.pipeline.StageRepair]] and [[graft.pipeline.PipelineExecutor]],
 * and the two halves meet in ImageFlowSpec.
 */
object ImagePromptBuilder {

  // ----- context payload the client assembles (ui/src/App.tsx:1806-1867)

  final case class ContextColumn(name: String, colType: String)

  final case class ContextTable(
      name: String,
      columns: Seq[ContextColumn],
      isResultTable: Boolean = false,
      isLatestResultTable: Boolean = false)

  final case class ContextStage(
      stageType: String,
      description: String,
      resultTableName: Option[String] = None)

  final case class StageToTable(
      stageType: String,
      stageDescription: String,
      resultTableName: String)

  final case class FlowContext(
      existingTables: Seq[ContextTable] = Nil,
      existingStages: Seq[ContextStage] = Nil,
      latestStageIndex: Int = -1,
      stageToTableInfo: Seq[StageToTable] = Nil) {
    /** server/index.js:533 — context counts only if it has tables or stages. */
    def hasExisting: Boolean = existingTables.nonEmpty || existingStages.nonEmpty
  }

  /** Full request payload for an analyze-flow-image call. */
  def imageAnalysisRequest(context: Option[FlowContext]): PlannerRequest =
    PlannerRequest(buildPrompt(context), imageAnalysisResponseSchema)

  // ------------------------------------------------- context block assembly

  private def cols(t: ContextTable): String =
    t.columns.map(c => s"${c.name.toLowerCase} (${c.colType})").mkString(", ")

  /**
   * The `contextInfo` block (server/index.js:530-633): priority-ordered
   * table listing (LATEST → other result tables → loaded tables, columns
   * pre-normalized to lowercase), the stage listing with the
   * `[LATEST - CONTINUE FROM HERE!]` marker, the stage→table mapping, and
   * the table-integration priority instruction.
   */
  def contextInfo(context: Option[FlowContext]): String = context match {
    case Some(ctx) if ctx.hasExisting =>
      val sb = new StringBuilder("\n\nEXISTING FLOW CONTEXT:\n")
      if (ctx.existingTables.nonEmpty) {
        sb ++= "Existing tables (NOTE: column names are pre-normalized to lowercase for easier matching):\n"
        sb ++= "⚠️ PRIORITY: You MUST try to connect to the [LATEST] table first! Then other result tables, then loaded tables.\n\n"
        val latest = ctx.existingTables.find(_.isLatestResultTable)
        val otherResults = ctx.existingTables.filter(t => t.isResultTable && !t.isLatestResultTable)
        val loaded = ctx.existingTables.filterNot(_.isResultTable)
        latest.foreach { t =>
          sb ++= "🎯 LATEST RESULT TABLE (HIGHEST PRIORITY - TRY THIS FIRST!):\n"
          sb ++= s"  - ${t.name} (columns: ${cols(t)}) [LATEST]\n\n"
        }
        if (otherResults.nonEmpty) {
          sb ++= "OTHER RESULT TABLES (from previous stages - try these next):\n"
          otherResults.zipWithIndex.foreach { case (t, idx) =>
            sb ++= s"  ${idx + 1}. ${t.name} (columns: ${cols(t)})\n"
          }
          sb ++= "\n"
        }
        if (loaded.nonEmpty) {
          sb ++= "LOADED TABLES (original sources - use only as a last resort):\n"
          loaded.zipWithIndex.foreach { case (t, idx) =>
            sb ++= s"  ${idx + 1}. ${t.name} (columns: ${cols(t)})\n"
          }
        }
      }
      if (ctx.existingStages.nonEmpty) {
        sb ++= "\n\nEXISTING TRANSFORMATION STAGES (in order):\n"
        ctx.existingStages.zipWithIndex.foreach { case (st, idx) =>
          val resultInfo = st.resultTableName.map(n => s" → produces table: $n").getOrElse("")
          val latestMarker = if (idx == ctx.latestStageIndex) " [LATEST - CONTINUE FROM HERE!]" else ""
          sb ++= s"  ${idx + 1}. ${st.stageType}: ${st.description}$resultInfo$latestMarker\n"
        }
      }
      if (ctx.stageToTableInfo.nonEmpty) {
        sb ++= "\nSTAGE-TO-TABLE MAPPING (which stage produces which table):\n"
        ctx.stageToTableInfo.zipWithIndex.foreach { case (info, idx) =>
          sb ++= s"  Stage ${idx + 1} (${info.stageType}): \"${info.stageDescription}\" → Table: ${info.resultTableName}\n"
        }
      }
      sb ++= integrationInstruction
      sb.result()
    case _ => ""
  }

  /** server/index.js:586-632 — the CRITICAL INSTRUCTION FOR TABLE
    * INTEGRATION appendix of the context block. */
  private val integrationInstruction: String = """
🔥🔥🔥 CRITICAL INSTRUCTION FOR TABLE INTEGRATION 🔥🔥🔥
If the uploaded image contains a data table, you MUST find connections to CONTINUE the existing flow:

1. CONNECTION PRIORITY (MANDATORY - FOLLOW THIS ORDER EXACTLY):
   ⚠️⚠️⚠️ YOU MUST TRY IN THIS ORDER - DO NOT SKIP STEPS! ⚠️⚠️⚠️

   STEP 1 (HIGHEST PRIORITY): Try to connect to the [LATEST] result table
   - This is the final output of the current flow (marked [LATEST] above)
   - Look for matching columns between the new table and the [LATEST] table
   - If you find ANY matching columns (even weak matches), create a JOIN stage connecting to the [LATEST] table
   - Use the [LATEST] table name in your JOIN stage (leftTable or rightTable)
   - This CONTINUES the flow from where it left off

   STEP 2 (SECOND PRIORITY): If Step 1 fails, try connecting to OTHER RESULT TABLES
   - These are tables produced by previous stages (not the latest)
   - Try to find connections to these intermediate result tables
   - This allows building on previous transformations

   STEP 3 (LOWEST PRIORITY - LAST RESORT): Only if Steps 1 and 2 fail, connect to LOADED TABLES
   - These are the original source tables (not result tables)
   - Only use these if you cannot connect to any result tables
   - This is the least preferred option

2. CASE-INSENSITIVE & SEMANTIC COLUMN MATCHING:
   - Compare column names case-insensitively (e.g., "Customer_ID" matches "customer_id")
   - Look for similar meanings (e.g., "cust_id" matches "client_id")
   - NORMALIZE in your mind: remove underscores, convert to lowercase, then compare
   - Be AGGRESSIVE in finding matches - even 50% similarity should trigger a connection

3. GENERATE TRANSFORMATION STAGES:
   - ⚠️ CRITICAL: Do NOT generate `LOAD` stages for any tables. The app handles loading automatically.
   - When creating JOIN stages, use the table name from the priority list above (prefer [LATEST] table)
   - Add other stages (`SELECT`, `FILTER`, `GROUP`, `SORT`) as needed to complete the transformation
   - The new table from the image should be the other table in the JOIN (rightTable or leftTable)

4. EXAMPLE BEHAVIOR:
   - If [LATEST] table has columns: [customer_id, order_date, amount]
   - And new table has columns: [customer_id, product_name, price]
   - You MUST create a JOIN stage: JOIN [LATEST table] with [new table] on customer_id
   - This continues the flow from the latest stage

🎯 YOUR PRIMARY GOAL: CONTINUE THE FLOW FROM THE LATEST STAGE! Connect the new table to the [LATEST] result table first!
"""

  // ------------------------------------------------------- prompt assembly

  /** Section B body when existing context is present (server/index.js:704-795). */
  private val sectionBWithContext: String = """
   ⚠️⚠️⚠️ CRITICAL: You MUST find connections between the new table and the existing flow! ⚠️⚠️⚠️

   STEP 1 - ANALYZE FOR CONNECTIONS (using pre-normalized lowercase columns):
   🔍 The new table's columns are normalized to lowercase. The existing table columns in the context are also pre-normalized. This makes matching easy.

   ⚠️⚠️⚠️ CONNECTION PRIORITY (ABSOLUTE & MANDATORY - FOLLOW EXACTLY!):

   🔥 STEP 1 (MANDATORY FIRST STEP): Check connection with [LATEST] table
   - The [LATEST] table is the result of the LAST stage in the flow (marked [LATEST] in the context above)
   - This table represents the CURRENT STATE of the data pipeline
   - YOU MUST check this table FIRST before checking any other tables
   - Look for matching columns (case-insensitive, semantic matching)
   - If you find ANY matching column, you MUST create a JOIN stage using the [LATEST] table name
   - Example: If [LATEST] table is "result_stage_5_filter" and has column "customer_id", and new table has "customer_id", create JOIN with "result_stage_5_filter"

   🔥 STEP 2 (ONLY IF STEP 1 FAILS): Check connection with OTHER RESULT TABLES
   - These are tables produced by previous stages (not the latest)
   - Only check these if you found NO matches with the [LATEST] table
   - Try to find connections to these intermediate result tables

   🔥 STEP 3 (ONLY IF STEPS 1 & 2 FAIL): Check connection with LOADED TABLES
   - These are the original source tables (not result tables)
   - Only check these as a last resort if no result tables have connections

   ⚠️ CRITICAL RULES:
   - ALWAYS start with [LATEST] table - do NOT skip to other tables
   - If [LATEST] table has a matching column, use it - do NOT check other tables
   - The goal is to CONTINUE the flow from the most recent point
   - Direct match: "customer_id" in new table + "customer_id" in [LATEST] table → MUST USE [LATEST]!
   - Semantic match: "cust_id" in new table + "customer_id" in [LATEST] table → MUST USE [LATEST]!

   STEP 2 - GENERATE INTEGRATION STAGES:
   ⚠️⚠️⚠️ CRITICAL: Do NOT create a LOAD stage! The table is loaded automatically.
   ⚠️⚠️⚠️ NEVER include a stage with type "LOAD" in your response.
   - You MUST ONLY return integration stages (JOIN, UNION, FILTER, GROUP, etc.).
   - If you find NO connections after checking all tables in priority order, return an empty array [] for transformationStages.

   - If you find a JOIN connection (prioritizing [LATEST] table):
     {
       "id": "stage_join_continuation_1",
       "type": "JOIN",
       "description": "Join [new_table] with [LATEST_table] to continue flow",
       "data": {
         "joinType": "INNER" | "LEFT" | "RIGHT",
         "leftTable": "[LATEST_table_name_from_context]",  // Use [LATEST] table name if match found there
         "rightTable": "[new_table_name]",
         "leftKey": "[column_from_LATEST_table]",
         "rightKey": "[column_from_new_table]"
       }
     }
     ⚠️ IMPORTANT: If you found a match with the [LATEST] table, use the [LATEST] table name in leftTable or rightTable
     ⚠️ CRITICAL: Always include a unique "id" field for each stage!
   - Add other stages like FILTER, GROUP, etc. if they would be useful (each with unique IDs).

   STEP 3 - VALIDATION:
   - If you find connections, return integration stages (JOIN, UNION, etc.).
   - If the table is completely unrelated, return an empty array [].
   - When in doubt, CREATE A JOIN! The user wants integration!

   📋 CONCRETE EXAMPLE OF REQUIRED BEHAVIOR:

   Context has:
   - LATEST TABLE: result_stage_5_filter [customer_id, order_id, amount] [LATEST] ← START HERE!
   - OTHER RESULT TABLES: result_stage_2_join [customer_id, order_id]
   - LOADED TABLES: table_customers, table_orders

   New image has a table "products" with columns [product_id, customer_id, price].

   ✅ CORRECT BEHAVIOR:
   → STEP 1: Check [LATEST] table (result_stage_5_filter) - has "customer_id" ✓
   → STEP 1 RESULT: MATCH FOUND! "customer_id" exists in both tables
   → YOU MUST GENERATE: A JOIN stage with leftTable="result_stage_5_filter", rightTable="products", leftKey="customer_id", rightKey="customer_id"
   → YOU MUST STOP HERE - do NOT check other tables because you found a match with [LATEST]
   → This CONTINUES the flow from the latest stage

   ❌ WRONG BEHAVIOR:
   → Checking other result tables first (should check [LATEST] first)
   → Checking loaded tables first (should check [LATEST] first)
   → Using a different table name when [LATEST] has a match

   ❌ WHAT NOT TO DO:
   - DON'T create LOAD stages. NEVER.
   - DON'T connect to a lower-priority table if a connection to a higher-priority one exists.
   - DON'T be conservative - be AGGRESSIVE in finding connections.
   """

  /** Section B body without existing context (server/index.js:796-800). */
  private val sectionBWithoutContext: String = """
   - Generate a LOAD stage for the new table with a unique id (e.g., "stage_load_1").
   - CRITICAL: Always include a unique "id" field in the stage object.
   - Do NOT generate additional transformation stages.
   """

  /**
   * The full vision prompt (server/index.js:635-905): image-type taxonomy,
   * table-extraction rules, stage-flow rules (sequential stage ids,
   * source-tables-only, complete per-type data fields), the context-
   * conditional section B, the exemplar stage payloads, and the assembled
   * context block.
   */
  def buildPrompt(context: Option[FlowContext]): String = {
    val hasCtx = context.exists(_.hasExisting)
    val sectionB = if (hasCtx) sectionBWithContext else sectionBWithoutContext
    "\n" +
      s"""You are an expert Data Engineer analyzing images for data pipeline integration.

TASK: Analyze this image and determine its type, extract structured data, and integrate it with existing data flows.

IMAGE TYPES TO DETECT:
1. "stage_flow" - A data transformation flow diagram.
2. "data_table" - A table of data (spreadsheet, CSV preview, etc.).
3. "unrecognized" - Anything else.

RESPONSE STRUCTURE:
- imageType: One of the types above.
- explanation: Natural language description of what you found.
- tables: Array of extracted tables (for "data_table" type).
- transformationStages: Array of transformation stages (see rules below).

RULES FOR TABLE EXTRACTION ("data_table" type):
- Extract ALL visible data.
- For each table, provide:
  * name: A descriptive table name (e.g., "products_data", "customers", "orders").
    ⚠️ CRITICAL: DO NOT include file extensions like "_csv", "_xlsx", ".csv", ".xlsx" in table names.
    These are data tables, not files. Use clean names like "customers" not "customers_csv" or "customers.csv".
  * columns: Array of {name, type}. ⚠️ CRITICAL: NORMALIZE all column names to lowercase (e.g., "Customer ID" becomes "customer_id").
  * rows: Array of data rows (extract at least 10-20 if available).
- Infer appropriate SQL data types (VARCHAR, INTEGER, DOUBLE, DATE, etc.).

RULES FOR TRANSFORMATION STAGES:
⚠️⚠️⚠️ CRITICAL: Stage descriptions MUST NOT include file extensions in table names!
   - Use clean table names like "table_orders" NOT "table_orders_csv" or "table_orders.csv"
   - Example: "Loaded table 'table_orders' from file 'orders.csv'" ✓
   - Wrong: "Loaded table 'table_orders_csv' from file 'orders.csv'" ✗

A. For "stage_flow" images:
   ⚠️⚠️⚠️ CRITICAL RULES FOR TABLES:
   - The "tables" array MUST ONLY contain SOURCE/INPUT tables (e.g., from CSV files shown in the diagram)
   - DO NOT include intermediate result tables (e.g., "result_stage_3_join", "joined_data")
   - DO NOT include tables that are OUTPUTS of transformation stages
   - ONLY include the initial/raw data tables that are loaded at the beginning of the flow
   - Example: If diagram shows "customers.csv" and "orders.csv" being loaded, then joined to create "result",
     the tables array should ONLY have customers and orders data, NOT the join result

   ⚠️⚠️⚠️ CRITICAL RULES FOR STAGE IDs:
   - Generate SEQUENTIAL stage IDs starting from "stage_1", "stage_2", "stage_3", etc.
   - DO NOT skip numbers or create gaps in the sequence
   - Count ALL stages including LOAD stages when numbering
   - Example: stage_1 (LOAD), stage_2 (LOAD), stage_3 (JOIN), stage_4 (FILTER)

   - Extract ALL stages from the diagram in the correct order, including LOAD stages if present.
   - LOAD stages represent initial table loading operations in the flow diagram.
   - CRITICAL: Every stage MUST have a unique id field. This is required.
   - CRITICAL: Every stage MUST have complete data fields based on its type:
     * JOIN: MUST include {leftTable, rightTable, leftKey, rightKey, joinType}. DO NOT include other stage fields like "tables" or "unionType".
       If join key is mentioned in description (e.g., "join on customer_id"), extract it into leftKey and rightKey.
       DO NOT use placeholder values like "none", "null", or empty string - extract the actual join key from the diagram/description.
     * FILTER: MUST include {table, column, operator, value}. If the filter condition is ambiguous in the diagram,
       infer the MOST LIKELY filter based on context (e.g., "Filter results" → check for "status='Active'" or "amount>0")
     * GROUP: MUST include {table, groupBy, aggregations}
     * SELECT: MUST include {table, columns}
     * SORT: MUST include {table, orderBy}
     * UNION: MUST include {tables, unionType}. DO NOT include JOIN fields like "leftTable" or "rightTable".
     * LOAD: MUST include {tableName, fileName}
       ⚠️ IMPORTANT: tableName should NOT include file extensions (e.g., use "customers" not "customers_csv").
       fileName can include the extension (e.g., "customers.csv") as it represents the actual file.
   - Include complete data for each stage type (including LOAD stages with tableName).
   - If a FILTER stage is shown but conditions are unclear, infer reasonable conditions based on:
     * Common patterns (e.g., "active status", "positive amounts", "recent dates")
     * Available columns from previous stages
     * Description text visible in the diagram
   - DO NOT generate FILTER stages without {column, operator, value} - always infer if needed.
   - DO NOT mix fields from different stage types (e.g., don't put UNION fields in a JOIN stage).

B. For "data_table" images WITH existing context:
   $sectionB

C. For "data_table" images WITHOUT existing context:
   - Generate only a LOAD stage for the table with a unique id (e.g., "stage_load_1").
   - CRITICAL: Always include a unique "id" field in the stage object.

D. For "unrecognized" images:
   - Set tables and transformationStages to empty arrays [].

EXAMPLE STAGE DATA STRUCTURES (CRITICAL - FOLLOW THESE EXACTLY):

1. LOAD stage:
   {
     "id": "stage_load_1",
     "type": "LOAD",
     "description": "Load customers table",
     "data": {
       "tableName": "customers",
       "fileName": "customers.csv"
     }
   }

2. JOIN stage (MUST include ALL these fields):
   {
     "id": "stage_join_1",
     "type": "JOIN",
     "description": "Join customers and orders on customer_id",
     "data": {
       "joinType": "INNER",
       "leftTable": "customers",
       "rightTable": "orders",
       "leftKey": "customer_id",
       "rightKey": "customer_id"
     }
   }

3. FILTER stage (MUST include ALL these fields):
   {
     "id": "stage_filter_1",
     "type": "FILTER",
     "description": "Filter orders with amount > 100",
     "data": {
       "table": "orders",
       "column": "amount",
       "operator": ">",
       "value": "100"
     }
   }

4. GROUP stage (MUST include ALL these fields):
   {
     "id": "stage_group_1",
     "type": "GROUP",
     "description": "Group by customer and sum order amounts",
     "data": {
       "table": "orders",
       "groupBy": ["customer_id"],
       "aggregations": [
         {
           "function": "SUM",
           "column": "amount",
           "alias": "total_amount"
         }
       ]
     }
   }

5. SELECT stage (MUST include ALL these fields):
   {
     "id": "stage_select_1",
     "type": "SELECT",
     "description": "Select specific columns",
     "data": {
       "table": "orders",
       "columns": ["order_id", "customer_id", "amount", "order_date"]
     }
   }

6. SORT stage (MUST include ALL these fields):
   {
     "id": "stage_sort_1",
     "type": "SORT",
     "description": "Sort by amount descending",
     "data": {
       "table": "orders",
       "orderBy": [
         {
           "column": "amount",
           "direction": "DESC"
         }
       ]
     }
   }

⚠️ CRITICAL: Every stage MUST have complete data fields as shown above. Do NOT generate stages with missing fields!

DATA QUALITY:
- Extract real data, not placeholders.
- Ensure row data matches column order.
- Provide 10-20+ sample rows if available.
${contextInfo(context)}

REMEMBER: For a data_table with existing context, your primary goal is INTEGRATION, starting from the [LATEST] point in the flow.
"""
  }

  // --------------------------------------------------- the response schema

  /**
   * `imageAnalysisResponseSchema` (server/index.js:336-465): top-level
   * `{imageType, explanation, tables[], transformationStages[]}` with
   * `required = [imageType, explanation]`; table items require
   * `[name, columns, rows]` (rows are arrays of STRING cells in column
   * order); stage items require `[id, type, description]` and share the
   * per-type stage-data union with the transform surface — plus the
   * LOAD-only `tableName` field that schema omits.
   */
  val imageAnalysisResponseSchema: JObject = {
    val columnItem: JObject =
      ("type" -> "OBJECT") ~ ("properties" -> (
        ("name" -> str("Column name")) ~
          ("type" -> str("Column data type (e.g., 'VARCHAR', 'INTEGER', 'DOUBLE')"))))
    val tableItem: JObject =
      ("type" -> "OBJECT") ~ ("properties" -> (
        ("name" -> str("Table name (DO NOT include file extensions like _csv, _xlsx, .csv, etc. - these are data tables, not files)")) ~
          ("columns" -> (("type" -> "ARRAY") ~ ("items" -> columnItem) ~
            ("description" -> "Array of column definitions"))) ~
          ("rows" -> (("type" -> "ARRAY") ~
            ("items" -> (("type" -> "ARRAY") ~
              ("items" -> str("Cell value as string")) ~
              ("description" -> "Array of cell values in the same order as the columns array"))) ~
            ("description" -> ("Array of sample data rows (provide at least 5-10 rows for each table). " +
              "Each row is an array of values matching the order of columns in the columns array.")))))) ~
        ("required" -> List("name", "columns", "rows"))

    val stageData: JObject =
      ("type" -> "OBJECT") ~ ("properties" -> (
        ("joinType" -> str("For JOIN: 'INNER', 'LEFT', 'RIGHT', or 'FULL OUTER'")) ~
          ("leftTable" -> str("For JOIN: left table name")) ~
          ("rightTable" -> str("For JOIN: right table name")) ~
          ("leftKey" -> str("For JOIN: left table join key column")) ~
          ("rightKey" -> str("For JOIN: right table join key column")) ~
          ("unionType" -> str("For UNION: 'UNION' or 'UNION ALL'")) ~
          ("tables" -> strArr("For UNION: array of table names to union")) ~
          ("table" -> str("For FILTER: table name to filter")) ~
          ("column" -> str("For FILTER: column name")) ~
          ("operator" -> str("For FILTER: '=', '!=', '>', '<', '>=', '<=', 'LIKE', 'IN', 'NOT IN'")) ~
          ("value" -> str("For FILTER: filter value")) ~
          ("groupBy" -> strArr("For GROUP: array of column names to group by")) ~
          ("aggregations" -> (("type" -> "ARRAY") ~ ("items" -> aggregationItem) ~
            ("description" -> "For GROUP: array of aggregations"))) ~
          ("columns" -> strArr("For SELECT: array of column names to select")) ~
          ("orderBy" -> (("type" -> "ARRAY") ~ ("items" -> orderByItem) ~
            ("description" -> "For SORT: array of sort specifications"))) ~
          ("tableName" -> str("For LOAD: table name (DO NOT include file extensions like _csv, _xlsx, .csv, etc.)")) ~
          ("sql" -> str("For CUSTOM: the SQL query string"))))

    val stageItem: JObject =
      ("type" -> "OBJECT") ~ ("properties" -> (
        ("id" -> str("Unique stage identifier")) ~
          ("type" -> str("Stage type: 'LOAD', 'JOIN', 'UNION', 'FILTER', 'GROUP', 'SELECT', 'SORT', 'AGGREGATE', or 'CUSTOM'")) ~
          ("description" -> str("Clear description of what this transformation stage does. " +
            "DO NOT include file extensions like '_csv', '.csv' in table names mentioned in " +
            "descriptions. Use clean table names like 'table_orders' not 'table_orders_csv'.")) ~
          ("data" -> stageData))) ~
        ("required" -> List("id", "type", "description"))

    ("type" -> "OBJECT") ~ ("properties" -> (
      ("imageType" -> str("Type of image detected: 'stage_flow', 'data_table', 'schema', or 'unrecognized'")) ~
        ("explanation" -> str("Natural language explanation of what was found in the image. " +
          "For stage flows, explain the flow and result table. For data tables, describe the " +
          "table structure and content. For unrecognized images, explain why it cannot be processed.")) ~
        ("tables" -> (("type" -> "ARRAY") ~ ("items" -> tableItem) ~
          ("description" -> ("Array of tables with their schemas and sample data. " +
            "Required for 'stage_flow' and 'data_table' types, empty array for others.")))) ~
        ("transformationStages" -> (("type" -> "ARRAY") ~ ("items" -> stageItem) ~
          ("description" -> ("Array of transformation stages representing the flow diagram. " +
            "Required only for 'stage_flow' type, empty array for others.")))))) ~
      ("required" -> List("imageType", "explanation"))
  }
}
