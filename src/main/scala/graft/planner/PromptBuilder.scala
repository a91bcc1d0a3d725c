package graft.planner

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/**
 * Pure port of the reference's `/api/transform` request assembly
 * (reference: server/index.js:226-333): given the table schemas and the
 * user's NL goal, produce the exact request payload the reference sends to
 * its LLM — the structured response schema (server/index.js:84-195) and
 * the assembled prompt text with the schema listing and SQL→stage
 * decomposition rules; the transport adds the model id and the JSON-forced
 * generation config.
 *
 * Transport is out of scope by design (offline sandbox): an HTTP planner
 * implementation serializes the [[PlannerRequest]] verbatim; [[MockPlanner]]
 * and the specs consume it directly. This makes the full planner surface
 * testable end-to-end without a network boundary.
 *
 * The schema listing and the JSON-schema helpers below are shared by every
 * planner surface; each surface keeps its own prompt rule text, which is
 * the parity contract.
 */
object PromptBuilder {

  /** The reference's model id (server/index.js:250), the same on every
    * surface (:519, :978, :1177). */
  val ModelId = "gemini-3-flash-preview"

  /** `[{"column_name":…,"column_type":…},…]`: how every prompt lists a
    * table's columns. */
  private[planner] def columnListing(columns: Seq[(String, String)]): String =
    JsonMethods.compact(JsonMethods.render(
      JArray(columns.toList.map { case (n, t) =>
        ("column_name" -> n) ~ ("column_type" -> t) })))

  /**
   * Schema block of the prompt: the multi-table listing when `allSchemas`
   * is known, else the single-table listing of `schema`. The transform
   * surface passes no `schema` (server/index.js:257-259, so its fallback
   * lists `[]`); the voice surface passes the current table's
   * (server/index.js:994-996).
   */
  def schemasInfo(allSchemas: Seq[TableSchema],
                  schema: Seq[(String, String)] = Nil): String =
    if (allSchemas.nonEmpty)
      "Available Tables:\n" + allSchemas.map(s =>
        s"- ${s.name}: ${columnListing(s.columns)}").mkString("\n")
    else s"Current Table Schema (DuckDB):\n${columnListing(schema)}"

  /** The prompt text (server/index.js:261-316), verbatim rule set. */
  def buildPrompt(userPrompt: String, allSchemas: Seq[TableSchema]): String =
    s"""You are a Data Engineer Expert.
       |
       |${schemasInfo(allSchemas)}
       |
       |User Goal: "$userPrompt"
       |
       |Rules:
       |1. Write valid DuckDB SQL.
       |2. If the user asks to "Filter" or "Join", write the SQL to create a NEW result set.
       |3. Suggest a chart type that best visualizes the result:
       |   - Use 'bar', 'line', 'area', 'scatter' for standard 2D charts
       |   - Use 'd3-scatter', 'd3-line', 'd3-bar' for D3.js visualizations
       |   - Use '3d-scatter' or '3d-surface' if the data has 3 dimensions (provide zAxis)
       |4. If the result is just a table (like a raw list), set chartType to 'none'.
       |5. If the data has 3 numeric columns, consider using '3d-scatter' with zAxis.
       |6. CRITICAL: Analyze your SQL query and provide transformationStages array with one or more stages:
       |   - Analyze the SQL to determine what operations it performs
       |   - Break down complex SQL into logical stages (e.g., FILTER -> JOIN -> SORT)
       |   - Each stage MUST have a proper type based on the SQL operation:
       |     * If SQL contains JOIN/LEFT JOIN/RIGHT JOIN/FULL OUTER JOIN -> use type "JOIN"
       |     * If SQL contains UNION/UNION ALL -> use type "UNION"
       |     * If SQL contains WHERE clause -> use type "FILTER"
       |     * If SQL contains GROUP BY -> use type "GROUP"
       |     * If SQL selects specific columns (not SELECT *) -> use type "SELECT"
       |     * If SQL contains ORDER BY -> use type "SORT"
       |     * If SQL contains aggregate functions without GROUP BY -> use type "AGGREGATE"
       |     * Only use "CUSTOM" if the SQL doesn't fit any of the above categories
       |   - For each stage, extract and populate the appropriate data fields:
       |     * JOIN: joinType (INNER, LEFT, RIGHT, FULL OUTER), leftTable, rightTable, leftKey, rightKey
       |     * UNION: unionType (UNION or UNION ALL), tables array
       |     * FILTER: table, column, operator (=, !=, >, <, >=, <=, LIKE, IN, NOT IN), value, or conditions array
       |     * GROUP: groupBy array, aggregations array with function (SUM, COUNT, AVG, MAX, MIN), column, alias
       |     * SELECT: columns array
       |     * SORT: orderBy array with column and direction (ASC/DESC)
       |     * AGGREGATE: aggregations array with function, column, alias
       |     * CUSTOM: sql string
       |   - MANDATORY: You MUST return the transformationStages array. It is a required field in the response schema.
       |   - Always analyze the SQL structure to determine the correct stage types. DO NOT default to CUSTOM unless truly necessary.
       |   - Break down complex queries into multiple stages in the correct order (e.g., JOIN first, then GROUP, then SORT).""".stripMargin

  /** Full request payload for a transform call. */
  def transformRequest(userPrompt: String, allSchemas: Seq[TableSchema]): PlannerRequest =
    PlannerRequest(buildPrompt(userPrompt, allSchemas), responseSchema)

  // ------------------------------------- JSON-schema helpers, all surfaces

  private[planner] def str(desc: String): JObject =
    ("type" -> "STRING") ~ ("description" -> desc)

  private[planner] def strArr(desc: String): JObject =
    ("type" -> "ARRAY") ~ ("items" -> (("type" -> "STRING"): JObject)) ~
      ("description" -> desc)

  /** Item shapes of the stage-data `aggregations` and `orderBy` arrays,
    * the same in the transform and image-analysis schemas. */
  private[planner] val aggregationItem: JObject =
    ("type" -> "OBJECT") ~ ("properties" ->
      (("function" -> str("Aggregation function: 'SUM', 'COUNT', 'AVG', 'MAX', 'MIN', etc.")) ~
        ("column" -> str("Column to aggregate")) ~
        ("alias" -> str("Optional alias for the aggregation"))))

  private[planner] val orderByItem: JObject =
    ("type" -> "OBJECT") ~ ("properties" ->
      (("column" -> str("")) ~ ("direction" -> str("'ASC' or 'DESC'"))))

  /**
   * The structured JSON response schema forced onto the model
   * (server/index.js:84-195): top-level `{isValid, sql, chartType, xAxis,
   * yAxis, zAxis?, explanation, transformationStages[]}` with the per-type
   * stage `data` union flattened into one optional-property object, and
   * `required = [isValid, explanation]`.
   */
  val responseSchema: JObject = {
    val conditionItem: JObject =
      ("type" -> "OBJECT") ~ ("properties" ->
        (("column" -> str("")) ~ ("operator" -> str("")) ~
          ("value" -> str("")) ~ ("logic" -> str("'AND' or 'OR'"))))

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
          ("conditions" -> (("type" -> "ARRAY") ~ ("items" -> conditionItem) ~
            ("description" -> "For FILTER: array of conditions for complex filters"))) ~
          ("groupBy" -> strArr("For GROUP: array of column names to group by")) ~
          ("aggregations" -> (("type" -> "ARRAY") ~ ("items" -> aggregationItem) ~
            ("description" -> "For GROUP: array of aggregations"))) ~
          ("columns" -> strArr("For SELECT: array of column names to select")) ~
          ("orderBy" -> (("type" -> "ARRAY") ~ ("items" -> orderByItem) ~
            ("description" -> "For SORT: array of sort specifications"))) ~
          ("sql" -> str("For CUSTOM: the SQL query string"))))

    val stageItem: JObject =
      ("type" -> "OBJECT") ~ ("properties" -> (
        ("type" -> str("Stage type: 'LOAD', 'JOIN', 'UNION', 'FILTER', 'GROUP', 'SELECT', 'SORT', 'AGGREGATE', or 'CUSTOM'")) ~
          ("description" -> str("Clear description of what this transformation stage does. " +
            "DO NOT include file extensions like '_csv', '.csv' in table names mentioned in " +
            "descriptions. Use clean table names like 'table_orders' not 'table_orders_csv'.")) ~
          ("data" -> stageData))) ~
        ("required" -> List("type", "description"))

    ("type" -> "OBJECT") ~ ("properties" -> (
      ("isValid" -> (("type" -> "BOOLEAN") ~
        ("description" -> ("Whether the audio contains valid speech about data transformation. " +
          "Set to false if audio is empty, music, or unrelated content.")))) ~
        ("sql" -> str("The DuckDB SQL query to execute (only if isValid is true)")) ~
        ("chartType" -> str("One of: 'bar', 'line', 'area', 'scatter', 'd3-scatter', " +
          "'d3-line', 'd3-bar', '3d-scatter', '3d-surface', 'none'")) ~
        ("zAxis" -> str("Optional: The column name for the Z axis (for 3D charts)")) ~
        ("xAxis" -> str("The column name for the X axis")) ~
        ("yAxis" -> str("The column name for the Y axis")) ~
        ("explanation" -> str("Brief explanation of what this query does, or error message if isValid is false")) ~
        ("transformationStages" -> (("type" -> "ARRAY") ~ ("items" -> stageItem) ~
          ("description" -> "Array of one or more transformation stages that represent the ETL pipeline steps"))))) ~
      ("required" -> List("isValid", "explanation"))
  }
}
