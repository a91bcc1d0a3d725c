package graft.planner

import org.json4s.JValue

/**
 * Pure port of the reference's `/api/voice/command` surface — the third
 * LLM surface beside `/api/transform` ([[PromptBuilder]]) and
 * `/api/analyze-flow-image` ([[ImagePromptBuilder]]).
 *
 * Reference: server/index.js:950-1147 (endpoint: prompt assembly, the
 * shared structured response schema, response normalization and the
 * invalid-audio field stripping) and ui/src/SmartTransform.tsx:218-316
 * (the client funnel: validity gating, then re-driving the TEXT transform
 * path with the transcript).
 *
 * Audio transport/STT is environment-blocked (offline sandbox), exactly
 * like image bytes for ImagePromptBuilder — but the parity contract is
 * pure and portable: the prompt text (verbatim, including the CRITICAL
 * VALIDATION A/B/C gating rules), the response schema (identical to the
 * transform surface's — the reference passes the same `responseSchema`
 * object, server/index.js:981), the transcript-extraction and
 * field-stripping normalization, and the client-side funnel decision.
 * An HTTP+audio implementation drops in behind [[VoiceTranscriber]]
 * without engine changes.
 */
object VoicePromptBuilder {

  /** Default audio MIME type when the upload carries none
    * (server/index.js:1002). */
  val DefaultAudioMimeType = "audio/webm"

  /** The voice-command prompt text (server/index.js:1004-1080), verbatim:
    * transcription instruction, the CRITICAL VALIDATION A/B/C gating
    * rules, then the same SQL/chart/stage rule set as the transform
    * surface. */
  def buildPrompt(
      schema: Seq[(String, String)],
      allSchemas: Seq[TableSchema]): String =
    s"""You are a Data Engineer Expert.
       |
       |${PromptBuilder.schemasInfo(allSchemas, schema)}
       |
       |The user has provided a VOICE COMMAND describing how they want to transform their dataset.
       |Listen to the audio carefully and:
       |1. First, transcribe exactly what the user said (word-for-word transcription)
       |2. Detect if the audio is EMPTY (no speech/words), MUSIC, or UNRELATED to data transformation
       |3. Then understand what transformation they want based on the audio
       |
       |CRITICAL VALIDATION - YOU MUST CHECK THESE FIRST:
       |
       |A. If the audio is EMPTY (silence, no words, no speech detected):
       |   - Set isValid to false
       |   - Set explanation to: "No speech was detected in the audio. Please speak clearly about how you want to transform your data."
       |   - Do NOT include sql, chartType, transformationStages, xAxis, yAxis, zAxis fields
       |   - Only return: {"isValid": false, "explanation": "..."}
       |
       |B. If the audio is MUSIC, background noise, or UNRELATED content:
       |   - Set isValid to false
       |   - Set explanation to: "The audio appears to be [music/unrelated content], not a data transformation command. Please provide a clear voice instruction about how you want to transform your data."
       |   - Do NOT include sql, chartType, transformationStages, xAxis, yAxis, zAxis fields
       |   - Only return: {"isValid": false, "explanation": "..."}
       |
       |C. If the audio contains a valid data transformation request:
       |   - Set isValid to true
       |   - In explanation, start with "User said: [exact transcription]" followed by your understanding
       |   - Proceed with generating SQL, chartType, transformationStages, xAxis, yAxis, zAxis as normal
       |   - Return full response with all fields
       |
       |CRITICAL: When isValid is false, you MUST NOT include sql, chartType, or transformationStages in your response. Only return isValid and explanation.
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
       |
       |   - For each stage, extract and populate the appropriate data fields:
       |     * JOIN: joinType (INNER, LEFT, RIGHT, FULL OUTER), leftTable, rightTable, leftKey, rightKey
       |     * UNION: unionType (UNION or UNION ALL), tables array
       |     * FILTER: table, column, operator (=, !=, >, <, >=, <=, LIKE, IN, NOT IN), value, or conditions array
       |     * GROUP: groupBy array, aggregations array with function (SUM, COUNT, AVG, MAX, MIN), column, alias
       |     * SELECT: columns array
       |     * SORT: orderBy array with column and direction (ASC/DESC)
       |     * AGGREGATE: aggregations array with function, column, alias
       |     * CUSTOM: sql string
       |
       |   - MANDATORY: You MUST return the transformationStages array. It is a required field in the response schema.
       |   - Always analyze the SQL structure to determine the correct stage types. DO NOT default to CUSTOM unless truly necessary.
       |   - Break down complex queries into multiple stages in the correct order (e.g., JOIN first, then GROUP, then SORT).""".stripMargin

  /** Full request payload: the SAME response schema object as the
    * transform surface (server/index.js:977-983 — `responseSchema` is
    * shared), plus the audio part's MIME type. */
  def buildRequest(
      schema: Seq[(String, String)],
      allSchemas: Seq[TableSchema],
      audioMimeType: String = DefaultAudioMimeType): PlannerRequest =
    PlannerRequest(buildPrompt(schema, allSchemas),
      PromptBuilder.responseSchema, Some(audioMimeType))

  // ---------------------------------------------------------- response

  /** Transcript placeholder when nothing better can be extracted
    * (server/index.js:1099). */
  val DefaultTranscript = "Voice command processed"

  /** Normalized `/api/voice/command` response: transcript prepended to
    * whatever the model returned (server/index.js:1131-1134). */
  final case class VoiceCommandResponse(
      transcript: String,
      reply: TransformResponse.ParsedResponse)

  private val userSaidRe =
    java.util.regex.Pattern.compile("User said:\\s*(.+?)(?:\\n|$)",
      java.util.regex.Pattern.CASE_INSENSITIVE)

  /**
   * Transcript extraction from the explanation (server/index.js:1098-1112):
   * the "User said: ..." first line if present; the literal
   * "[No speech detected]" marker; else the first sentence with any
   * leading "User said:" stripped; else the placeholder.
   */
  def extractTranscript(explanation: String): String =
    explanation match {
      case "" => DefaultTranscript
      case e =>
        val m = userSaidRe.matcher(e)
        if (m.find()) m.group(1).trim
        else if (e.contains("[No speech detected]")) "[No speech detected]"
        else e.split("\\.", 2)(0)
          .replaceFirst("(?i)^User said:\\s*", "").trim
    }

  /**
   * Post-parse normalization (server/index.js:1092-1129). The reply has
   * the transform surface's schema, so [[TransformResponse.parseJValue]]
   * decodes it: `isValid` defaults to true when absent (backward
   * compatibility), and when it is false every transformation field is
   * STRIPPED even if the model emitted one. The transcript is extracted
   * from the explanation.
   */
  def normalize(parsed: JValue): VoiceCommandResponse = {
    val reply = TransformResponse.parseJValue(parsed)
    VoiceCommandResponse(extractTranscript(reply.explanation), reply)
  }

  // ------------------------------------------------------------ funnel

  /** Client rejection message when `isValid=false` arrives with no
    * explanation (ui/src/SmartTransform.tsx:283). */
  val InvalidAudioFallback =
    "The audio does not appear to be a data transformation command. " +
      "Please provide a clear voice instruction about how you want to transform your data."

  /** Client rejection message when the command was recognized but carries
    * no sql/stages (ui/src/SmartTransform.tsx:299). */
  val NoTransformMessage =
    "The voice command was recognized but could not be converted to a " +
      "data transformation. Please try rephrasing your request more clearly."

  /**
   * The client funnel decision (ui/src/SmartTransform.tsx:279-316):
   * Left(message) = rejected, flow and tables stay unchanged;
   * Right(prompt) = the text to re-drive the TEXT transform path with
   * (`onTransform(transcript)`, falling back to the explanation) — i.e.
   * the argument for [[Planner.plan]].
   */
  def funnel(r: VoiceCommandResponse): Either[String, String] = {
    val reply = r.reply
    if (!reply.isValid)
      Left(if (reply.explanation.nonEmpty) reply.explanation else InvalidAudioFallback)
    else if (reply.sql.forall(_.isEmpty) || reply.rawStages.isEmpty)
      Left(NoTransformMessage)
    else if (r.transcript.nonEmpty && r.transcript != DefaultTranscript)
      Right(r.transcript)
    else if (reply.explanation.nonEmpty)
      Right(reply.explanation)
    else
      Left(NoTransformMessage)
  }
}

/**
 * Pluggable audio→response seam, like [[Planner]] for text: the reference
 * posts the audio blob + prompt to Gemini and parses the JSON-forced
 * reply; this environment is offline, so the shipped implementation is a
 * deterministic mock used by the specs. An HTTP implementation serializes
 * [[VoicePromptBuilder.buildRequest]] plus the audio part verbatim.
 */
trait VoiceTranscriber {
  def command(audio: Array[Byte], schema: Seq[(String, String)],
      allSchemas: Seq[TableSchema]): VoicePromptBuilder.VoiceCommandResponse
}

/**
 * Deterministic mock implementing the reference's gating table over a
 * fake audio encoding (UTF-8 text standing in for the waveform): empty
 * bytes = case A (silence), a leading "MUSIC:" tag = case B, anything
 * else = case C with the text as the exact transcription, planned through
 * [[MockPlanner]] for the sql/stage fields.
 */
final class MockVoiceTranscriber(planner: Planner = new MockPlanner)
    extends VoiceTranscriber {
  import VoicePromptBuilder._
  import TransformResponse.ParsedResponse
  import graft.pipeline.StageRepair.RawStage

  /** Case-A explanation, verbatim from the prompt contract
    * (server/index.js:1017). */
  val EmptyAudioExplanation =
    "No speech was detected in the audio. Please speak clearly about how you want to transform your data."

  /** Case-B explanation template (server/index.js:1023). */
  def unrelatedExplanation(kind: String): String =
    s"The audio appears to be [$kind], not a data transformation command. " +
      "Please provide a clear voice instruction about how you want to transform your data."

  override def command(audio: Array[Byte], schema: Seq[(String, String)],
      allSchemas: Seq[TableSchema]): VoiceCommandResponse = {
    val text = new String(audio, java.nio.charset.StandardCharsets.UTF_8).trim
    if (text.isEmpty)
      VoiceCommandResponse("[No speech detected]", rejected(EmptyAudioExplanation))
    else if (text.startsWith("MUSIC:"))
      VoiceCommandResponse(text.stripPrefix("MUSIC:").trim,
        rejected(unrelatedExplanation("music")))
    else {
      val plan = planner.plan(text, allSchemas)
      VoiceCommandResponse(text, ParsedResponse(isValid = true,
        Some(plan.sql).filter(_.nonEmpty), s"User said: $text\n${plan.explanation}",
        plan.chartConfig,
        plan.stages.map(st => RawStage(st.id, st.stageType, st.description, Map.empty))))
    }
  }

  private def rejected(explanation: String): ParsedResponse =
    ParsedResponse(isValid = false, None, explanation, None, Nil)
}
