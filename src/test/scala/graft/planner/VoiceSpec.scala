package graft.planner

import graft.SparkTestBase
import graft.pipeline.StageRepair.RawStage
import graft.planner.TransformResponse.ParsedResponse
import org.apache.spark.sql.Row
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Voice-command surface (reference: server/index.js:950-1147 +
  * ui/src/SmartTransform.tsx:218-316): prompt assembly, response
  * normalization, the client funnel gating table, and the end-to-end
  * funnel into the text planner. */
class VoiceSpec extends SparkTestBase {

  import VoicePromptBuilder._

  private val utf8 = java.nio.charset.StandardCharsets.UTF_8
  private val schemas = Seq(
    TableSchema("orders", Seq("order_id" -> "BIGINT", "customer_id" -> "BIGINT",
      "amount" -> "DOUBLE")),
    TableSchema("customers", Seq("customer_id" -> "BIGINT", "name" -> "VARCHAR")))

  // ------------------------------------------------------------ prompt

  test("prompt carries the three CRITICAL VALIDATION branches verbatim") {
    val p = buildPrompt(Nil, schemas)
    assert(p.contains("CRITICAL VALIDATION - YOU MUST CHECK THESE FIRST:"))
    assert(p.contains("A. If the audio is EMPTY (silence, no words, no speech detected):"))
    assert(p.contains("B. If the audio is MUSIC, background noise, or UNRELATED content:"))
    assert(p.contains("C. If the audio contains a valid data transformation request:"))
    assert(p.contains("""Only return: {"isValid": false, "explanation": "..."}"""))
    assert(p.contains("CRITICAL: When isValid is false, you MUST NOT include sql, chartType, or transformationStages"))
    // the tail reuses the transform surface's SQL/stage rule set
    assert(p.contains("1. Write valid DuckDB SQL."))
    assert(p.contains("MANDATORY: You MUST return the transformationStages array."))
  }

  test("schemasInfo prefers allSchemas and falls back to the single schema") {
    val multi = PromptBuilder.schemasInfo(schemas, Seq("x" -> "BIGINT"))
    assert(multi.startsWith("Available Tables:"))
    assert(multi.contains("- orders: ") && multi.contains("- customers: "))
    val single = PromptBuilder.schemasInfo(Nil, Seq("x" -> "BIGINT"))
    assert(single.startsWith("Current Table Schema (DuckDB):"))
    assert(single.contains(""""column_name":"x""""))
  }

  test("request reuses the transform surface's response schema and model id") {
    val req = buildRequest(Nil, schemas)
    // model id and responseMimeType are set on the wire (HttpPlannerSpec)
    assert(req.responseSchema == PromptBuilder.responseSchema)
    assert(req.audioMimeType.contains("audio/webm"))
  }

  // --------------------------------------------------------- normalize

  private def parse(json: String): JValue = JsonMethods.parse(json)

  test("isValid defaults to true when absent (backward compatibility)") {
    val r = normalize(parse("""{"explanation":"User said: filter rows\nok",
      "sql":"SELECT 1","transformationStages":[{"type":"FILTER","description":"f"}]}"""))
    assert(r.reply.isValid && r.transcript == "filter rows")
  }

  test("invalid responses are stripped of every transformation field") {
    val r = normalize(parse("""{"isValid":false,
      "explanation":"The audio appears to be [music], not a data transformation command.",
      "sql":"SELECT 1","chartType":"bar","xAxis":"a","yAxis":"b",
      "transformationStages":[{"type":"CUSTOM","description":"x"}]}"""))
    assert(!r.reply.isValid)
    // chartConfig carries chartType and the x/y/z axes
    assert(r.reply.sql.isEmpty && r.reply.rawStages.isEmpty && r.reply.chartConfig.isEmpty)
  }

  test("transcript extraction: User said line, marker, first-sentence fallback") {
    assert(extractTranscript("User said: show top customers\nThen I did X")
      == "show top customers")
    assert(extractTranscript("user SAID:   mixed case works")
      == "mixed case works")
    assert(extractTranscript("[No speech detected] nothing heard")
      == "[No speech detected]")
    assert(extractTranscript("Filtered the orders table. More detail follows.")
      == "Filtered the orders table")
    assert(extractTranscript("") == DefaultTranscript)
    // an absent explanation decodes to "" and gets the placeholder too
    assert(normalize(parse("""{"isValid": true}""")).transcript == DefaultTranscript)
  }

  // ------------------------------------------------------------ funnel

  private def valid(transcript: String, sql: Option[String],
      stages: Seq[RawStage], explanation: String = "e") =
    VoiceCommandResponse(transcript,
      ParsedResponse(isValid = true, sql, explanation, None, stages))

  private val oneStage: Seq[RawStage] =
    Seq(RawStage("stage_1", "CUSTOM", "d", Map.empty))

  test("funnel rejects invalid audio with the explanation (or fallback)") {
    val r = VoiceCommandResponse("[No speech detected]", ParsedResponse(isValid = false,
      None,
      "No speech was detected in the audio. Please speak clearly about how you want to transform your data.",
      None, Nil))
    assert(VoicePromptBuilder.funnel(r) == Left(r.reply.explanation))
    assert(VoicePromptBuilder.funnel(r.copy(reply = r.reply.copy(explanation = "")))
      == Left(InvalidAudioFallback))
  }

  test("funnel rejects a recognized command with no sql or no stages") {
    assert(VoicePromptBuilder.funnel(valid("t", None, oneStage))
      == Left(NoTransformMessage))
    assert(VoicePromptBuilder.funnel(valid("t", Some("SELECT 1"), Nil))
      == Left(NoTransformMessage))
  }

  test("funnel forwards the transcript, falling back to the explanation") {
    assert(VoicePromptBuilder.funnel(
      valid("show totals", Some("SELECT 1"), oneStage)) == Right("show totals"))
    assert(VoicePromptBuilder.funnel(
      valid(DefaultTranscript, Some("SELECT 1"), oneStage, "the understanding"))
      == Right("the understanding"))
  }

  // ----------------------------------------------- mock gating table E2E

  test("mock: empty audio takes branch A (no transform fields)") {
    val r = new MockVoiceTranscriber().command(Array.emptyByteArray, Nil, schemas)
    assert(!r.reply.isValid && r.reply.sql.isEmpty && r.reply.rawStages.isEmpty)
    assert(r.transcript == "[No speech detected]")
    assert(VoicePromptBuilder.funnel(r).isLeft)
  }

  test("mock: music audio takes branch B") {
    val r = new MockVoiceTranscriber()
      .command("MUSIC: some song".getBytes(utf8), Nil, schemas)
    assert(!r.reply.isValid && r.reply.explanation.contains("appears to be [music]"))
    assert(VoicePromptBuilder.funnel(r).isLeft)
  }

  test("mock: a valid command funnels into the text planner and executes") {
    val r = new MockVoiceTranscriber()
      .command("join the two tables".getBytes(utf8), Nil, schemas)
    assert(r.reply.isValid && r.reply.explanation.startsWith("User said: join the two tables"))
    val prompt = VoicePromptBuilder.funnel(r)
      .getOrElse(fail("expected Right"))
    // the reference re-drives the TEXT path with the transcript
    val plan = new MockPlanner().plan(prompt, schemas)
    assert(plan.isValid)
    val ex = new graft.pipeline.PipelineExecutor(spark)
    ex.register("orders", df("order_id BIGINT, customer_id BIGINT, amount DOUBLE",
      Seq(Row(1L, 101L, 100.0), Row(2L, 102L, 50.0))))
    ex.register("customers", df("customer_id BIGINT, name STRING",
      Seq(Row(101L, "Alice"), Row(102L, "Bob"))))
    assert(spark.sql(plan.sql).count() == 2)
  }
}

/** Chat-audio loop (reference: server/index.js:1150-1310 +
  * ui/src/SmartTransform.tsx:318-410): prompt/history assembly, the
  * empty-or-unrelated heuristic, history threading, and the
  * shouldTransform execution gate composing with the planner. */
class ChatAudioSpec extends SparkTestBase {

  import ChatAudioBuilder._

  private val utf8 = java.nio.charset.StandardCharsets.UTF_8
  private val schema = Seq("order_id" -> "BIGINT", "amount" -> "DOUBLE")

  test("prompt carries the gating rules, schema block, and history") {
    val hist = Seq(ChatMessage("user", "what columns do I have?"),
      ChatMessage("assistant", "order_id and amount."))
    val p = buildPrompt(schema, hist)
    assert(p.contains("CRITICAL VALIDATION - CHECK THESE FIRST:"))
    assert(p.contains("""Set transcript to "[No speech detected]""""))
    assert(p.contains("Current Table Schema (DuckDB):"))
    assert(p.contains("Previous conversation:\nUser: what columns do I have?\nAssistant: order_id and amount."))
    assert(p.contains("""IMPORTANT: Only set "shouldTransform" to true"""))
    // no-tables + no-history variant
    val bare = buildPrompt(Nil, Nil)
    assert(bare.contains("No tables are currently loaded."))
    assert(!bare.contains("Previous conversation:"))
  }

  test("response schema is the three-field chat contract") {
    val props = (responseSchema \ "properties").asInstanceOf[JObject].obj.map(_._1)
    assert(props == List("transcript", "response", "shouldTransform"))
  }

  test("isEmptyOrUnrelated truth table from the client heuristic") {
    assert(isEmptyOrUnrelated(ChatTurn("[No speech detected]", "x", false)))
    assert(isEmptyOrUnrelated(ChatTurn("Music playing", "x", false)))
    assert(isEmptyOrUnrelated(ChatTurn("t", "No speech was detected in the audio.", false)))
    assert(isEmptyOrUnrelated(ChatTurn("t",
      "The audio appears to be [music], not a message about data transformation.", false)))
    assert(!isEmptyOrUnrelated(ChatTurn("filter the big orders", "Sure - which column?", false)))
    assert(!isEmptyOrUnrelated(ChatTurn("", "anything", false))) // blank transcript short-circuits
  }

  test("history threads the (user, assistant) pair in order") {
    val t = ChatTurn("filter big orders", "Which threshold?", shouldTransform = false)
    val h = updatedHistory(Nil, t)
    assert(h == Seq(ChatMessage("user", "filter big orders"),
      ChatMessage("assistant", "Which threshold?")))
    // rejected branch keeps the flow unchanged but still logs the exchange
    val rej = ChatTurn("Music playing", "", shouldTransform = false)
    val h2 = updatedHistory(h, rej)
    assert(h2.length == 4 && h2(3).content.startsWith("The audio does not appear"))
    // blank transcript gets the placeholder
    assert(updatedHistory(Nil, ChatTurn("", "hm", false)).head.content == "Voice message")
  }

  test("shouldExecuteTransform gate: model flag AND usable transcript") {
    assert(shouldExecuteTransform(ChatTurn("run it on orders", "ok", true)))
    assert(!shouldExecuteTransform(ChatTurn("run it", "ok", false)))
    assert(!shouldExecuteTransform(ChatTurn("[No speech detected]", "ok", true)))
    assert(!shouldExecuteTransform(ChatTurn("", "ok", true)))
    assert(!shouldExecuteTransform(ChatTurn("Music playing", "ok", true)))
  }

  test("multi-turn mock conversation ends in a planner handoff") {
    val mock = new MockChatAudio
    var hist = Seq.empty[ChatMessage]
    val t1 = mock.turn("what can I do with this data?".getBytes(utf8))
    assert(!shouldExecuteTransform(t1))
    hist = updatedHistory(hist, t1)
    val t2 = mock.turn("yes, proceed: join the two tables".getBytes(utf8))
    assert(shouldExecuteTransform(t2))
    hist = updatedHistory(hist, t2)
    assert(hist.map(_.role) == Seq("user", "assistant", "user", "assistant"))
    // the transcript funnels into the TEXT path, like the reference
    val plan = new MockPlanner().plan(t2.transcript, Seq(
      TableSchema("orders", Seq("customer_id" -> "BIGINT")),
      TableSchema("customers", Seq("customer_id" -> "BIGINT"))))
    assert(plan.isValid)
  }

  test("mock gating: empty and music turns never transform") {
    val mock = new MockChatAudio
    val e = mock.turn(Array.emptyByteArray)
    assert(e.transcript == "[No speech detected]" && !e.shouldTransform)
    assert(isEmptyOrUnrelated(e))
    val m = mock.turn("MUSIC: jazz".getBytes(utf8))
    assert(!m.shouldTransform && isEmptyOrUnrelated(m))
  }
}
