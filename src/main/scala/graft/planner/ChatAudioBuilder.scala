package graft.planner

import org.json4s._
import org.json4s.JsonDSL._
import PromptBuilder.str

/**
 * Pure port of the reference's `/api/voice/chat-audio` surface — the
 * conversational voice loop that precedes a transformation
 * (reference: server/index.js:1150-1310) and its client half
 * (ui/src/SmartTransform.tsx:318-410: history threading, the
 * empty-or-unrelated heuristic, and the `shouldTransform` execution gate).
 *
 * Unlike `/api/voice/command` (one-shot audio → plan,
 * [[VoicePromptBuilder]]), this surface holds a CONVERSATION: each turn
 * sends the schema, the running history, and the new audio; the model
 * returns `{transcript, response, shouldTransform}`; the client appends
 * the (user transcript, assistant response) pair to the history and —
 * only when `shouldTransform` fires with a usable transcript — funnels
 * the transcript into the TEXT transform path ([[Planner.plan]]).
 * Audio transport is environment-blocked; the contract below is the pure,
 * portable half, mock-implemented for the specs.
 */
object ChatAudioBuilder {

  final case class ChatMessage(role: String, content: String) // "user"|"assistant"

  /** One model turn (server/index.js:1181-1199 response schema). */
  final case class ChatTurn(
      transcript: String,
      response: String,
      shouldTransform: Boolean)

  /** The `{transcript, response, shouldTransform}` response schema
    * (server/index.js:1181-1199). */
  val responseSchema: JObject =
    ("type" -> "OBJECT") ~ ("properties" -> (
      ("transcript" -> str(
        "The transcribed text of what the user said in the audio")) ~
        ("response" -> str("Your conversational response to the user")) ~
        ("shouldTransform" -> (("type" -> "BOOLEAN") ~
          ("description" -> ("Whether the user wants to proceed with a data transformation. " +
            "Set to true if the user confirms they want to transform the data, " +
            "false if they're still discussing or asking questions."))))))

  /** Schema block (server/index.js:1213-1215): single-table JSON or the
    * no-tables sentence — this surface never takes `allSchemas`. */
  def schemaInfo(schema: Seq[(String, String)]): String =
    if (schema.nonEmpty)
      s"Current Table Schema (DuckDB):\n${PromptBuilder.columnListing(schema)}"
    else "No tables are currently loaded."

  /** History block (server/index.js:1218-1222): empty string for no
    * history, else the "Previous conversation:" listing with User/
    * Assistant role labels. */
  def conversationHistory(history: Seq[ChatMessage]): String =
    if (history.isEmpty) ""
    else "\n\nPrevious conversation:\n" + history.map(m =>
      s"${if (m.role == "user") "User" else "Assistant"}: ${m.content}").mkString("\n")

  /** The chat prompt text (server/index.js:1228-1268), verbatim —
    * including the reference's duplicated "Your role:" block. */
  def buildPrompt(
      schema: Seq[(String, String)],
      history: Seq[ChatMessage]): String =
    s"""You are a helpful AI assistant helping a user transform their dataset using natural language.
       |
       |${schemaInfo(schema)}${conversationHistory(history)}
       |
       |The user is speaking to you via voice. Listen to their audio message and respond appropriately.
       |
       |CRITICAL VALIDATION - CHECK THESE FIRST:
       |
       |A. If the audio is EMPTY (silence, no words, no speech detected):
       |   - Set transcript to "[No speech detected]"
       |   - Set response to: "No speech was detected in the audio. Please speak clearly about your data transformation needs."
       |   - Set shouldTransform to false
       |
       |B. If the audio is MUSIC, background noise, or UNRELATED content:
       |   - Transcribe what you heard (e.g., "Music playing", "Background noise")
       |   - Set response to: "The audio appears to be [music/unrelated content], not a message about data transformation. Please provide a clear voice message about how you want to transform your data."
       |   - Set shouldTransform to false
       |
       |C. If the audio contains valid speech about data transformation:
       |   - Transcribe the user's words in the transcript field
       |   - Respond conversationally in the response field
       |   - Set shouldTransform based on whether the user wants to proceed with transformation
       |
       |Your role:
       |1. Check if the audio is EMPTY (silence, no speech detected)
       |2. Check if the audio is MUSIC or UNRELATED content (not about data transformation)
       |3. If empty: transcribe as "[No speech detected]" and politely explain no speech was heard. Set shouldTransform to false.
       |4. If music or unrelated: transcribe what you heard and politely explain it's not related to data transformation. Set shouldTransform to false.
       |5. If valid speech about data transformation: proceed with normal conversation.
       |
       |Your role:
       |1. First, transcribe what the user said in the "transcript" field.
       |2. If the user is asking questions about the data or transformation, answer helpfully.
       |3. If the user needs clarification about what transformation they want, ask specific questions.
       |4. If the user has provided enough information to perform a transformation, confirm what you understand and indicate that you're ready to proceed.
       |
       |IMPORTANT: Only set "shouldTransform" to true if the user has clearly indicated they want to proceed with a transformation and you have enough information. Otherwise, set it to false and continue the conversation.
       |
       |Respond naturally and conversationally.""".stripMargin

  def buildRequest(
      schema: Seq[(String, String)],
      history: Seq[ChatMessage],
      audioMimeType: String = VoicePromptBuilder.DefaultAudioMimeType): PlannerRequest =
    PlannerRequest(buildPrompt(schema, history), responseSchema, Some(audioMimeType))

  // ------------------------------------------------------------ client

  /** Client-side empty-or-unrelated heuristic over the model's turn
    * (ui/src/SmartTransform.tsx:363-372) — all substring checks are on
    * the lowercased text except the literal marker. */
  def isEmptyOrUnrelated(turn: ChatTurn): Boolean = {
    val t = turn.transcript
    val r = Option(turn.response).getOrElse("").toLowerCase
    t.nonEmpty && (
      t.contains("[No speech detected]") ||
      t.toLowerCase.contains("not related") ||
      t.toLowerCase.contains("music") ||
      r.contains("not related to data transformation") ||
      r.contains("no speech was detected") ||
      (r.contains("appears to be") && r.contains("not a message")))
  }

  /** History threading (ui/src/SmartTransform.tsx:375-394 both branches):
    * the user transcript (placeholder when blank) and the assistant
    * response — on the rejected branch the response falls back to the
    * generic retry message — are appended in order. */
  def updatedHistory(
      history: Seq[ChatMessage], turn: ChatTurn): Seq[ChatMessage] = {
    val userContent =
      if (turn.transcript.nonEmpty) turn.transcript else "Voice message"
    val assistantContent =
      if (isEmptyOrUnrelated(turn))
        if (turn.response.nonEmpty) turn.response
        else "The audio does not appear to be a valid message about data transformation. Please try again."
      else turn.response
    history :+ ChatMessage("user", userContent) :+
      ChatMessage("assistant", assistantContent)
  }

  /** The execution gate (ui/src/SmartTransform.tsx:402): transform only
    * when the model said so AND the transcript is usable AND the turn
    * wasn't classified empty/unrelated (the reference returns early in
    * that branch, so the gate is never reached). */
  def shouldExecuteTransform(turn: ChatTurn): Boolean =
    !isEmptyOrUnrelated(turn) && turn.shouldTransform &&
      turn.transcript.nonEmpty && turn.transcript != "[No speech detected]"
}

/**
 * Deterministic mock of the chat-audio turn, same fake-audio encoding as
 * [[MockVoiceTranscriber]] (UTF-8 text as the waveform): empty = case A,
 * "MUSIC:" = case B, a "confirm"/"yes, proceed" phrasing = case C with
 * shouldTransform=true, anything else = case C conversational.
 */
final class MockChatAudio {
  import ChatAudioBuilder._

  val EmptyResponse =
    "No speech was detected in the audio. Please speak clearly about your data transformation needs."

  def unrelatedResponse(kind: String): String =
    s"The audio appears to be [$kind], not a message about data transformation. " +
      "Please provide a clear voice message about how you want to transform your data."

  def turn(audio: Array[Byte]): ChatTurn = {
    val text = new String(audio, java.nio.charset.StandardCharsets.UTF_8).trim
    if (text.isEmpty)
      ChatTurn("[No speech detected]", EmptyResponse, shouldTransform = false)
    else if (text.startsWith("MUSIC:"))
      ChatTurn("Music playing", unrelatedResponse("music"), shouldTransform = false)
    else {
      val confirms = Seq("yes", "proceed", "go ahead", "do it", "confirm")
        .exists(text.toLowerCase.contains)
      if (confirms)
        ChatTurn(text, "Great - I'll run that transformation now.",
          shouldTransform = true)
      else
        ChatTurn(text,
          "Got it. Tell me when you're ready to run the transformation.",
          shouldTransform = false)
    }
  }
}
