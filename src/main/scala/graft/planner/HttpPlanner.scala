package graft.planner

import graft.pipeline.StageRepair
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.Base64

/**
 * Live HTTP [[Planner]] — the drop-in behind the seam the rest of the
 * engine already consumes (`PromptBuilder` builds the request,
 * `TransformResponse.parse andThen toPlan` consumes the reply; this
 * class only moves bytes).
 *
 * Wire shape: the reference calls the `@google/generative-ai` SDK
 * (ref: server/index.js:246-320); the REST form that SDK resolves to is
 * `POST {base}/v1beta/models/{model}:generateContent` with body
 * `{contents:[{parts:[{text: prompt}]}], generationConfig:
 * {responseMimeType, responseSchema}}` and reply
 * `{candidates:[{content:{parts:[{text: "<forced-schema json>"}]}}]}`.
 * The API key travels in the `x-goog-api-key` header (not a `?key=`
 * query param — keys in URLs end up in access logs).
 *
 * `baseUrl` is injectable, which is also how the adapter is TESTED in
 * this offline environment: the spec boots a localhost fixture server
 * and drives the full client — same bytes, no egress. Transport errors
 * and non-200s surface as [[HttpPlanner.PlannerHttpException]]; a 200
 * whose body lacks the candidates path fails parsing loudly rather than
 * returning an empty plan.
 */
object HttpPlanner {
  final class PlannerHttpException(val status: Int, msg: String)
    extends RuntimeException(msg)

  /** One client for every surface and instance (`HttpClient` is
    * thread-safe and pools connections). It sets no connect timeout: each
    * request's own timeout bounds the whole exchange, connecting included
    * (a connect that stalls fails with `HttpConnectTimeoutException` at
    * the request timeout). */
  private lazy val client = HttpClient.newHttpClient()

  /** The generateContent POST every surface shares: the prompt as the
    * first part then, when the request names an audio MIME type, `audio`
    * as a base64 `inline_data` part (the reference's
    * `model.generateContent([prompt, audioPart])`, server/index.js:
    * 1073-1082). The reply is forced into JSON of the request's schema;
    * its text is returned. */
  private[planner] def generateContent(
      baseUrl: String, apiKey: String, model: String, timeout: Duration,
      req: PlannerRequest, audio: Array[Byte] = Array.emptyByteArray): String = {
    val audioPart = req.audioMimeType.map(mime => ("inline_data" ->
      (("mime_type" -> mime) ~
        ("data" -> Base64.getEncoder.encodeToString(audio)))): JObject)
    val parts = (("text" -> req.prompt): JObject) :: audioPart.toList
    val body: JObject =
      ("contents" -> List(("parts" -> parts): JObject)) ~
      ("generationConfig" ->
        (("responseMimeType" -> "application/json") ~
          ("responseSchema" -> req.responseSchema)))
    val http = HttpRequest.newBuilder(
        URI.create(s"$baseUrl/v1beta/models/$model:generateContent"))
      .header("Content-Type", "application/json")
      .header("x-goog-api-key", apiKey)
      .timeout(timeout)
      .POST(HttpRequest.BodyPublishers.ofString(
        JsonMethods.compact(JsonMethods.render(body))))
      .build()
    val resp = client.send(http, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new PlannerHttpException(resp.statusCode(),
        s"generateContent failed: HTTP ${resp.statusCode()}: " +
          resp.body().take(500))
    extractText(resp.body())
  }

  /** Pull `candidates[0].content.parts[*].text` (parts concatenate, per
    * the SDK's `response.text()`); anything else is a malformed reply. */
  private def extractText(body: String): String = {
    val texts = JsonMethods.parse(body) \ "candidates" match {
      case JArray(c0 :: _) =>
        c0 \ "content" \ "parts" match {
          case JArray(parts) => parts.collect { case p =>
            p \ "text" match { case JString(t) => t; case _ => "" } }
          case _ => Nil
        }
      case _ => Nil
    }
    val text = texts.mkString
    if (text.isEmpty)
      throw new PlannerHttpException(200,
        s"malformed generateContent reply (no candidates text): ${body.take(500)}")
    text
  }
}

final class HttpPlanner(
    baseUrl: String,
    apiKey: String,
    schemaOf: StageRepair.SchemaLookup,
    model: String = PromptBuilder.ModelId,
    timeout: Duration = Duration.ofSeconds(30)) extends Planner {

  override def plan(userPrompt: String, schemas: Seq[TableSchema]): Plan = {
    val text = HttpPlanner.generateContent(baseUrl, apiKey, model, timeout,
      PromptBuilder.transformRequest(userPrompt, schemas))
    TransformResponse.toPlan(TransformResponse.parse(text), schemaOf)
  }
}

/**
 * Live HTTP [[VoiceTranscriber]] — same wire as [[HttpPlanner]] with the
 * audio blob as a second part: `[{text: prompt}, {inline_data:
 * {mime_type, data: base64}}]`, matching the reference's
 * `model.generateContent([prompt, audioPart])` order
 * (ref: server/index.js:1073-1082). The JSON-forced reply goes through
 * [[VoicePromptBuilder.normalize]] — the transform reply decoder, then
 * transcript extraction — so gating behavior is transport-independent.
 */
final class HttpVoiceTranscriber(
    baseUrl: String,
    apiKey: String,
    model: String = PromptBuilder.ModelId,
    timeout: Duration = Duration.ofSeconds(60)) extends VoiceTranscriber {

  def command(audio: Array[Byte], schema: Seq[(String, String)],
      allSchemas: Seq[TableSchema]): VoicePromptBuilder.VoiceCommandResponse =
    command(audio, schema, allSchemas, VoicePromptBuilder.DefaultAudioMimeType)

  def command(audio: Array[Byte], schema: Seq[(String, String)],
      allSchemas: Seq[TableSchema], audioMimeType: String)
      : VoicePromptBuilder.VoiceCommandResponse = {
    val text = HttpPlanner.generateContent(baseUrl, apiKey, model, timeout,
      VoicePromptBuilder.buildRequest(schema, allSchemas, audioMimeType), audio)
    VoicePromptBuilder.normalize(JsonMethods.parse(text))
  }
}

/**
 * Live HTTP chat-audio loop (`/api/voice/chat-audio`,
 * ref: server/index.js:1150-1310): history-aware prompt + the audio
 * inline_data part through the same generateContent wire, reply parsed
 * into the `{transcript, response, shouldTransform}` [[ChatAudioBuilder
 * .ChatTurn]] contract. `shouldTransform` defaults FALSE when absent —
 * the conservative side of the gate (never auto-run a transformation the
 * model didn't explicitly confirm).
 */
final class HttpChatAudio(
    baseUrl: String,
    apiKey: String,
    model: String = PromptBuilder.ModelId,
    timeout: Duration = Duration.ofSeconds(60)) {

  def turn(audio: Array[Byte], schema: Seq[(String, String)],
      history: Seq[ChatAudioBuilder.ChatMessage],
      audioMimeType: String = VoicePromptBuilder.DefaultAudioMimeType)
      : ChatAudioBuilder.ChatTurn = {
    val text = HttpPlanner.generateContent(baseUrl, apiKey, model, timeout,
      ChatAudioBuilder.buildRequest(schema, history, audioMimeType), audio)
    val jv = JsonMethods.parse(text)
    def str(field: String, dflt: String): String = jv \ field match {
      case JString(s) => s
      case _          => dflt
    }
    ChatAudioBuilder.ChatTurn(
      transcript = str("transcript", ""),
      response = str("response", ""),
      shouldTransform = jv \ "shouldTransform" match {
        case JBool(b) => b
        case _        => false
      })
  }
}
