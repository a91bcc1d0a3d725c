package graft.planner

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.model.{FilterStage, JoinStage}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/**
 * Drives the REAL HTTP adapter end-to-end against a localhost fixture
 * server (JDK HttpServer, ephemeral port — no egress): asserts the
 * request wire shape (path, method, api-key header, prompt + forced
 * response schema in the body) and that the canned Gemini-shape reply
 * parses through TransformResponse/StageRepair into typed stages. Error
 * paths: non-200 and a 200 with no candidates both raise, never return
 * an empty plan.
 */
class HttpPlannerSpec extends AnyFunSuite {

  private val goldenTransform =
    """{
      |  "isValid": true,
      |  "sql": "SELECT * FROM orders o JOIN customers c ON o.customer_id = c.customer_id WHERE o.amount > 100",
      |  "chartType": "none",
      |  "explanation": "Join then filter.",
      |  "transformationStages": [
      |    {"type": "JOIN", "description": "join",
      |     "data": {"joinType": "INNER", "leftTable": "orders",
      |              "rightTable": "customers", "leftKey": "customer_id",
      |              "rightKey": "customer_id"}},
      |    {"type": "FILTER", "description": "big orders",
      |     "data": {"column": "amount", "operator": ">", "value": "100"}}
      |  ]
      |}""".stripMargin

  private def geminiReply(text: String): String = {
    // candidates[0].content.parts[0].text carries the forced-schema JSON
    val escaped = text.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n")
    s"""{"candidates":[{"content":{"parts":[{"text":"$escaped"}]},"finishReason":"STOP"}]}"""
  }

  private val schemas = Seq(
    TableSchema("orders", Seq("customer_id" -> "BIGINT", "amount" -> "DOUBLE")),
    TableSchema("customers", Seq("customer_id" -> "BIGINT", "name" -> "VARCHAR")))

  private val lookup: graft.pipeline.StageRepair.SchemaLookup =
    name => schemas.find(_.name == name).map(_.columns.map(_._1))

  private def withServer(handler: HttpExchange => Unit)(f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = handler(ex)
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private val generatePath = "/v1beta/models/gemini-3-flash-preview:generateContent"

  /** Every surface forces a JSON reply: generationConfig.responseMimeType. */
  private def responseMimeType(body: String): JValue =
    JsonMethods.parse(body) \ "generationConfig" \ "responseMimeType"

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  test("request wire shape and golden reply → typed, repaired stages") {
    @volatile var seenPath = ""; @volatile var seenKey = ""
    @volatile var seenBody = ""
    withServer { ex =>
      seenPath = ex.getRequestURI.getPath
      seenKey = ex.getRequestHeaders.getFirst("x-goog-api-key")
      seenBody = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      respond(ex, 200, geminiReply(goldenTransform))
    } { base =>
      val planner = new HttpPlanner(base, "test-key-123", lookup)
      val plan = planner.plan("orders over 100 with customer names", schemas)
      assert(seenPath == generatePath)
      assert(seenKey == "test-key-123")
      // body carries the built prompt and the forced response schema
      assert(seenBody.contains("orders over 100 with customer names"))
      assert(seenBody.contains("responseSchema"))
      assert(seenBody.contains("transformationStages"))
      assert(responseMimeType(seenBody) == JString("application/json"))
      // reply became typed stages through the same path the mock uses
      assert(plan.isValid && plan.stages.size == 2)
      assert(plan.stages.head.isInstanceOf[JoinStage])
      assert(plan.stages(1).isInstanceOf[FilterStage])
      assert(plan.sql.startsWith("SELECT * FROM orders"))
    }
  }

  test("voice transcriber ships the audio as a base64 inline_data part") {
    val audio = "filter big orders please".getBytes(StandardCharsets.UTF_8)
    val voiceReply =
      """{
        |  "isValid": true,
        |  "sql": "SELECT * FROM orders WHERE amount > 100",
        |  "chartType": "none",
        |  "explanation": "User said: filter big orders please.\nKeeps orders over 100.",
        |  "transformationStages": [
        |    {"type": "FILTER", "description": "big orders",
        |     "data": {"column": "amount", "operator": ">", "value": "100"}}
        |  ]
        |}""".stripMargin
    @volatile var seenPath = ""; @volatile var seenBody = ""
    withServer { ex =>
      seenPath = ex.getRequestURI.getPath
      seenBody = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      respond(ex, 200, geminiReply(voiceReply))
    } { base =>
      val t = new HttpVoiceTranscriber(base, "test-key-123")
      val r = t.command(audio, schemas.head.columns, schemas)
      // audio part: base64 payload + mime, AFTER the text prompt part
      val b64 = java.util.Base64.getEncoder.encodeToString(audio)
      assert(seenBody.contains(b64))
      assert(seenBody.contains("inline_data") && seenBody.contains("audio/webm"))
      assert(seenBody.indexOf("VOICE COMMAND") < seenBody.indexOf(b64))
      assert(seenPath == generatePath)
      assert(responseMimeType(seenBody) == JString("application/json"))
      // normalized through the same gating path as the mock
      assert(r.reply.isValid && r.transcript == "filter big orders please.")
      assert(r.reply.sql.exists(_.contains("amount > 100")))
    }
  }

  test("chat-audio turn: history in prompt, {transcript, response, shouldTransform} out") {
    val reply =
      """{"transcript": "yes run it", "response": "Running the filter now.",
        | "shouldTransform": true}""".stripMargin
    @volatile var seenPath = ""; @volatile var seenBody = ""
    withServer { ex =>
      seenPath = ex.getRequestURI.getPath
      seenBody = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      respond(ex, 200, geminiReply(reply))
    } { base =>
      val history = Seq(
        ChatAudioBuilder.ChatMessage("user", "filter orders over 100"),
        ChatAudioBuilder.ChatMessage("assistant", "Ready when you are."))
      val t = new HttpChatAudio(base, "k").turn(
        "yes run it".getBytes(StandardCharsets.UTF_8),
        schemas.head.columns, history)
      assert(seenBody.contains("filter orders over 100")) // history reaches the prompt
      assert(seenBody.contains("inline_data"))
      assert(seenPath == generatePath)
      assert(responseMimeType(seenBody) == JString("application/json"))
      assert(t == ChatAudioBuilder.ChatTurn("yes run it", "Running the filter now.",
        shouldTransform = true))
    }
    // shouldTransform missing → conservative false
    withServer { ex =>
      respond(ex, 200, geminiReply("""{"transcript": "hm", "response": "Could you clarify?"}"""))
    } { base =>
      val t = new HttpChatAudio(base, "k").turn(
        "hm".getBytes(StandardCharsets.UTF_8), schemas.head.columns, Nil)
      assert(!t.shouldTransform)
    }
  }

  test("non-200 raises with status; empty-candidates 200 raises, not empty plan") {
    withServer(ex => respond(ex, 429, """{"error":{"message":"quota"}}""")) { base =>
      val e = intercept[HttpPlanner.PlannerHttpException] {
        new HttpPlanner(base, "k", lookup).plan("x", schemas)
      }
      assert(e.status == 429)
    }
    withServer(ex => respond(ex, 200, """{"candidates":[]}""")) { base =>
      val e = intercept[HttpPlanner.PlannerHttpException] {
        new HttpPlanner(base, "k", lookup).plan("x", schemas)
      }
      assert(e.getMessage.contains("malformed"))
    }
  }
}
