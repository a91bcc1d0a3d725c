package graft.planner

import graft.pipeline.StageRepair.RawStage
import graft.viz.ChartConfig
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Parser for the LLM's JSON-forced `/api/transform` reply — the missing
 * half of the HTTP seam: [[PromptBuilder]] assembles the request, this
 * object decodes the response into the engine's loosely-typed
 * [[RawStage]]s, ready for [[graft.pipeline.StageRepair]] →
 * [[graft.pipeline.PipelineExecutor]]. It is the one decoder of that
 * reply shape: the voice surface's reply has the same schema
 * (server/index.js:981), and [[VoicePromptBuilder.normalize]] decodes it
 * here too.
 *
 * Shape per the reference's response schema (server/index.js:84-195) and
 * its client-side consumption (ui/src/App.tsx:1007-1060: `JSON.parse` of
 * the model text, stage ids synthesized as `stage_<n>`, `isValid`
 * defaulting to true for backward compatibility — same rule as the voice
 * surface, server/index.js:1095). The golden record-replay fixture in
 * TransformResponseSpec drives a captured Gemini-shape payload through
 * parse → repair → execute end-to-end, proving a live HTTP adapter drops
 * in without engine changes.
 */
object TransformResponse {

  final case class ParsedResponse(
      isValid: Boolean,
      sql: Option[String],
      explanation: String,
      chartConfig: Option[ChartConfig],
      rawStages: Seq[RawStage])

  def parse(json: String): ParsedResponse = parseJValue(JsonMethods.parse(json))

  def parseJValue(jv: JValue): ParsedResponse = {
    def optStr(v: JValue): Option[String] = v match {
      case JString(s) if s.nonEmpty => Some(s)
      case _                        => None
    }
    val isValid = jv \ "isValid" match {
      case JBool(b) => b
      case _        => true // absent → valid (backward compatibility)
    }
    val chart = optStr(jv \ "chartType").filter(_ != "none").flatMap { ct =>
      for {
        x <- optStr(jv \ "xAxis")
        y <- optStr(jv \ "yAxis")
      } yield ChartConfig(ct, x, y, optStr(jv \ "zAxis"))
    }
    val stages = jv \ "transformationStages" match {
      case JArray(xs) => xs.zipWithIndex.map { case (s, i) =>
        RawStage(
          id = s"stage_${i + 1}", // client-synthesized ids (App.tsx:1040)
          tpe = optStr(s \ "type").getOrElse("CUSTOM"),
          description = optStr(s \ "description").getOrElse(""),
          data = s \ "data" match {
            case JObject(fields) => objectValue(fields)
            case _               => Map.empty[String, Any]
          })
      }
      case _ => Nil
    }
    val explanation = optStr(jv \ "explanation").getOrElse("")
    // invalid → stripped to {isValid, explanation}, as the voice endpoint
    // strips it (server/index.js:1092-1129)
    if (isValid) ParsedResponse(isValid, optStr(jv \ "sql"), explanation, chart, stages)
    else ParsedResponse(isValid, None, explanation, None, Nil)
  }

  /** [[ParsedResponse]] → the engine's [[Plan]]: stages go through
    * [[StageRepair]] (the reference repairs every LLM stage before
    * execution, ui/src/App.tsx:1007-1446), everything else carries over.
    * With this, `parse andThen toPlan` is a complete [[Planner]]
    * implementation over any transport that yields the response text. */
  def toPlan(r: ParsedResponse,
             schemaOf: graft.pipeline.StageRepair.SchemaLookup): Plan =
    Plan(
      sql = r.sql.getOrElse(""),
      stages = graft.pipeline.StageRepair.repairAll(r.rawStages, schemaOf),
      chartConfig = r.chartConfig,
      explanation = r.explanation,
      isValid = r.isValid)

  /** JValue → the plain-Scala values [[RawStage]]'s `data` map carries
    * (strings, numbers, booleans, Seq, nested Map). */
  private def anyValue(jv: JValue): Any = jv match {
    case JString(s)      => s
    case JInt(i)         => i.toString // stage data values are stringly typed
    case JLong(i)        => i.toString
    case JDouble(d)      => d.toString
    case JDecimal(d)     => d.toString
    case JBool(b)        => b
    case JArray(xs)      => xs.map(anyValue)
    case JObject(fields) => objectValue(fields)
    case _               => null
  }

  /** A JSON object's fields, at any depth; a `null` field counts as
    * absent, so repair's defaults apply to it. */
  private def objectValue(fields: List[JField]): Map[String, Any] =
    fields.map { case (k, v) => k -> anyValue(v) }.filterNot(_._2 == null).toMap
}
