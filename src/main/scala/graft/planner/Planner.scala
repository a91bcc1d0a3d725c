package graft.planner

import graft.model.Stage
import graft.sql.SqlStageParser
import graft.viz.ChartConfig
import org.json4s.JObject

/**
 * The LLM planning surface (SURVEY §2.8) as a pluggable trait: NL prompt +
 * table schemas → `{sql, stages, chartConfig, explanation}` — the shape of
 * the reference's `POST /api/transform` response
 * (reference: server/index.js:226-333, response schema 84-195).
 *
 * The engine consumes the plan deterministically; the model behind it is
 * pluggable (the reference calls Gemini; this environment is offline, so
 * the shipped implementation is a deterministic mock used by tests and as
 * a wiring example — an HTTP implementation drops in without engine
 * changes).
 */
final case class TableSchema(name: String, columns: Seq[(String, String)])

/** What every planner surface (transform, voice, chat-audio, image) sends
  * its model: the assembled prompt, the JSON schema the reply is forced
  * into and, on the two voice surfaces, the MIME type of the audio part
  * that follows the prompt. The model id and the JSON-forced
  * `responseMimeType` are the same for every surface; the transport
  * ([[HttpPlanner.generateContent]]) sets them. */
final case class PlannerRequest(
    prompt: String,
    responseSchema: JObject,
    audioMimeType: Option[String] = None)

final case class Plan(
    sql: String,
    stages: Seq[Stage],
    chartConfig: Option[ChartConfig],
    explanation: String,
    isValid: Boolean = true)

trait Planner {
  def plan(userPrompt: String, schemas: Seq[TableSchema]): Plan
}

/**
 * Deterministic rule-based planner covering the reference's demo phrases
 * (join/filter/group keywords). Useful for tests and offline operation;
 * NOT an attempt at general NL understanding.
 */
final class MockPlanner extends Planner {

  override def plan(userPrompt: String, schemas: Seq[TableSchema]): Plan = {
    val p = userPrompt.toLowerCase
    val tables = schemas.map(_.name)

    val sql: Option[String] =
      if (p.contains("join") && tables.size >= 2) {
        // aliased join shape, like the reference prompt's worked example
        // (server/index.js:303: `SELECT o.*, c.name FROM orders o JOIN ...`)
        val (l, r) = (tables(0), tables(1))
        sharedKey(schemas(0), schemas(1)).map(k =>
          s"SELECT * FROM $l l JOIN $r r ON l.$k = r.$k")
      } else if (p.contains("count") && p.contains("by")) {
        for {
          t <- tables.headOption
          g <- groupColumn(p, schemas.head)
        } yield s"SELECT $g, COUNT(*) AS count FROM $t GROUP BY $g"
      } else if (p.contains("filter") || p.contains("where")) {
        for {
          t <- tables.headOption
          c <- numericColumn(schemas.head)
        } yield s"SELECT * FROM $t WHERE $c > 0"
      } else None

    sql match {
      case Some(q) =>
        val stages = SqlStageParser.parse(q, userPrompt)
        Plan(q, stages, Some(ChartConfig("bar",
          schemas.headOption.flatMap(_.columns.headOption).map(_._1).getOrElse("x"),
          "count")), s"Planned from: $userPrompt")
      case None =>
        Plan("", Nil, None, s"Could not plan: $userPrompt", isValid = false)
    }
  }

  private def sharedKey(a: TableSchema, b: TableSchema): Option[String] = {
    val bc = b.columns.map(_._1).toSet
    a.columns.map(_._1).find(bc.contains)
  }

  private def numericColumn(t: TableSchema): Option[String] =
    t.columns.collectFirst {
      case (n, tpe) if Set("INTEGER", "BIGINT", "DOUBLE", "FLOAT", "DECIMAL")
        .exists(tpe.toUpperCase.startsWith) => n
    }

  private def groupColumn(prompt: String, t: TableSchema): Option[String] =
    t.columns.map(_._1).find(c => prompt.contains(c.toLowerCase))
      .orElse(t.columns.collectFirst {
        case (n, tpe) if tpe.toUpperCase.startsWith("VARCHAR") => n
      })
}
