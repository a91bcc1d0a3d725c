package graft.pipeline

import graft.model._

/**
 * Deterministic repair pass for planner-produced (possibly malformed)
 * stages, reproducing the reference's client-side hardening heuristics
 * (reference: ui/src/App.tsx:1007-1446). Operates on a lenient
 * [[RawStage]] representation and emits validated ADT stages; a stage
 * that cannot be repaired is dropped (the reference `continue`s).
 *
 * Heuristics, in reference order:
 *  - JOIN: reuse `data.value` as both keys unless in the invalid set;
 *    else infer `*_id` from the description; else fall back to `id`;
 *    missing joinType → INNER (App.tsx:1008-1061).
 *  - FILTER: value-without-column → infer column+operator from description
 *    and value numericness; nothing at all → description-driven defaults,
 *    generic fallback `amount > 0` (App.tsx:1064-1153). Column-existence
 *    validation against the input schema with alternative-column
 *    substitution and LIKE-wildcarding (App.tsx:1329-1391).
 *  - GROUP: missing groupBy → infer from description keywords, else drop
 *    the stage; missing aggregations → `COUNT(*) AS count`
 *    (App.tsx:1157-1216); groupBy column validation with fuzzy matching,
 *    fallback to the first schema column (App.tsx:1394-1446).
 */
object StageRepair {

  /** Loosely-typed stage as a planner returns it (pre-validation). */
  final case class RawStage(
      id: String,
      tpe: String,
      description: String,
      data: Map[String, Any])

  private val invalidJoinValues = Set("none", "null", "", "undefined", "n/a")

  /** Schema access for column validation: table name → columns (in order),
    * or None when the table is unknown. */
  type SchemaLookup = String => Option[Seq[String]]

  /** Repair a planner's stages; each stage validates its columns against
    * its own `data.table`. */
  def repairAll(raw: Seq[RawStage], schemaOf: SchemaLookup): Seq[Stage] =
    raw.flatMap(r => repair(r, schemaOf, None))

  def repair(raw: RawStage, schemaOf: SchemaLookup,
             inputTable: Option[String]): Option[Stage] = {
    val desc = raw.description.toLowerCase
    def str(k: String): Option[String] =
      raw.data.get(k).collect { case s: String if s.nonEmpty => s }
    def strSeq(k: String): Seq[String] = raw.data.get(k) match {
      case Some(xs: Seq[_]) => xs.collect { case s: String => s }
      case _                => Nil
    }

    // A repaired stage that the ADT's own `require` still rejects (joinType
    // CROSS, blank CUSTOM sql, a conditions array with no objects) is
    // unrepairable, and an unrepairable stage is dropped.
    try raw.tpe.toUpperCase match {
      case "JOIN" =>
        val fromValue = str("value").filterNot(v => invalidJoinValues(v.toLowerCase))
        val inferred = inferJoinKey(desc)
        def key(k: String): String =
          str(k).orElse(fromValue).orElse(inferred).getOrElse("id")
        for {
          lt <- str("leftTable")
          rt <- str("rightTable")
        } yield JoinStage(raw.id, raw.description,
          str("joinType").getOrElse("INNER"), lt, rt, key("leftKey"), key("rightKey"))

      case "FILTER" =>
        val repaired = repairFilter(raw, desc)
        Some(validateFilterColumns(repaired, schemaOf, inputTable))

      case "GROUP" =>
        val groupBy0 = strSeq("groupBy")
        val groupBy = if (groupBy0.nonEmpty) groupBy0 else inferGroupBy(desc)
        if (groupBy.isEmpty) None // unrepairable → skip (App.tsx:1206-1209)
        else {
          val aggs0 = rawAggregations(raw)
          val aggs = if (aggs0.nonEmpty) aggs0
                     else Seq(Aggregation("COUNT", "*", Some("count")))
          val table = str("table")
          val validated =
            validateGroupColumns(groupBy, schemaOf, inputTable.orElse(table))
          Some(GroupStage(raw.id, raw.description, table, validated, aggs))
        }

      case "UNION" =>
        val tables = strSeq("tables")
        if (tables.size < 2) None
        else Some(UnionStage(raw.id, raw.description,
          str("unionType").getOrElse("UNION"), tables))

      case "SELECT" =>
        val cols = strSeq("columns")
        if (cols.isEmpty) None
        else Some(SelectStage(raw.id, raw.description, str("table"), cols))

      case "SORT" =>
        val keys = raw.data.get("orderBy") match {
          case Some(xs: Seq[_]) => xs.collect {
            case m: Map[_, _] =>
              val mm = m.asInstanceOf[Map[String, Any]]
              SortKey(mm.getOrElse("column", "").toString,
                mm.getOrElse("direction", "ASC").toString)
          }.filter(_.column.nonEmpty)
          case _ => Nil
        }
        if (keys.isEmpty) None
        else Some(SortStage(raw.id, raw.description, str("table"), keys))

      case "AGGREGATE" =>
        val aggs = rawAggregations(raw)
        if (aggs.isEmpty) None
        else Some(AggregateStage(raw.id, raw.description, str("table"), aggs))

      case "CUSTOM" => str("sql").map(CustomStage(raw.id, raw.description, _))
      case "LOAD" =>
        Some(LoadStage(raw.id, raw.description,
          str("tableName").getOrElse(""), str("fileName").getOrElse("")))
      case _ => None
    } catch { case _: IllegalArgumentException => None }
  }

  // ----------------------------------------------------------- JOIN repair

  /** `*_id` inference from the stage description (App.tsx:1022-1055). */
  private[pipeline] def inferJoinKey(desc: String): Option[String] = {
    val named = Seq("customer_id", "order_id", "product_id", "user_id")
      .find(k => desc.contains(k) || desc.contains(k.replace('_', ' ')))
    named.orElse {
      if (desc.contains("id")) """(\w+)_?id""".r.findFirstIn(desc)
        .map(_.replaceAll("\\s", "_")).orElse(Some("id"))
      else None
    }
  }

  // --------------------------------------------------------- FILTER repair

  private def repairFilter(raw: RawStage, desc: String): FilterStage = {
    def str(k: String): Option[String] =
      raw.data.get(k).collect { case s: String if s.nonEmpty => s }
    val value = raw.data.get("value").map(String.valueOf).filter(_.nonEmpty)
    val column = str("column")
    val operator = str("operator")

    // conditions array present → pass through unrepaired (already rich)
    raw.data.get("conditions") match {
      case Some(cs: Seq[_]) if cs.nonEmpty =>
        val conds = cs.collect { case m: Map[_, _] =>
          val mm = m.asInstanceOf[Map[String, Any]]
          FilterCondition(
            mm.getOrElse("column", "").toString,
            mm.getOrElse("operator", "=").toString,
            mm.getOrElse("value", ""),
            mm.get("logic").map(_.toString))
        }
        return FilterStage(raw.id, raw.description, str("table"), conds)
      case _ =>
    }

    val (c, o, v): (String, String, String) = (column, operator, value) match {
      case (Some(cc), oo, Some(vv)) => (cc, oo.getOrElse("="), vv)
      case (None, _, Some(vv)) =>
        // value without column: infer from description (App.tsx:1066-1110)
        if (isNumeric(vv)) {
          if (desc.contains("amount") || desc.contains("value") || desc.contains("price"))
            ("amount", ">", vv)
          else if (desc.contains("date")) ("date", ">", vv)
          else ("amount", ">", vv)
        } else {
          if (desc.contains("status") || desc.contains("active") || desc.contains("inactive"))
            ("status", "=", vv)
          else if (desc.contains("category") || desc.contains("type")) ("category", "=", vv)
          else if (desc.contains("name")) ("name", "LIKE", vv)
          else ("status", "=", vv)
        }
      case _ =>
        // no criteria at all: description-driven defaults (App.tsx:1112-1152)
        if (desc.contains("high") &&
          (desc.contains("amount") || desc.contains("value") || desc.contains("order")))
          ("amount", ">", "100")
        else if (desc.contains("low") &&
          (desc.contains("amount") || desc.contains("value") || desc.contains("order")))
          ("amount", "<", "100")
        else if (desc.contains("active") || desc.contains("status"))
          ("status", "=", "active")
        else if (desc.contains("recent") && desc.contains("date"))
          ("order_date", ">", "2023-01-01")
        else if (desc.contains("large") || desc.contains("big")) ("amount", ">", "500")
        else ("amount", ">", "0")
    }
    FilterStage(raw.id, raw.description, str("table"), Seq(FilterCondition(c, o, v)))
  }

  /** Column-existence validation with alternative substitution
    * (App.tsx:1329-1391). Only single-condition filters are validated,
    * matching the reference. */
  private def validateFilterColumns(stage: FilterStage, schemaOf: SchemaLookup,
                                    inputTable: Option[String]): FilterStage = {
    val cols = inputTable.orElse(stage.table).flatMap(schemaOf).getOrElse(return stage)
    if (stage.conditions.size != 1) return stage
    val cond = stage.conditions.head
    val lower = cols.map(_.toLowerCase)
    if (lower.contains(cond.column.toLowerCase)) return stage
    val value = String.valueOf(cond.value)
    val numeric = isNumeric(value)
    val alt =
      if (numeric) lower.find(c => Seq("amount", "price", "quantity", "total", "cost")
        .exists(c.contains))
      else lower.find(c => Seq("status", "name", "category", "type", "description")
        .exists(c.contains))
    val repaired = alt match {
      case Some(a) if numeric => FilterCondition(a, ">", cond.value)
      case Some(a) =>
        val v = if (value.contains("%")) value else s"%$value%"
        FilterCondition(a, "LIKE", v)
      case None => FilterCondition(lower.headOption.getOrElse(cond.column), ">", "0")
    }
    stage.copy(conditions = Seq(repaired))
  }

  // ---------------------------------------------------------- GROUP repair

  /** groupBy inference from description keywords (App.tsx:1163-1189). */
  private[pipeline] def inferGroupBy(desc: String): Seq[String] = {
    if (desc.contains("customer")) {
      if (desc.contains("customer_name") || desc.contains("customer name")) Seq("customer_name")
      else Seq("customer_id")
    }
    else if (desc.contains("category")) Seq("category")
    else if (desc.contains("status")) Seq("status")
    else if (desc.contains("date")) Seq("order_date")
    else if (desc.contains("product")) Seq("product_id")
    else if (desc.contains("region")) Seq("region")
    else Nil
  }

  /** Fuzzy-match groupBy columns against the schema (App.tsx:1394-1446). */
  private def validateGroupColumns(groupBy: Seq[String], schemaOf: SchemaLookup,
                                   inputTable: Option[String]): Seq[String] = {
    val cols = inputTable.flatMap(schemaOf).getOrElse(return groupBy)
    val valid = groupBy.flatMap { g =>
      val gl = g.toLowerCase
      cols.find(_.toLowerCase == gl).orElse(
        cols.find { c =>
          val cl = c.toLowerCase
          cl.contains(gl) || gl.contains(cl) ||
            cl.replace("_", "").contains(gl.replace("_", ""))
        })
    }.distinct
    if (valid.nonEmpty) valid else cols.take(1)
  }

  private def rawAggregations(raw: RawStage): Seq[Aggregation] =
    raw.data.get("aggregations") match {
      case Some(xs: Seq[_]) => xs.collect { case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        Aggregation(
          mm.getOrElse("function", "COUNT").toString,
          mm.getOrElse("column", "*").toString,
          mm.get("alias").map(_.toString))
      }
      case _ => Nil
    }

  private def isNumeric(s: String): Boolean =
    s.trim.nonEmpty && scala.util.Try(java.lang.Double.parseDouble(s.trim)).isSuccess
}
