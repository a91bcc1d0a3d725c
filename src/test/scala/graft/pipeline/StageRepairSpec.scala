package graft.pipeline

import graft.model._
import graft.pipeline.StageRepair.RawStage
import graft.planner.TransformResponse
import org.scalatest.funsuite.AnyFunSuite

class StageRepairSpec extends AnyFunSuite {

  private val noSchema: StageRepair.SchemaLookup = _ => None
  private def fix(r: RawStage, schema: StageRepair.SchemaLookup = noSchema,
                  input: Option[String] = None) =
    StageRepair.repair(r, schema, input)

  test("JOIN reuses data.value for missing keys, rejecting the invalid set") {
    val good = fix(RawStage("s", "JOIN", "join them", Map(
      "leftTable" -> "a", "rightTable" -> "b", "value" -> "customer_id")))
    assert(good.contains(JoinStage("s", "join them", "INNER", "a", "b",
      "customer_id", "customer_id")))
    val bad = fix(RawStage("s", "JOIN", "join a and b", Map(
      "leftTable" -> "a", "rightTable" -> "b", "value" -> "none")))
    // "none" rejected → description has no *_id → fallback "id"
    assert(bad.get.asInstanceOf[JoinStage].leftKey == "id")
  }

  test("JOIN infers key from description keywords") {
    val s = fix(RawStage("s", "JOIN", "Join customers and orders tables on customer_id",
      Map("leftTable" -> "orders", "rightTable" -> "customers")))
    assert(s.get.asInstanceOf[JoinStage].leftKey == "customer_id")
  }

  test("FILTER with value but no column infers from description + numericness") {
    val num = fix(RawStage("s", "FILTER", "filter high price items",
      Map("table" -> "t", "value" -> "100")))
    assert(num.get.asInstanceOf[FilterStage].conditions ==
      Seq(FilterCondition("amount", ">", "100")))
    val str = fix(RawStage("s", "FILTER", "only active customers",
      Map("table" -> "t", "value" -> "Active")))
    assert(str.get.asInstanceOf[FilterStage].conditions ==
      Seq(FilterCondition("status", "=", "Active")))
  }

  test("FILTER with nothing at all gets description-driven defaults") {
    val s = fix(RawStage("s", "FILTER", "keep high value orders", Map("table" -> "t")))
    assert(s.get.asInstanceOf[FilterStage].conditions ==
      Seq(FilterCondition("amount", ">", "100")))
    val generic = fix(RawStage("s", "FILTER", "some filter", Map("table" -> "t")))
    assert(generic.get.asInstanceOf[FilterStage].conditions ==
      Seq(FilterCondition("amount", ">", "0")))
  }

  test("FILTER column validated against schema with alternative substitution") {
    val schema: StageRepair.SchemaLookup =
      { case "t" => Some(Seq("id", "total_cost", "status")); case _ => None }
    val numeric = fix(RawStage("s", "FILTER", "",
      Map("table" -> "t", "column" -> "amount", "operator" -> ">", "value" -> "50")),
      schema, Some("t"))
    assert(numeric.get.asInstanceOf[FilterStage].conditions ==
      Seq(FilterCondition("total_cost", ">", "50")))
    val stringy = fix(RawStage("s", "FILTER", "",
      Map("table" -> "t", "column" -> "state", "operator" -> "=", "value" -> "open")),
      schema, Some("t"))
    assert(stringy.get.asInstanceOf[FilterStage].conditions ==
      Seq(FilterCondition("status", "LIKE", "%open%")))
  }

  test("GROUP infers groupBy from description; unrepairable stages are dropped") {
    val byCustomer = fix(RawStage("s", "GROUP", "count orders by customer", Map.empty))
    val g = byCustomer.get.asInstanceOf[GroupStage]
    assert(g.groupBy == Seq("customer_id"))
    assert(g.aggregations == Seq(Aggregation("COUNT", "*", Some("count"))))
    assert(fix(RawStage("s", "GROUP", "mystery aggregation", Map.empty)).isEmpty)
  }

  test("GROUP columns fuzzy-match the schema, fallback to first column") {
    val schema: StageRepair.SchemaLookup =
      { case "t" => Some(Seq("cust_region", "amount")); case _ => None }
    val fuzzy = fix(RawStage("s", "GROUP", "by region",
      Map("groupBy" -> Seq("region"))), schema, Some("t"))
    assert(fuzzy.get.asInstanceOf[GroupStage].groupBy == Seq("cust_region"))
    val fallback = fix(RawStage("s", "GROUP", "",
      Map("groupBy" -> Seq("zzz"))), schema, Some("t"))
    assert(fallback.get.asInstanceOf[GroupStage].groupBy == Seq("cust_region"))
  }

  test("missing joinType defaults to INNER; UNION under 2 tables dropped") {
    val j = fix(RawStage("s", "JOIN", "", Map(
      "leftTable" -> "a", "rightTable" -> "b", "leftKey" -> "k", "rightKey" -> "k")))
    assert(j.get.asInstanceOf[JoinStage].joinType == "INNER")
    assert(fix(RawStage("s", "UNION", "", Map("tables" -> Seq("only")))).isEmpty)
  }

  test("a repaired stage the ADT rejects is dropped, not thrown") {
    // each reply parses; its stage survives repair but fails the ADT's
    // own require (joinType, CUSTOM sql, FILTER conditions)
    val rejected = Seq(
      """{"type": "JOIN", "description": "j", "data": {"joinType": "CROSS",
         "leftTable": "a", "rightTable": "b", "leftKey": "k", "rightKey": "k"}}""",
      """{"type": "CUSTOM", "description": "c", "data": {"sql": "   "}}""",
      """{"type": "FILTER", "description": "f", "data": {"conditions": [1, "x", []]}}""")
    val kept = """{"type": "SELECT", "description": "s", "data": {"columns": ["a"]}}"""
    rejected.foreach { stage =>
      val r = TransformResponse.parse(
        s"""{"explanation": "e", "transformationStages": [$stage, $kept]}""")
      assert(fix(r.rawStages.head).isEmpty, stage)
      val plan = TransformResponse.toPlan(r, noSchema)
      assert(plan.stages == Seq(SelectStage("stage_2", "s", None, Seq("a"))), stage)
    }
  }
}
