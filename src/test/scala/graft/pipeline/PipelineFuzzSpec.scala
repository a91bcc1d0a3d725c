package graft.pipeline

import graft.SparkTestBase
import graft.model._
import graft.planner.TransformResponse
import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Random multi-STAGE pipeline differential (round-9 verdict directive
 * #5): the 384+ oracle gates are fixed queries and the StageCompiler
 * property specs cover single stages — this spec closes the gap by
 * generating random join→filter→group→sort CHAINS over the Stage ADT,
 * rendering the SAME chain to SQL with exactly the reference's
 * stage→SQL rules (ui/src/sqlGenerator.ts:6-124; each stage reads the
 * previous stage's materialized table, modeled as a CTE chain), and
 * comparing the [[PipelineExecutor]] result row-for-row against
 * `spark.sql` on the render.
 *
 * 200 seeded pipelines (Seed(i) → reproducible case i, the
 * StageCompilerPropertySpec pattern). A divergence found here should
 * graduate to a named oracle gate — the three `q_pipeline_fuzz*` gates
 * in SparkEntry are representative chains promoted from this space to
 * get the true-DuckDB differential from the driver.
 *
 * Two reference render rules are deliberately narrowed, both already
 * pinned by dedicated gates/tests: same-name join keys (the DuckDB
 * `USING + EXCLUDE` form — q_join_samekey_full) and string-typed
 * numeric literals (DuckDB's round-half-away coercion vs BIGINT,
 * which a Spark-SQL render cannot express — pinned in
 * StageCompilerPropertySpec's directed coercion test).
 *
 * The second half feeds seeded MALFORMED planner replies (untrusted model
 * output) through parse → repair → execute: nothing may escape, and every
 * stage is dropped by repair, executed, or ends as a [[StageResult]]
 * error.
 */
class PipelineFuzzSpec extends SparkTestBase {

  private def cases[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  // --- base tables: distinct column names so join output is unambiguous
  private lazy val tables: Map[String, DataFrame] = {
    val rng = new scala.util.Random(7)
    val statuses = Seq("open", "paid", "void", null)
    val regions = Seq("EU", "US", "APAC")
    val ord = df("oid BIGINT, cust_id BIGINT, amount DOUBLE, status STRING",
      (0 until 90).map { i =>
        Row(i.toLong, (rng.nextInt(40) + 1).toLong,
          if (i % 11 == 0) null else java.lang.Double.valueOf(rng.nextInt(2000) / 16.0),
          statuses(rng.nextInt(statuses.size)))
      })
    def custRows(offset: Int) = (1 to 30).map { i =>
      Row((i + offset).toLong, regions(rng.nextInt(3)),
        if (i % 7 == 0) null else java.lang.Double.valueOf(rng.nextInt(100) / 4.0))
    }
    val cust = df("id BIGINT, region STRING, score DOUBLE", custRows(0))
    val cust2 = df("id BIGINT, region STRING, score DOUBLE", custRows(15))
    Map("ord_t" -> ord, "cust_t" -> cust, "cust2_t" -> cust2)
  }

  private lazy val registered: Unit =
    tables.foreach { case (n, t) => t.createOrReplaceTempView(n) }

  // --- symbolic schemas so generated stages reference live columns
  // Int vs Dbl matters: fractional STRING/IN-list literals against an
  // integral column follow DuckDB's round-half-away rule in the
  // compiler (deliberately NOT Spark-SQL semantics — pinned in
  // StageCompilerPropertySpec), so the generator only aims fractional
  // list literals at DOUBLE columns.
  private sealed trait Kind
  private case object Int extends Kind
  private case object Dbl extends Kind
  private case object Str extends Kind
  private type Schema = Seq[(String, Kind)]
  private val ordSchema: Schema =
    Seq("oid" -> Int, "cust_id" -> Int, "amount" -> Dbl, "status" -> Str)
  private val custSchema: Schema =
    Seq("id" -> Int, "region" -> Str, "score" -> Dbl)

  // --- stage generators -------------------------------------------------
  private val genJoinStart: Gen[(Stage, Schema)] =
    Gen.oneOf(JoinType.Inner, JoinType.Left, JoinType.Right, JoinType.FullOuter)
      .map { jt =>
        (JoinStage("j", "", jt, "ord_t", "cust_t", "cust_id", "id"),
          ordSchema ++ custSchema)
      }

  private val genUnionStart: Gen[(Stage, Schema)] =
    Gen.oneOf("UNION", "UNION ALL").map { ut =>
      (UnionStage("u", "", ut, Seq("cust_t", "cust2_t")), custSchema)
    }

  private def genCondition(schema: Schema): Gen[FilterCondition] = {
    val nums = schema.collect { case (c, k) if k != Str => (c, k) }
    val strs = schema.collect { case (c, Str) => c }
    // defs, not vals: Gen.oneOf throws at CONSTRUCTION on an empty
    // pool, and one of the pools is legitimately empty after an
    // all-numeric or all-string SELECT
    def numCond = for {
      (c, k) <- Gen.oneOf(nums)
      op <- Gen.oneOf("=", "!=", ">", "<", ">=", "<=", "IN", "NOT IN")
      v <- op match {
        case "IN" | "NOT IN" =>
          if (k == Int) Gen.oneOf("(1, 5, 20)", "(2, 30)")
          else Gen.oneOf("(1, 5, 20)", "(10.5, 62.5)")
        case _ => Gen.oneOf(Gen.choose(0, 60).map(Integer.valueOf),
          Gen.choose(0, 500).map(i => java.lang.Double.valueOf(i / 8.0)))
      }
      l <- Gen.oneOf(Some("AND"), Some("OR"), None)
    } yield FilterCondition(c, op, v, l)
    def strCond = for {
      c <- Gen.oneOf(strs)
      op <- Gen.oneOf("=", "!=", "LIKE", "IN", "NOT IN")
      v <- op match {
        case "LIKE" => Gen.oneOf("%a%", "p%", "%d", "E_")
        case "IN" | "NOT IN" => Gen.oneOf("('EU', 'US')", "('open', 'void')")
        case _ => Gen.oneOf("EU", "open", "paid", "nope")
      }
      l <- Gen.oneOf(Some("AND"), Some("OR"), None)
    } yield FilterCondition(c, op, v, l)
    if (strs.isEmpty) numCond
    else if (nums.isEmpty) strCond
    else Gen.oneOf(numCond, strCond)
  }

  private def genFilter(schema: Schema): Gen[(Stage, Schema)] =
    Gen.chooseNum(1, 3)
      .flatMap(n => Gen.listOfN(n, genCondition(schema)))
      .map(cs => (FilterStage("f", "", None, cs), schema))

  /** Agg specs + result kinds over the numeric columns of `schema`
    * (COUNT(*) when there are none); AVG publishes Dbl, COUNT Int,
    * the rest keep their source column's kind. */
  // aliases carry the stage POSITION so a later GROUP keyed on an
  // earlier stage's alias can't collide with that stage's own aliases
  // (duplicate names are ambiguous in BOTH engines — not a semantics
  // difference worth fuzzing)
  private def genAggList(schema: Schema,
                         pos: Int): Gen[Seq[(Aggregation, Kind)]] = {
    val nums = schema.collect { case (c, k) if k != Str => (c, k) }
    for {
      n <- Gen.chooseNum(1, 3)
      fns <- Gen.listOfN(n, Gen.oneOf("SUM", "COUNT", "AVG", "MIN", "MAX"))
    } yield fns.zipWithIndex.map { case (f0, i) =>
      val (f, c, k) =
        if (f0 == "COUNT" || nums.isEmpty) ("COUNT", "*", Int: Kind)
        else {
          val (c0, k0) = nums(i % nums.size)
          (f0, c0, if (f0 == "AVG") Dbl: Kind else k0)
        }
      (Aggregation(f, c, Some(s"a${pos}_$i")), k)
    }
  }

  private def genGroup(schema: Schema, pos: Int): Gen[(Stage, Schema)] =
    for {
      nKeys <- Gen.chooseNum(1, math.min(2, schema.size))
      keys <- Gen.pick(nKeys, schema.map(_._1))
      aggs <- genAggList(schema, pos)
    } yield (GroupStage("g", "", None, keys.toSeq, aggs.map(_._1)),
      keys.map(k => k -> schema.toMap.apply(k)).toSeq ++
        aggs.map { case (a, k) => a.alias.get -> k })

  private def genAggregate(schema: Schema, pos: Int): Gen[(Stage, Schema)] =
    genAggList(schema, pos).map { aggs =>
      (AggregateStage("a", "", None, aggs.map(_._1)),
        aggs.map { case (a, k) => a.alias.get -> k })
    }

  private def genSelect(schema: Schema): Gen[(Stage, Schema)] =
    Gen.chooseNum(1, schema.size)
      .flatMap(n => Gen.pick(n, schema))
      .map { cols =>
        (SelectStage("s", "", None, cols.map(_._1).toSeq), cols.toSeq)
      }

  private def genSort(schema: Schema): Gen[(Stage, Schema)] =
    for {
      n <- Gen.chooseNum(1, math.min(2, schema.size))
      cols <- Gen.pick(n, schema.map(_._1))
      dirs <- Gen.listOfN(n, Gen.oneOf("ASC", "DESC"))
    } yield (SortStage("o", "", None,
      cols.zip(dirs).map { case (c, dd) => SortKey(c, dd) }.toSeq), schema)

  /** A chain: JOIN or UNION start, then 1–3 unary stages (implicit
    * chaining, table = None — the reference's previous-result rule). */
  private val genPipeline: Gen[List[Stage]] = for {
    (start, s0) <- Gen.oneOf(genJoinStart, genUnionStart)
    n <- Gen.chooseNum(1, 3)
    stages <- {
      def step(schema: Schema, pos: Int): Gen[(Stage, Schema)] =
        Gen.oneOf(1, 2, 3, 4, 5).flatMap {
          case 1 => genFilter(schema)
          case 2 => genGroup(schema, pos)
          case 3 => genAggregate(schema, pos)
          case 4 => genSelect(schema)
          case 5 => genSort(schema)
        }
      def loop(k: Int, schema: Schema, acc: List[Stage]): Gen[List[Stage]] =
        if (k == 0) Gen.const(acc.reverse)
        else step(schema, acc.size + 1).flatMap {
          case (st, s2) => loop(k - 1, s2, st :: acc)
        }
      loop(n, s0, Nil)
    }
  } yield (start :: stages).zipWithIndex.map { case (st, i) =>
    // unique ids per position (executor maps stage id -> result table)
    st match {
      case s: JoinStage      => s.copy(id = s"st$i")
      case s: UnionStage     => s.copy(id = s"st$i")
      case s: FilterStage    => s.copy(id = s"st$i")
      case s: GroupStage     => s.copy(id = s"st$i")
      case s: SelectStage    => s.copy(id = s"st$i")
      case s: SortStage      => s.copy(id = s"st$i")
      case s: AggregateStage => s.copy(id = s"st$i")
      case s                 => s
    }
  }

  // --- the reference's stage→SQL render (ui/src/sqlGenerator.ts:6-124),
  // with the two DuckDB-only spellings Spark can't parse replaced by
  // their documented Spark equivalents (NULLS LAST made explicit — the
  // DuckDB default the compiler reproduces)
  private def renderValue(v: Any, op: String): String = v match {
    case s: String if op == "IN" || op == "NOT IN" => s // "(1, 2)" lists
    case s: String => s"'${s.replace("'", "''")}'"
    case other => String.valueOf(other)
  }

  private def renderStage(stage: Stage, source: String): String = stage match {
    case j: JoinStage =>
      val kw = if (j.joinType == JoinType.FullOuter) "FULL OUTER JOIN"
               else s"${j.joinType} JOIN"
      s"SELECT l.*, r.* FROM ${j.leftTable} l $kw ${j.rightTable} r " +
        s"ON l.${j.leftKey} = r.${j.rightKey}"
    case u: UnionStage =>
      val kw = if (u.unionType == "UNION ALL") "UNION ALL" else "UNION"
      u.tables.map(t => s"SELECT * FROM $t").mkString(s" $kw ")
    case f: FilterStage =>
      val conds = f.conditions.zipWithIndex.map { case (c, i) =>
        val logic = if (i > 0) s" ${c.logic.getOrElse("AND")} " else ""
        s"$logic${c.column} ${c.operator} ${renderValue(c.value, c.operator)}"
      }.mkString("")
      s"SELECT * FROM ${f.table.getOrElse(source)} WHERE $conds"
    case g: GroupStage =>
      val aggs = g.aggregations.map(a =>
        s"${a.function}(${a.column})${a.alias.fold("")(" AS " + _)}")
      s"SELECT ${(g.groupBy ++ aggs).mkString(", ")} FROM " +
        s"${g.table.getOrElse(source)} GROUP BY ${g.groupBy.mkString(", ")}"
    case a: AggregateStage =>
      val aggs = a.aggregations.map(x =>
        s"${x.function}(${x.column})${x.alias.fold("")(" AS " + _)}")
      s"SELECT ${aggs.mkString(", ")} FROM ${a.table.getOrElse(source)}"
    case s: SelectStage =>
      s"SELECT ${s.columns.mkString(", ")} FROM ${s.table.getOrElse(source)}"
    case o: SortStage =>
      val keys = o.orderBy
        .map(k => s"${k.column} ${k.direction} NULLS LAST").mkString(", ")
      s"SELECT * FROM ${o.table.getOrElse(source)} ORDER BY $keys"
    case c: CustomStage => c.sql
    case l: LoadStage =>
      throw new IllegalArgumentException(s"LOAD not renderable: $l")
  }

  /** Chain render: stage i reads CTE s(i-1) — the materialized
    * previous-result-table semantics as one SQL statement. */
  private def renderPipeline(stages: Seq[Stage]): String = {
    val ctes = stages.zipWithIndex.map { case (st, i) =>
      s"s$i AS (${renderStage(st, if (i == 0) "" else s"s${i - 1}")})"
    }
    s"WITH ${ctes.mkString(", ")} SELECT * FROM s${stages.size - 1}"
  }

  private def rows(d: DataFrame): Seq[String] =
    d.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  // --- malformed planner replies: parseable JSON with wrong field types,
  // unknown stage types, non-object `data`, arrays where strings belong,
  // and `data.table` naming the stage's own result or a later one
  private val genJunk: Gen[String] =
    Gen.oneOf("null", "7", "true", "\"\"", "\"x\"", "[]", "[1, \"a\", null]", "{}")

  private val genColumn: Gen[String] = Gen.oneOf(
    "\"oid\"", "\"amount\"", "\"status\"", "\"id\"", "\"nope\"",
    "[\"oid\"]", "5", "null", "{\"c\": \"oid\"}")

  /** `pos` is the stage's 1-based position: result tables are named
    * `result_stage_<pos>_<type>`, so these name its own or a later one. */
  private def genTableRef(pos: Int): Gen[String] = Gen.oneOf(
    "\"ord_t\"", "\"cust_t\"", "\"missing_t\"", "[\"ord_t\"]", "3",
    s"\"result_stage_${pos}_filter\"", s"\"result_stage_${pos}_custom\"",
    s"\"result_stage_${pos + 1}_select\"")

  private def genData(pos: Int): Gen[String] = {
    val fields: Seq[(String, Gen[String])] = Seq(
      "table" -> genTableRef(pos),
      "leftTable" -> genTableRef(pos),
      "rightTable" -> genTableRef(pos),
      "leftKey" -> genColumn,
      "rightKey" -> genColumn,
      "joinType" -> Gen.oneOf("\"INNER\"", "\"CROSS\"", "\"left\"", "1", "[]"),
      "column" -> genColumn,
      "operator" -> Gen.oneOf("\">\"", "\"=\"", "\"LIKE\"", "\"IN\"", "\"~\"", "5",
        "[\">\"]"),
      "value" -> Gen.oneOf("\"100\"", "100", "1.5", "true", "null", "[1, 2]",
        "{\"a\": 1}", "\"(1, 2\"", "\"'; DROP\""),
      "conditions" -> Gen.oneOf("[]", "[1, 2]", "\"x\"",
        "[{\"column\": \"amount\", \"operator\": \">\", \"value\": 3}]",
        "[{\"column\": [\"oid\"], \"operator\": null, \"value\": {}}]",
        "[{\"column\": null, \"logic\": 5}]"),
      "groupBy" -> Gen.oneOf("[\"status\"]", "\"status\"", "[1, null]",
        "[[\"status\"]]", "{}", "[\"nope\"]"),
      "aggregations" -> Gen.oneOf(
        "[{\"function\": \"SUM\", \"column\": \"amount\"}]",
        "[{\"function\": \"EXPLODE\", \"column\": \"amount\"}]",
        "[{\"function\": null, \"column\": [\"amount\"], \"alias\": 3}]",
        "\"SUM(amount)\"", "[\"SUM\"]"),
      "columns" -> Gen.oneOf("[\"oid\", \"amount\"]", "\"oid\"", "[1, [\"x\"]]",
        "[\"nope\"]"),
      "orderBy" -> Gen.oneOf(
        "[{\"column\": \"amount\", \"direction\": \"DESC\"}]",
        "[{\"column\": \"amount\", \"direction\": \"SIDEWAYS\"}]",
        "[{\"column\": null, \"direction\": null}]",
        "[\"amount\"]", "\"amount\"", "[{\"column\": {\"x\": 1}}]"),
      "tables" -> Gen.oneOf("[\"cust_t\", \"cust2_t\"]", "\"cust_t\"",
        "[\"cust_t\", 5]", s"[\"cust_t\", \"result_stage_${pos}_union\"]"),
      "unionType" -> Gen.oneOf("\"UNION ALL\"", "\"INTERSECT\"", "0"),
      "sql" -> Gen.oneOf("\"SELECT * FROM ord_t\"", "\"   \"", "5",
        s"\"SELECT * FROM result_stage_${pos}_custom\"",
        s"\"SELECT * FROM result_stage_${pos + 1}_custom\"",
        "\"SELEKT nonsense\"", "[\"SELECT 1\"]"),
      "tableName" -> Gen.oneOf("\"ord_t\"", "\"ghost\"", "[]"))
    Gen.someOf(fields).flatMap(_.foldLeft(Gen.const(List.empty[String])) {
      case (acc, (k, g)) => for (xs <- acc; v <- g) yield s"\"$k\": $v" :: xs
    }).map(_.mkString("{", ", ", "}"))
  }

  private def genRawStage(pos: Int): Gen[String] = Gen.frequency(
    1 -> genJunk, // a stage that is not an object
    6 -> (for {
      tpe <- Gen.oneOf("\"JOIN\"", "\"FILTER\"", "\"GROUP\"", "\"SELECT\"",
        "\"SORT\"", "\"AGGREGATE\"", "\"UNION\"", "\"CUSTOM\"", "\"LOAD\"",
        "\"filter\"", "\"PIVOT\"", "\"\"", "42", "[\"FILTER\"]", "null")
      desc <- Gen.oneOf("\"high amount orders by customer\"", "\"d\"", "7",
        "[\"d\"]", "null")
      data <- Gen.frequency(4 -> genData(pos), 1 -> genJunk)
    } yield s"""{"type": $tpe, "description": $desc, "data": $data}"""))

  private val genReply: Gen[String] = for {
    n <- Gen.chooseNum(1, 4)
    stages <- (1 to n).foldLeft(Gen.const(Vector.empty[String])) {
      (acc, pos) => for (xs <- acc; st <- genRawStage(pos)) yield xs :+ st
    }
    stagesJson <- Gen.frequency(
      6 -> Gen.const(stages.mkString("[", ", ", "]")),
      1 -> genJunk) // transformationStages that is not an array
    isValid <- Gen.oneOf("true", "true", "\"yes\"", "1", "null")
    sql <- Gen.oneOf("\"SELECT 1\"", "5", "[\"SELECT 1\"]", "{}")
    chart <- Gen.oneOf("\"bar\"", "[\"bar\"]", "0")
    explanation <- Gen.oneOf("\"e\"", "[]", "null")
  } yield s"""{"isValid": $isValid, "sql": $sql, "chartType": $chart, """ +
    s""""xAxis": 1, "yAxis": ["a"], "explanation": $explanation, """ +
    s""""transformationStages": $stagesJson}"""

  test("seeded malformed planner replies: every stage is dropped by repair, " +
      "executed, or a StageResult error") {
    registered
    val schemaOf: StageRepair.SchemaLookup =
      name => tables.get(name).map(_.columns.toSeq)
    val topLevel = Seq("[]", "\"just text\"", "42", "null", "{}",
      """{"transformationStages": "FILTER"}""",
      """{"transformationStages": [[], null, 3, {"type": {}}]}""")
    var (dropped, executed, failed) = (0, 0, 0)
    (topLevel ++ cases(genReply, 150)).zipWithIndex.foreach { case (reply, i) =>
      val parsed = TransformResponse.parse(reply)
      val plan = TransformResponse.toPlan(parsed, schemaOf)
      assert(plan.stages.size <= parsed.rawStages.size, s"reply $i: $reply")
      val ex = new PipelineExecutor(spark)
      tables.foreach { case (n, t) => ex.register(n, t) }
      val results = ex.execute(plan.stages, ErrorPolicy.Continue)
      assert(results.map(_.stage) == plan.stages, s"reply $i: $reply")
      results.foreach { r =>
        assert(r.df.isDefined != r.error.isDefined, s"reply $i: $reply")
        r.df.foreach(_.limit(5).collect())
      }
      dropped += parsed.rawStages.size - plan.stages.size
      executed += results.count(_.succeeded)
      failed += results.count(!_.succeeded)
    }
    // the corpus reaches all three outcomes
    assert(dropped > 0 && executed > 0 && failed > 0, (dropped, executed, failed))
    info(s"stages dropped $dropped, executed $executed, StageResult errors $failed")
  }

  test("200 random stage pipelines: executor equals the reference-render " +
      "SQL row-for-row") {
    registered
    cases(genPipeline, 200).zipWithIndex.foreach { case (stages, i) =>
      val ex = new PipelineExecutor(spark)
      tables.foreach { case (n, t) => ex.register(n, t) }
      val viaExecutor = rows(ex.run(stages))
      val sql = renderPipeline(stages)
      val viaSql = rows(spark.sql(sql))
      assert(viaExecutor == viaSql,
        s"pipeline $i diverged (${stages.map(_.stageType).mkString("->")})\n" +
          s"SQL: $sql\n" +
          s"executor: ${viaExecutor.take(5)}...\nsql:      ${viaSql.take(5)}...")
    }
  }
}
