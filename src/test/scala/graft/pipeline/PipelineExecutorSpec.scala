package graft.pipeline

import graft.SparkTestBase
import graft.model._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

class PipelineExecutorSpec extends SparkTestBase {

  private def freshExecutor() = {
    val ex = new PipelineExecutor(spark)
    ex.register("orders", df("order_id BIGINT, customer_id BIGINT, amount DOUBLE",
      Seq(Row(1L, 101L, 100.0), Row(2L, 101L, 300.0), Row(3L, 102L, 50.0))))
    ex.register("customers", df("customer_id BIGINT, name STRING",
      Seq(Row(101L, "Alice"), Row(102L, "Bob"))))
    ex
  }

  test("result tables are named result_stage_<n>_<type> with 1-based index") {
    val ex = freshExecutor()
    val rs = ex.execute(Seq(
      FilterStage("a", "", Some("orders"), Seq(FilterCondition("amount", ">", 60))),
      SortStage("b", "", None, Seq(SortKey("amount", "DESC")))))
    assert(rs.map(_.tableName) ==
      Seq("result_stage_1_filter", "result_stage_2_sort"))
    assert(ex.resultTableFor("a").contains("result_stage_1_filter"))
  }

  test("implicit chaining: unary stage with no table uses previous result") {
    val ex = freshExecutor()
    val out = ex.run(Seq(
      FilterStage("a", "", Some("orders"), Seq(FilterCondition("amount", ">", 60))),
      GroupStage("b", "", None, Seq("customer_id"),
        Seq(Aggregation("count", "*", Some("n"))))))
    assertSameRows(out, Seq(Seq(101L, 2L)))
  }

  test("explicit table reference beats chaining") {
    val ex = freshExecutor()
    val out = ex.run(Seq(
      FilterStage("a", "", Some("orders"), Seq(FilterCondition("amount", ">", 1000))),
      SelectStage("b", "", Some("customers"), Seq("name"))))
    assert(out.count() == 2) // reads customers, not the empty filter result
  }

  test("first loaded table is the default input when nothing chains") {
    val ex = freshExecutor()
    val out = ex.run(Seq(
      SelectStage("a", "", None, Seq("order_id"))))
    assert(out.count() == 3)
  }

  test("Abort policy stops at the first failing stage") {
    val ex = freshExecutor()
    val rs = ex.execute(Seq(
      FilterStage("a", "", Some("nope"), Seq(FilterCondition("x", "=", 1))),
      SelectStage("b", "", Some("orders"), Seq("order_id"))),
      ErrorPolicy.Abort)
    assert(rs.length == 1 && !rs.head.succeeded)
  }

  test("Continue policy logs and keeps going (image-import semantics)") {
    val ex = freshExecutor()
    val rs = ex.execute(Seq(
      FilterStage("a", "", Some("nope"), Seq(FilterCondition("x", "=", 1))),
      SelectStage("b", "", Some("orders"), Seq("order_id"))),
      ErrorPolicy.Continue)
    assert(rs.length == 2 && !rs(0).succeeded && rs(1).succeeded)
  }

  test("CUSTOM stages see prior results as temp views") {
    val ex = freshExecutor()
    val out = ex.run(Seq(
      FilterStage("a", "", Some("orders"), Seq(FilterCondition("amount", ">", 60))),
      CustomStage("b", "", "SELECT sum(amount) AS s FROM result_stage_1_filter")))
    assertSameRows(out, Seq(Seq(400.0)))
  }

  test("re-execution overwrites the result table in place") {
    val ex = freshExecutor()
    ex.run(Seq(FilterStage("a", "", Some("orders"),
      Seq(FilterCondition("amount", ">", 60)))))
    ex.run(Seq(FilterStage("a", "", Some("orders"),
      Seq(FilterCondition("amount", ">", 0)))))
    assert(ex.table("result_stage_1_filter").count() == 3)
  }

  test("describe renders DuckDB-style type names") {
    val ex = freshExecutor()
    assert(ex.describe("orders") == Seq(
      ("order_id", "BIGINT"), ("customer_id", "BIGINT"), ("amount", "DOUBLE")))
  }

  test("preview caps at 1000 rows") {
    val ex = new PipelineExecutor(spark)
    ex.register("big", spark.range(5000).toDF("id"))
    assert(ex.preview("big").length == 1000)
  }

  // ---- complete previews kept as local relations ----

  /** Two uploads that are not local relations themselves, so every preview
    * over them runs Spark jobs. */
  private def uploads(s: SparkSession): PipelineExecutor = {
    val ex = new PipelineExecutor(s)
    ex.register("orders", s.range(0, 200).selectExpr(
      "id AS order_id", "id % 7 AS customer_id", "CAST(id * 1.5 AS DOUBLE) AS amount"))
    ex.register("customers", s.range(0, 7).selectExpr(
      "id AS customer_id", "concat('c', id) AS name"))
    ex
  }

  private val group = "result_stage_2_group"

  /** JOIN → GROUP → SORT, then stages that read the GROUP result by view
    * name: a CUSTOM filter, UNION ALL and UNION with itself, a self-join
    * through a JOIN stage and one through CUSTOM SQL. */
  private val flow = Seq(
    JoinStage("j", "", "INNER", "orders", "customers", "customer_id", "customer_id"),
    GroupStage("g", "", None, Seq("name"),
      Seq(Aggregation("sum", "amount", Some("total")), Aggregation("count", "*", Some("n")))),
    SortStage("s", "", None, Seq(SortKey("total", "DESC"))),
    CustomStage("c", "", s"SELECT name, total FROM $group WHERE n > 28"),
    UnionStage("u", "", "UNION ALL", Seq(group, group)),
    UnionStage("d", "", "UNION", Seq(group, group)),
    JoinStage("sj", "", "INNER", group, group, "name", "name"),
    CustomStage("sc", "", s"SELECT a.name, a.total + b.n AS t FROM $group a JOIN $group b ON a.name = b.name"))

  /** Jobs Spark starts while `body` runs, counted by a listener; a marker
    * job fences the count since listener events arrive in order. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("preview-probe", "preview")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup("preview-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds))(assert(groups.contains("preview-marker")))
      (out, groups.toArray.count(_ == "preview-probe"))
    } finally sc.removeSparkListener(listener)
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def strings(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.toString)

  /** Rows and DESCRIBE of every flow table in a session where nothing is
    * kept and sorts run as Spark jobs: each table is read straight from
    * its lazy plan, never through `preview`. */
  private lazy val lazyTruth: Map[String, (Seq[String], Seq[(String, String)])] = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", SortLocalRelation.ruleName)
    val ex = uploads(s)
    ex.execute(flow).map { r =>
      r.tableName -> (strings(ex.table(r.tableName).limit(1000).collect()), ex.describe(r.tableName))
    }.toMap
  }

  test("after a complete GROUP preview, SORT and a GROUP re-preview run no job") {
    val ex = uploads(spark)
    val rs = ex.execute(flow)
    val Seq(join, grp, sort) = rs.take(3).map(_.tableName)
    val (_, joinJobs) = jobsOf(ex.preview(join))
    assert(joinJobs > 0, "the listener counts the jobs of a lazy preview")
    jobsOf(ex.preview(grp))
    assert(isLocal(ex.table(join)) && isLocal(ex.table(grp)))
    val (sorted, sortJobs) = jobsOf(ex.preview(sort))
    assert(sortJobs == 0)
    assert(isLocal(ex.table(sort)))
    val (again, groupJobs) = jobsOf(ex.preview(grp))
    assert(groupJobs == 0)
    assert(strings(sorted) == lazyTruth(sort)._1)
    assert(strings(again).sorted == lazyTruth(grp)._1.sorted)
  }

  test("kept results give the rows and DESCRIBE of the lazy chain, downstream stages included") {
    val ex = uploads(spark)
    val rs = ex.execute(flow)
    val names = rs.map(_.tableName)
    names.foreach(n => ex.preview(n))
    assert(names.forall(n => isLocal(ex.table(n))))
    names.zip(flow).foreach { case (n, stage) =>
      val (rows, schema) = lazyTruth(n)
      val got = strings(ex.preview(n))
      if (stage.isInstanceOf[SortStage]) assert(got == rows, n)
      else assert(got.sorted == rows.sorted, n)
      assert(ex.describe(n) == schema, n)
    }
  }

  test("stages compiled after a result is kept read the kept rows through its view") {
    val ex = uploads(spark)
    val rs = ex.execute(flow.take(2))
    ex.preview(rs(0).tableName)
    ex.preview(group)
    assert(isLocal(ex.table(group)))
    val later = ex.execute(flow)
    later.map(_.tableName).zip(flow).foreach { case (n, stage) =>
      val got = strings(ex.preview(n))
      if (stage.isInstanceOf[SortStage]) assert(got == lazyTruth(n)._1, n)
      else assert(got.sorted == lazyTruth(n)._1.sorted, n)
    }
    val (custom, jobs) = jobsOf(spark.sql(s"SELECT name FROM $group WHERE total > 0").collect())
    assert(custom.length == 7 && jobs == 0)
  }

  test("a preview of PreviewRows rows or more stays lazy") {
    val ex = new PipelineExecutor(spark)
    ex.register("nums", spark.range(0, 1500).toDF("id"))
    val rs = ex.execute(Seq(
      FilterStage("a", "", Some("nums"), Seq(FilterCondition("id", "<", 1000))),
      FilterStage("b", "", Some("nums"), Seq(FilterCondition("id", "<", 1200)))))
    val Seq(exact, over) = rs.map(_.tableName)
    assert(ex.preview(exact).length == PipelineExecutor.PreviewRows)
    assert(ex.table(exact) eq rs(0).df.get)
    assert(ex.preview(over, 2000).length == 1200)
    assert(ex.table(over) eq rs(1).df.get)
  }

  test("an upload stays lazy even when its preview is complete") {
    val ex = uploads(spark)
    val orders = ex.table("orders")
    assert(ex.preview("orders").length == 200)
    assert(ex.table("orders") eq orders)
  }

  test("nondeterministic and current-time SELECTs stay lazy") {
    val ex = uploads(spark)
    val rs = ex.execute(Seq(
      SelectStage("r", "", Some("customers"), Seq("name", "rand() AS r")),
      SelectStage("t", "", Some("customers"), Seq("name", "current_timestamp() AS t"))))
    rs.foreach { r =>
      assert(ex.preview(r.tableName).length == 7)
      assert(ex.table(r.tableName) eq r.df.get, r.tableName)
    }
  }

  test("register over a stage-result name makes it lazy until its own preview is complete") {
    val ex = uploads(spark)
    ex.execute(flow.take(2)).foreach(r => ex.preview(r.tableName))
    assert(isLocal(ex.table(group)))
    val edited = ex.table("orders").groupBy("customer_id").count()
    ex.register(group, edited)
    assert(ex.table(group) eq edited)
    assert(spark.table(group).columns.toSeq == Seq("customer_id", "count"))
    assert(ex.preview(group).length == 7)
    assert(isLocal(ex.table(group)))
    assert(spark.table(group).count() == 7)
  }

  test("file and LLM table-name sanitization rules") {
    assert(PipelineExecutor.tableNameForFile("My Sales-2023.csv") == "table_My_Sales_2023")
    assert(PipelineExecutor.cleanTableName("orders_csv") == "orders")
    assert(PipelineExecutor.cleanTableName("Orders_XLSX") == "Orders")
    assert(PipelineExecutor.cleanTableName("plain") == "plain")
  }
}
