package graft

import graft.pipeline.{ErrorPolicy, PipelineExecutor}
import graft.planner.TransformResponse
import org.apache.spark.sql.SparkSession

/**
 * End-to-end MULTI-STAGE flow replay at the 10×-replicated scale
 * (sf0.1 × 10 ≈ TPC-H sf1: 6M-row lineitem, 1.5M-row orders) — the
 * missing piece between per-operator ScaleProbe ratios and a real
 * pipeline: does the FUSED lazy-view chain still push filters into the
 * parquet scan, and what does each stage cost when the whole flow runs
 * as one Catalyst plan?
 *
 * Two flows, both through the production path (raw planner response →
 * [[TransformResponse.parse]] → StageRepair → [[PipelineExecutor]]):
 *  1. the golden customers⋈orders JOIN flow shape (SURVEY §7.2) on the
 *     scaled TPC-H tables;
 *  2. a 6-stage LLM-shaped flow (JOIN → FILTER → GROUP → SORT → SELECT
 *     → CUSTOM) from a verbatim transform-response JSON fixture — the
 *     exact payload shape HttpPlannerSpec's fixture server returns.
 *
 * Per-stage numbers are CUMULATIVE-BY-LINEAGE: results stay lazy temp
 * views (the §4 design decision), so materializing stage k executes its
 * whole upstream chain — the honest cost model for a user clicking
 * through stages. The final line also reports the fused single-pass
 * total and asserts `PushedFilters` reached the scan.
 *
 * Usage: FlowReplay [srcDir] [scaledDir] [replication]
 * (defaults /root/testdata/sf0.1 → /tmp/graft_sf1 ×10; the scaled build
 * is reused when present — same builder as ScaleProbe.)
 */
object FlowReplay {

  /** The 6-stage planner response, verbatim in the /api/transform wire
    * shape (server/index.js:257-316 response contract). */
  private[graft] val sixStageResponse: String =
    """{
      |  "isValid": true,
      |  "explanation": "Revenue by market segment for high-value recent orders",
      |  "chartType": "bar", "xAxis": "c_mktsegment", "yAxis": "revenue",
      |  "transformationStages": [
      |    {"type": "JOIN", "description": "join orders with customers",
      |     "data": {"leftTable": "orders", "rightTable": "customer",
      |              "leftKey": "o_custkey", "rightKey": "c_custkey",
      |              "joinType": "INNER"}},
      |    {"type": "FILTER", "description": "keep high value orders",
      |     "data": {"column": "o_totalprice", "operator": ">", "value": "150000"}},
      |    {"type": "GROUP", "description": "revenue by market segment",
      |     "data": {"groupBy": ["c_mktsegment"],
      |              "aggregations": [
      |                {"function": "SUM", "column": "o_totalprice", "alias": "revenue"},
      |                {"function": "COUNT", "column": "*", "alias": "n_orders"}]}},
      |    {"type": "SORT", "description": "largest segments first",
      |     "data": {"orderBy": [{"column": "revenue", "direction": "DESC"}]}},
      |    {"type": "SELECT", "description": "final columns",
      |     "data": {"columns": ["c_mktsegment", "revenue", "n_orders"]}},
      |    {"type": "CUSTOM", "description": "segment share of total",
      |     "data": {"sql": "SELECT c_mktsegment, revenue, n_orders, round(revenue / sum(revenue) OVER (), 4) AS share FROM result_stage_5_select"}}
      |  ]
      |}""".stripMargin

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scaledDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val rep = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.builder(appName = "graft-flow-replay")

    ScaleProbe.buildScaled(spark, srcDir, scaledDir, rep)
    val ex = new PipelineExecutor(spark)
    Seq("customer", "orders", "lineitem").foreach { t =>
      ex.register(t, spark.read.parquet(s"$scaledDir/$t.parquet"))
    }

    def noop(df: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // warm the JVM/codegen so flow 1 stage 1 isn't charged for it
    noop(ex.table("orders").groupBy("o_orderstatus").count())

    report(spark, ex, "golden_join_flow", goldenFlowStages(ex))

    val parsed = TransformResponse.parse(sixStageResponse)
    val plan = TransformResponse.toPlan(parsed,
      name => scala.util.Try(ex.table(name).columns.toSeq).toOption)
    require(plan.stages.size == 6, s"repair kept ${plan.stages.size} of 6 stages")
    report(spark, ex2 = new PipelineExecutor(spark)
      .register("customer", ex.table("customer"))
      .register("orders", ex.table("orders")),
      "llm_6stage_flow", plan.stages)

    spark.stop()
  }

  /** The golden flow's JOIN shape on the scaled TPC-H pair, through the
    * same repair path an LLM response takes. */
  private def goldenFlowStages(ex: PipelineExecutor): Seq[graft.model.Stage] = {
    val resp =
      """{"isValid": true, "explanation": "golden join",
        |  "transformationStages": [
        |    {"type": "JOIN", "description": "join orders with customers",
        |     "data": {"leftTable": "orders", "rightTable": "customer",
        |              "leftKey": "o_custkey", "rightKey": "c_custkey",
        |              "joinType": "INNER"}},
        |    {"type": "FILTER", "description": "urgent priority only",
        |     "data": {"column": "o_orderpriority", "operator": "=", "value": "1-URGENT"}},
        |    {"type": "GROUP", "description": "orders per nation",
        |     "data": {"groupBy": ["c_nationkey"],
        |              "aggregations": [{"function": "COUNT", "column": "*", "alias": "n"}]}}
        |  ]}""".stripMargin
    TransformResponse.toPlan(TransformResponse.parse(resp),
      name => scala.util.Try(ex.table(name).columns.toSeq).toOption).stages
  }

  private def report(spark: SparkSession, ex2: PipelineExecutor,
                     label: String, stages: Seq[graft.model.Stage]): Unit = {
    val results = ex2.execute(stages, ErrorPolicy.Abort)
    results.foreach(r => r.error.foreach(e => throw e))
    val stageTimes = results.map { r =>
      val t0 = System.nanoTime()
      r.df.get.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      f"""{"stage":"${r.stage.stageType}","cumulative_sec":$dt%.2f}"""
    }
    // fused single pass: the last view executed once end-to-end
    val last = results.last.df.get
    val t0 = System.nanoTime()
    last.write.format("noop").mode("overwrite").save()
    val fused = (System.nanoTime() - t0) / 1e9
    val plan = last.queryExecution.executedPlan.toString
    val pushed = plan.contains("PushedFilters: [") &&
      !plan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1").trim.isEmpty
    println(f"""{"flow":"$label","stages":[${stageTimes.mkString(",")}],""" +
      f""""fused_sec":$fused%.2f,"filter_pushed_to_scan":$pushed}""")
  }
}
