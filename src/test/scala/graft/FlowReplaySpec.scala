package graft

import graft.pipeline.PipelineExecutor
import graft.planner.TransformResponse
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/**
 * Pins the planner-response fixture `fixtures/six_stage_response.json`:
 * a verbatim 6-stage transform response (JOIN → FILTER → GROUP → SORT →
 * SELECT → CUSTOM, the same flow perfbench times as `Etl.llmFlow`) must
 * parse, survive StageRepair with all 6 stages intact, and execute end
 * to end through the lazy-view pipeline.
 */
class FlowReplaySpec extends SparkTestBase {

  test("6-stage fixture: parse → repair (6/6 kept) → run; shares sum to 1") {
    val ex = new PipelineExecutor(spark)
    Seq("customer", "orders").foreach { t =>
      ex.register(t, spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet"))
    }
    val plan = TransformResponse.toPlan(
      TransformResponse.parse(Files.readString(Path.of(
        getClass.getResource("/fixtures/six_stage_response.json").toURI))),
      n => scala.util.Try(ex.table(n).columns.toSeq).toOption)
    assert(plan.isValid && plan.stages.size == 6,
      s"repair kept ${plan.stages.size} of 6 stages")
    assert(plan.chartConfig.exists(_.xAxis == "c_mktsegment"))

    val out = ex.run(plan.stages)
    assert(out.columns.toSeq ==
      Seq("c_mktsegment", "revenue", "n_orders", "share"))
    val n = out.count()
    assert(n > 0 && n <= 5) // one row per market segment
    val total = out.agg(sum("share")).head().getDouble(0)
    assert(math.abs(total - 1.0) < 0.01, s"shares sum to $total")
    // the fused plan still pushes the o_totalprice filter into the scan
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("o_totalprice"), p)
  }
}
