package graft

import graft.model.StageJson
import graft.pipeline.PipelineExecutor
import graft.sources.Ingest

/**
 * End-to-end replay of the reference's own golden flow (SURVEY §7.2):
 * load customers.csv + orders.csv, run the sampleStages.json JOIN, expect
 * 10 rows × 9 columns with the key column deduped
 * (reference: ui/src/sampleStages.json, ui/src/App.tsx:201-259).
 *
 * The stages come from the vendored test resource
 * `fixtures/sampleStages.json` (FIXTURES.md §1.3); the two CSVs are read
 * directly from the read-only reference checkout, and the test is skipped
 * where they are absent so the suite is portable.
 */
class GoldenFlowSpec extends SparkTestBase {

  private val sampleDir = "/root/reference/ui/public/sampleData"

  private def available: Boolean =
    Seq("customers.csv", "orders.csv")
      .forall(f => new java.io.File(s"$sampleDir/$f").isFile)

  test("sampleStages.json golden join: 10 rows x 9 cols, key deduped") {
    assume(available, "reference checkout not present")
    val ex = new PipelineExecutor(spark)
    // Upload-path naming: table_<stem> (ui/src/App.tsx:470-472)...
    val (custName, cust) = Ingest.loadCsvTable(spark, s"$sampleDir/customers.csv")
    val (ordName, ord) = Ingest.loadCsvTable(spark, s"$sampleDir/orders.csv")
    assert(custName == "table_customers" && ordName == "table_orders")
    // ...but the golden flow references bare `customers`/`orders`, resolved
    // by the cleaned-name fallback (ui/src/App.tsx:1225-1268); register both.
    ex.register("customers", cust).register("orders", ord)

    val stages = StageJson.parseStages(java.nio.file.Files.readString(
      java.nio.file.Path.of(getClass.getResource("/fixtures/sampleStages.json").toURI)))
    val out = ex.run(stages)

    assert(out.count() == 10)
    assert(out.columns.length == 9)
    assert(out.columns.count(_ == "customer_id") == 1) // key deduped
    assert(out.columns.toSeq == Seq("order_id", "customer_id",
      "product_category", "amount", "order_date", "name", "region",
      "join_date", "status"))
    // Alice (101) has 3 orders totalling 1550.50
    val alice = out.filter("customer_id = 101")
    assert(alice.count() == 3)
    assert(math.abs(alice.agg(org.apache.spark.sql.functions.sum("amount"))
      .head().getDouble(0) - 1550.5) < 1e-9)
  }
}
