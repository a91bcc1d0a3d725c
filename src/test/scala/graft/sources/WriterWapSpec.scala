package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.SparkTestBase
import graft.operators.Expect

class WriterWapSpec extends SparkTestBase {

  private lazy val good = df("id BIGINT, v DOUBLE", Seq(
    Row(1L, 1.0), Row(2L, 2.0), Row(3L, 3.0)))

  private def tmp(name: String): String = tempDir(s"wap_spec_$name").resolve("out").toString

  test("passing audit publishes data plus an _AUDIT.json manifest") {
    val out = tmp("ok")
    val report = Writer.writeAuditPublish(good, out,
      Seq(Expect.notNull("id"), Expect.inRange("v", 0, 10)))
    assert(report.forall(_._4) && report.map(_._2).forall(_ == 3L))
    assert(spark.read.parquet(out).count() == 3)
    val audit = new String(Files.readAllBytes(
      Paths.get(out, "_AUDIT.json")), "UTF-8")
    assert(audit.contains("\"rule\":\"not_null(id)\"") &&
      audit.contains("\"pass\":true"))
  }

  test("failing audit publishes NOTHING and leaves prior data intact") {
    val out = tmp("fail")
    // seed a prior published version that must survive the failed attempt
    Writer.writeAuditPublish(good, out, Seq(Expect.notNull("id")))
    val bad = df("id BIGINT, v DOUBLE", Seq(Row(4L, 99.0), Row(null, 1.0)))
    val e = intercept[IllegalStateException] {
      Writer.writeAuditPublish(bad, out,
        Seq(Expect.notNull("id"), Expect.inRange("v", 0, 10)))
    }
    assert(e.getMessage.contains("not_null(id)") &&
      e.getMessage.contains("in_range"))
    // destination still serves the previous publish, staging is gone
    assert(spark.read.parquet(out)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    val name = Paths.get(out).getFileName.toString
    val leftovers = Files.list(Paths.get(out).getParent).iterator().asScala
      .map(_.getFileName.toString)
      .filter(f => f.contains(name) && f.contains("_staging_")).toList
    assert(leftovers.isEmpty, leftovers)
  }
}
