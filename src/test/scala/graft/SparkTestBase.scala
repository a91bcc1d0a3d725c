package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * sessions are expensive; suites must not stop() it). */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.builder(
    master = "local[4]", shufflePartitions = 4, appName = "graft-test")
}

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark
  import scala.jdk.CollectionConverters._

  private val temps = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh directory under `java.io.tmpdir`, deleted with its contents
    * after the suite. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    temps.add(d)
    d
  }

  /** A fresh file under `java.io.tmpdir`, deleted after the suite. */
  def tempFile(prefix: String, suffix: String): java.nio.file.Path = {
    val f = java.nio.file.Files.createTempFile(prefix, suffix)
    temps.add(f)
    f
  }

  override def afterAll(): Unit =
    try temps.forEach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
    finally super.afterAll()

  def df(schemaDdl: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))

  /** The testdata events table with `ts` normalized to TIMESTAMP, whatever
    * vintage the driver generated: Long nanos (legacy switch), TIMESTAMP_NTZ
    * (unannotated µs parquet), or TIMESTAMP. Mirrors Ingest.loadDir's guard
    * so specs keep `unix_micros(ts)` usable directly. */
  def eventsTable(sfDir: String = "/root/testdata/sf0.001"): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
      case _ => raw.withColumn("ts",
        org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
  }

  /** Order-insensitive row comparison on stringified values. */
  def assertSameRows(actual: DataFrame, expected: Seq[Seq[Any]]): Unit = {
    val a = actual.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    val e = expected.map(_.map(String.valueOf)).sortBy(_.mkString("|"))
    assert(a.toSeq == e, s"\nactual:   ${a.toSeq}\nexpected: $e")
  }

  /** Order-sensitive variant (for SORT outputs). */
  def assertRowsInOrder(actual: DataFrame, expected: Seq[Seq[Any]]): Unit = {
    val a = actual.collect().map(_.toSeq.map(String.valueOf)).toSeq
    val e = expected.map(_.map(String.valueOf))
    assert(a == e, s"\nactual:   $a\nexpected: $e")
  }
}
