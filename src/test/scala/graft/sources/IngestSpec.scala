package graft.sources

import graft.SparkTestBase
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.DriverCsvSchema
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import scala.util.Try

class IngestSpec extends SparkTestBase {

  private def writeCsv(content: String): String = {
    val f = tempFile("graft_ingest", ".csv")
    Files.writeString(f, content)
    f.toString
  }

  private def fixture(name: String): String =
    Paths.get(getClass.getResource(s"/fixtures/$name").toURI).toString

  /** The read `Ingest` issues, typed by Spark's own inference (its header
    * and inference jobs included). */
  private def sparkRead(s: SparkSession, path: String, infer: Boolean): DataFrame =
    s.read.options(Ingest.CsvOptions + ("inferSchema" -> infer.toString)).csv(path)

  private def sparkSchema(s: SparkSession, path: String, infer: Boolean) =
    sparkRead(s, path, infer).schema

  /** The driver fold is taken, and both CSV tiers read with exactly the
    * schema, and the scan plan, Spark infers itself. */
  private def assertDriverParity(path: String, s: SparkSession = spark): Unit = {
    val expected = sparkRead(s, path, infer = true)
    assert(DriverCsvSchema.infer(s, path, Ingest.CsvOptions + ("inferSchema" -> "true"))
      .contains(expected.schema))
    val typed = Ingest.csv(s, path)
    assert(typed.schema == expected.schema)
    assert(typed.queryExecution.executedPlan.sameResult(expected.queryExecution.executedPlan))
    assert(Ingest.csvFallback(s, path).schema == sparkSchema(s, path, infer = false))
  }

  test("parquetMerged: schema union across shards, NULLs for missing columns") {
    import org.apache.spark.sql.Row
    val base = tempDir("graft_merge_spec").toString
    df("id BIGINT, a STRING", Seq(Row(1L, "x"), Row(2L, "y")))
      .write.parquet(s"$base/early")
    df("id BIGINT, a STRING, b BIGINT", Seq(Row(3L, "z", 30L)))
      .write.parquet(s"$base/late")
    val merged = Ingest.parquetMerged(spark, Seq(s"$base/early", s"$base/late"))
      .select("id", "a", "b")
    assert(merged.columns.toSeq == Seq("id", "a", "b"))
    assertSameRows(merged, Seq(
      Seq(1L, "x", null), Seq(2L, "y", null), Seq(3L, "z", 30L)))
  }

  test("primary CSV path infers schema like read_csv_auto") {
    val p = writeCsv("id,name,amount\n1,Alice,10.5\n2,Bob,20.0\n")
    val df = Ingest.csv(spark, p)
    assert(df.schema.map(_.dataType.typeName).toSeq == Seq("integer", "string", "double"))
    assert(df.count() == 2)
  }

  test("fallback path is all-string and capped at 10k rows") {
    val rows = (1 to 12000).map(i => s"$i,x$i").mkString("\n")
    val p = writeCsv("id,name\n" + rows)
    val df = Ingest.csvFallback(spark, p)
    assert(df.schema.forall(_.dataType.typeName == "string"))
    assert(df.count() == 10000)
  }

  test("loadCsvTable registers under the reference's table_<stem> name") {
    val p = writeCsv("a\n1\n")
    val dir = tempDir("graft")
    val renamed = dir.resolve("My Data-File.csv")
    Files.move(java.nio.file.Path.of(p), renamed)
    val (name, _) = Ingest.loadCsvTable(spark, renamed.toString)
    assert(name == "table_My_Data_File")
    assert(spark.sql(s"SELECT * FROM $name").count() == 1)
  }

  test("image payload: lowercased columns, VARCHAR default, NULL literals") {
    val df = Ingest.fromImagePayload(spark,
      Seq(Ingest.ImageColumn("Product_ID", "INTEGER"),
        Ingest.ImageColumn("Price", "DOUBLE"),
        Ingest.ImageColumn("Label")),
      Seq(Seq("1", "9.99", "widget"), Seq("2", "NULL", "gadget"), Seq("x", "1.0", null)))
    assert(df.columns.toSeq == Seq("product_id", "price", "label"))
    val rows = df.collect()
    assert(rows(1).isNullAt(1))          // literal "NULL" cell
    assert(rows(2).isNullAt(0))          // unparseable int → NULL
    assert(df.schema("product_id").dataType.typeName == "integer")
  }

  test("image payload: every declarable type round-trips through castCell") {
    // ADVICE r1: sparkType declared SMALLINT/TINYINT/FLOAT/TIMESTAMP/
    // DECIMAL/BLOB but castCell left them as raw Strings → CCE at action.
    val df = Ingest.fromImagePayload(spark,
      Seq(Ingest.ImageColumn("s", "SMALLINT"), Ingest.ImageColumn("b", "TINYINT"),
        Ingest.ImageColumn("f", "FLOAT"), Ingest.ImageColumn("ts", "TIMESTAMP"),
        Ingest.ImageColumn("d", "DECIMAL(10,2)"), Ingest.ImageColumn("bin", "BLOB"),
        Ingest.ImageColumn("dt", "DATE"), Ingest.ImageColumn("ok", "BOOLEAN")),
      Seq(Seq("12", "3", "1.5", "2024-01-02T03:04:05", "12.345", "bytes", "2024-06-01", "true"),
        Seq("oops", "999", "x", "not a time", "NaN?", null, "junk", "maybe")))
    val r = df.collect()
    assert(r(0).getShort(0) == 12.toShort)
    assert(r(0).getByte(1) == 3.toByte)
    assert(r(0).getFloat(2) == 1.5f)
    assert(r(0).getTimestamp(3) == java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))
    assert(r(0).getDecimal(4).doubleValue() == 12.35) // scale-2 HALF_UP
    assert(new String(r(0).getAs[Array[Byte]](5), "UTF-8") == "bytes")
    assert(r(0).getDate(6) == java.sql.Date.valueOf("2024-06-01"))
    assert(r(0).getBoolean(7))
    // unparseable cells become NULL, like a failed INSERT cast
    (0 until 8).foreach(i => assert(r(1).isNullAt(i), s"col $i should be null"))
  }

  test("CSV fixture: Spark inference parity with read_csv_auto (values; widths normalized)") {
    val f = fixture("parts_fixture.csv")
    val df = Ingest.csv(spark, f)
    // Pin Spark's inferred types: ints narrow (vs DuckDB's BIGINT — width
    // normalized at the oracle gate per SURVEY §7.3), doubles and strings
    // agree outright.
    assert(df.schema("id").dataType.typeName == "integer")
    assert(df.schema("price").dataType.typeName == "double")
    assert(df.schema("name").dataType.typeName == "string")
    assert(df.count() == 200)
    val r = df.orderBy("id").head()
    assert(r.getInt(0) == 0 && r.getString(1) == "cold widget" && r.getDouble(3) == 900.0)
  }

  test("driver-side CSV schema equals Spark's on the fixtures") {
    assertDriverParity(fixture("parts_fixture.csv"))
    assertDriverParity(fixture("quoted_fixture.csv"))
  }

  test("driver-side CSV schema equals Spark's on generated edge cases") {
    val cases = Seq(
      "blank lines" -> "a,b\n\n1,x\n   \n2,y\n\n",
      "header repeated mid-file" -> "a,b\n1,2\na,b\n3,4\n",
      "int column ending in text" -> "n,m\n1,1\n2,2\nthree,3\n",
      "decimal/double/date/timestamp/boolean" ->
        ("big,dbl,day,ts,flag\n" +
          "123456789012345678901234,1.5,2024-01-02,2024-01-02T03:04:05,true\n" +
          "1,2e10,2024-02-29,2024-03-01T00:00:00.123,false\n"),
      "all-empty column" -> "a,b,c\n1,,x\n2,,y\n",
      "header only" -> "a,b,c\n",
      "CRLF line ends" -> "a,b\r\n1,2.5\r\n3,4\r\n",
      "byte-order mark" -> "\uFEFFa,b\n1,2\n",
      "short and long rows" -> "a,b,c\n1\n2,3,4,5\n")
    cases.foreach { case (label, content) =>
      withClue(s"$label: ")(assertDriverParity(writeCsv(content)))
    }
  }

  test("duplicate and empty header names match Spark under both case modes") {
    val p = writeCsv("a,A,,a,b\n1,2,3,4,5\n")
    Seq("true", "false").foreach { cs =>
      val s = spark.newSession()
      s.conf.set("spark.sql.caseSensitive", cs)
      withClue(s"caseSensitive=$cs: ")(assertDriverParity(p, s))
    }
  }

  test("empty and blank-only CSVs are left to Spark and read as Spark reads them") {
    def outcome(read: => DataFrame) =
      Try { val d = read; (d.schema, d.collect().toSeq) }.toEither.left.map(_.getMessage)
    Seq("", "\n  \n\n").foreach { content =>
      val p = writeCsv(content)
      Seq(true, false).foreach { infer =>
        val options = Ingest.CsvOptions + ("inferSchema" -> infer.toString)
        assert(DriverCsvSchema.infer(spark, p, options).isEmpty)
        val expected = outcome(sparkRead(spark, p, infer))
        assert(outcome(if (infer) Ingest.csv(spark, p) else Ingest.csvFallback(spark, p)) == expected)
      }
    }
  }

  test("a file above openCostInBytes keeps Spark's inference with the same schema") {
    val p = fixture("parts_fixture.csv")
    val s = spark.newSession()
    s.conf.set("spark.sql.files.openCostInBytes", "64")
    assert(DriverCsvSchema.infer(s, p, Ingest.CsvOptions + ("inferSchema" -> "true")).isEmpty)
    assert(Ingest.csv(s, p).schema == sparkSchema(s, p, infer = true))
    // the header-only tier reads one line, so size does not gate it
    assert(DriverCsvSchema.infer(s, p, Ingest.CsvOptions + ("inferSchema" -> "false")).isDefined)
  }

  test("small-file CSV reads start no Spark job until an action runs") {
    val p = writeCsv("id,name\n1,a\n2,b\n")
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    // Listener events arrive in order, so once the marker job is seen every
    // job the probe group started before it has been counted.
    def probeJobs(body: => Unit): Int = {
      groups.clear()
      sc.setJobGroup("ingest-probe", "ingest")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("ingest-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds))(assert(groups.contains("ingest-marker")))
      groups.toArray.count(_ == "ingest-probe")
    }
    sc.addSparkListener(listener)
    try {
      var typed, fallback: DataFrame = null
      assert(probeJobs { typed = Ingest.csv(spark, p); fallback = Ingest.csvFallback(spark, p) } == 0)
      assert(probeJobs(typed.collect()) > 0)
      assert(probeJobs(fallback.collect()) > 0)
    } finally sc.removeSparkListener(listener)
  }

  test("JSONL fixture: inference, sparse fields, nested struct/array, escaped newlines") {
    val f = fixture("docs_fixture.jsonl")
    val df = Ingest.jsonl(spark, f)
    // inference parity surface with read_json_auto: BIGINT/DOUBLE/BOOLEAN/
    // VARCHAR/struct/array agree; dates stay strings on the Spark side
    // (cast at the consuming projection — pinned by the q_load_jsonl gate)
    assert(df.schema("id").dataType.typeName == "long")
    assert(df.schema("score").dataType.typeName == "double")
    assert(df.schema("flag").dataType.typeName == "boolean")
    assert(df.schema("created").dataType.typeName == "string")
    assert(df.schema("meta").dataType.typeName == "struct")
    assert(df.schema("tags").dataType.typeName == "array")
    assert(df.count() == 25)
    val byId = df.orderBy("id").collect()
    // sparse field (flag missing on every 3rd line) → NULL
    assert(byId(2).isNullAt(byId(2).fieldIndex("flag")))
    // JSON-escaped newline survives into the value (what CSV can't carry)
    assert(byId(7).getAs[String]("title") == "multi\nline 8")
    // dot-access through a NULL struct yields NULL, not an error
    val meta11 = df.where("id = 11").selectExpr("meta.tokens").head()
    assert(meta11.isNullAt(0))
  }

  test("loadJsonlTable registers under the table_<stem> naming rule") {
    val f = fixture("docs_fixture.jsonl")
    val (name, _) = Ingest.loadJsonlTable(spark, f)
    assert(name == "table_docs_fixture")
    assert(spark.sql(s"SELECT count(*) FROM $name").head().getLong(0) == 25L)
  }

  test("duck type names map to Spark types") {
    import org.apache.spark.sql.types._
    assert(Ingest.sparkType("VARCHAR") == StringType)
    assert(Ingest.sparkType("decimal(10,2)") == DecimalType(10, 2))
    assert(Ingest.sparkType("DECIMAL") == DecimalType(38, 18))
    assert(Ingest.sparkType("BIGINT") == LongType)
    assert(Ingest.sparkType("whatever") == StringType)
  }

  test("loadDir registers the testdata star schema") {
    val tables = Ingest.loadDir(spark, "/root/testdata/sf0.001")
    assert(tables.keySet.contains("lineitem"))
    assert(spark.sql("SELECT count(*) FROM lineitem").head().getLong(0) == 6000L)
  }
}
