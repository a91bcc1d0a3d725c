package graft

import java.nio.file.{Files, Paths}

/** Smoke: every declared query runs at sf0.001 and yields rows; every
  * oracle key refers to a declared query. */
class SparkEntrySpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("entry produces rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("fixture gates read the fixtures of the running checkout") {
    // test classes live in <checkout>/target/scala-2.13/test-classes
    val checkout = Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
      .getParent.getParent.getParent
    val dir = Paths.get(SparkEntry.fixtureDir)
    assert(dir == checkout.resolve("src/test/resources/fixtures"), dir)
    assert(Files.isRegularFile(dir.resolve("parts_fixture.csv")))
  }

  test("oracleSql keys are a subset of queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("twins exactly annotate the no-oracle gates with hash-checked gates") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(SparkEntry.twins.keySet == noOracle,
      s"twins/no-oracle mismatch: unannotated=${noOracle -- SparkEntry.twins.keySet}, " +
        s"stale=${SparkEntry.twins.keySet -- noOracle}")
    SparkEntry.twins.foreach { case (gate, twin) =>
      assert(SparkEntry.oracleSql.contains(twin),
        s"$gate's twin $twin has no oracle — a twin must be hash-checked")
    }
  }

  /** This application's export directories under `java.io.tmpdir`. */
  private def exportDirs(): Seq[String] =
    Option(new java.io.File(sys.props("java.io.tmpdir")).list()).toSeq.flatten
      .filter(n => n.startsWith("graft_") && n.endsWith("_" + spark.sparkContext.applicationId))

  test("export gates delete their directories once read back, also when the read-back fails") {
    val gates = Seq("q_export_jsonl", "q_export_wap", "q_export_orc",
      "q_export_partitioned", "q_load_parquet_merge", "q_dedup_index")
    SparkEntry.removeExports(spark)
    gates.foreach { g =>
      assert(SparkEntry.runGate(spark, g, sf)(_.count()) > 0, g)
      assert(exportDirs().isEmpty, g)
    }
    val e = intercept[IllegalStateException](SparkEntry.runGate(spark, "q_export_orc", sf) { df =>
      assert(exportDirs().nonEmpty)
      throw new IllegalStateException("read-back failed")
    })
    assert(e.getMessage == "read-back failed")
    assert(exportDirs().isEmpty)
  }

  for (name <- SparkEntry.queries.keys) {
    test(s"query $name runs and returns rows at sf0.001") {
      val (rows, schema) = SparkEntry.runGate(spark, name, sf)(df => (df.count(), df.schema))
      assert(rows > 0, s"$name returned 0 rows")
      // Float-determinism convention: DECIMAL is an accumulator type,
      // never an output type — decimal stringification ('123.4' vs
      // '123.40') is not canonical across engines, so any DecimalType
      // column is a latent oracle hash mismatch.
      val decimalCols = schema.fields.collect {
        case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] => f.name
      }
      assert(decimalCols.isEmpty,
        s"$name emits DecimalType columns ${decimalCols.mkString(",")}; cast to DOUBLE")
    }
  }
}
