package graft.sources

import graft.pipeline.PipelineExecutor
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftshim.{DriverCsvSchema, StageTables}
import org.apache.spark.sql.types._

/**
 * Data ingestion, mirroring the reference's sources (SURVEY §2.3):
 *
 *  - CSV with inferred schema — the `read_csv_auto(f, header=true,
 *    auto_detect=true)` path (reference: ui/src/App.tsx:370-374,392-395),
 *    typed on the driver for small single files (see [[csv]]);
 *  - all-VARCHAR fallback capped at 10,000 data rows — the manual-parse
 *    tier (ui/src/App.tsx:417-420);
 *  - image-payload tables `{name, columns:[{name,type}], rows:[[...]]}`
 *    (server/index.js:347-380, DDL+insert ui/src/App.tsx:812-835);
 *  - Parquet (our engine's native columnar format — the scale path the
 *    reference lacks; test data is Parquet per TESTDATA.md).
 */
object Ingest {

  /** Primary CSV path: header + schema inference. `escape = "` selects
    * RFC-4180 doubled-quote escaping ("" inside a quoted field) — what
    * DuckDB's read_csv_auto and the reference's quote-aware manual parser
    * (ui/src/App.tsx:328-352) both speak; Spark's default backslash
    * escape silently splits such fields at embedded commas (caught by the
    * q_load_csv_quoted parity gate).
    *
    * A small upload is typed on the driver, like read_csv_auto sniffing
    * in-process: when the path is one uncompressed UTF-8 file no larger
    * than `spark.sql.files.openCostInBytes` (4 MB by default — Spark's own
    * estimate of the bytes that cost as much as opening a file, so below it
    * a job costs more than the read), [[DriverCsvSchema]] folds Spark's
    * `CSVInferSchema` over every line in the calling thread and the file is
    * read with that schema. The types are exactly Spark's, over the whole
    * file, not a sample's; the read starts no job until an action runs,
    * where Spark's inference starts two (header `take(1)` + inference
    * aggregate). Directories, globs, compressed files, other charsets,
    * larger files and files without a header line (Spark reads those with an
    * empty schema) keep Spark's `inferSchema` path. */
  def csv(spark: SparkSession, path: String): DataFrame =
    read(spark, path, CsvOptions + ("inferSchema" -> "true"))

  /** Fallback CSV path: every column VARCHAR, first 10k data rows
    * (ui/src/App.tsx:417-420). The all-VARCHAR schema comes from the header
    * line read on the driver — one line, so any size of single file — which
    * saves the header `take(1)` job Spark runs even without inference. */
  def csvFallback(spark: SparkSession, path: String, maxRows: Int = 10000): DataFrame =
    read(spark, path, CsvOptions + ("inferSchema" -> "false")).limit(maxRows)

  private[sources] val CsvOptions =
    Map("header" -> "true", "escape" -> "\"", "mode" -> "PERMISSIVE")

  private def read(spark: SparkSession, path: String, options: Map[String, String]): DataFrame = {
    val reader = spark.read.options(options)
    DriverCsvSchema.infer(spark, path, options).fold(reader)(s => reader.schema(s)).csv(path)
  }

  /** Load + register a CSV under the reference's `table_<stem>` name. */
  def loadCsvTable(spark: SparkSession, path: String): (String, DataFrame) = {
    val fileName = new java.io.File(path).getName
    val name = PipelineExecutor.tableNameForFile(fileName)
    val df = csv(spark, path)
    StageTables.replaceTempView(df, name)
    (name, df)
  }

  /**
   * JSONL (newline-delimited JSON) — the dominant training-data interchange
   * format, and an engine extra beyond the reference's CSV/image sources
   * (SURVEY §2.3). One JSON document per line; nested objects become
   * structs, JSON arrays become Spark arrays, fields missing on a line
   * become NULL — so sparse heterogeneous corpora load without a schema
   * declaration. Embedded newlines/commas/quotes in values are JSON-escaped
   * on the line, which is exactly the fragility CSV has and JSONL doesn't.
   *
   * Schema-inference parity with DuckDB `read_json_auto` (the q_load_jsonl
   * gates): both agree on BIGINT/DOUBLE/BOOLEAN/VARCHAR/struct/array;
   * DuckDB additionally infers DATE/TIMESTAMP from ISO strings where Spark
   * keeps VARCHAR — date-typed fields are normalized by an explicit CAST in
   * the consuming projection, same convention as the CSV gate's int widths.
   *
   * Scale: splittable line format — Spark assigns byte ranges of large
   * files to tasks and snaps to line boundaries, so a single 1-TB JSONL
   * shard still parallelizes. Inference samples every line by default;
   * pass `sampleRatio < 1` to bound the inference pass on huge corpora
   * (the data scan itself is lazy either way).
   */
  def jsonl(spark: SparkSession, path: String, sampleRatio: Double = 1.0): DataFrame =
    spark.read
      .option("multiLine", "false")
      .option("mode", "PERMISSIVE")
      .option("samplingRatio", sampleRatio.toString)
      .json(path)

  /** Load + register a JSONL file under the `table_<stem>` naming rule. */
  def loadJsonlTable(spark: SparkSession, path: String): (String, DataFrame) = {
    val fileName = new java.io.File(path).getName
    val name = PipelineExecutor.tableNameForFile(fileName)
    val df = jsonl(spark, path)
    StageTables.replaceTempView(df, name)
    (name, df)
  }

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /**
   * Schema-evolution read: parquet shards written at different times
   * with different (compatible) schemas — a column added mid-crawl —
   * read as ONE DataFrame whose schema is the union; rows from
   * pre-evolution shards carry NULL in the added columns. `mergeSchema`
   * reconciles footers in a parallel metadata-only job (no data scan),
   * but it IS per-file work: at 100 TB pin the expected schema or use a
   * table format with tracked schema history; for raw parquet lakes this
   * is the correct ingest.
   */
  def parquetMerged(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /**
   * Read `<dir>/<table>.parquet` for every given table and register each
   * as a temp view. Used for the driver's testdata star schema.
   *
   * Parquet TIMESTAMP(NANOS) (e.g. the `events.ts` column) is rejected by
   * Spark's reader by default; we flip the legacy nanos-as-long switch and
   * convert such columns back to microsecond timestamps (`DIV 1000` —
   * exact, no float round-trip).
   */
  def loadDir(spark: SparkSession, dir: String,
              names: Seq[String] = defaultTables): Map[String, DataFrame] = {
    scala.util.Try( // runtime-settable session conf; harmless if already set
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true"))
    names.flatMap { n =>
      val f = new java.io.File(s"$dir/$n.parquet")
      if (f.exists()) {
        val raw = spark.read.parquet(f.getPath)
        val df = if (n == "events" && raw.schema("ts").dataType == LongType)
          raw.withColumn("ts", org.apache.spark.sql.functions.expr(
            "timestamp_micros(ts DIV 1000)"))
        else raw
        StageTables.replaceTempView(df, n)
        Some(n -> df)
      } else None
    }.toMap
  }

  val defaultTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Column spec of an image-extracted table (server/index.js:347-380). */
  final case class ImageColumn(name: String, colType: String = "VARCHAR")

  /**
   * Build a DataFrame from an image-extracted table payload: cells arrive
   * as strings, `type` defaults to VARCHAR, column names are
   * lowercase-normalized (server/index.js:654), literal "NULL" cells become
   * nulls (ui/src/App.tsx:829).
   */
  def fromImagePayload(
      spark: SparkSession,
      columns: Seq[ImageColumn],
      rows: Seq[Seq[String]]): DataFrame = {
    val fields = columns.map(c => StructField(c.name.toLowerCase, sparkType(c.colType)))
    val schema = StructType(fields)
    val data = rows.map { cells =>
      Row.fromSeq(fields.zipWithIndex.map { case (f, i) =>
        val cell = if (i < cells.length) cells(i) else null
        castCell(cell, f.dataType)
      })
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toIndexedSeq, math.max(1, rows.size / 10000 + 1)),
      schema)
  }

  /** One branch per type [[sparkType]] can declare — a declared type whose
    * value stayed a raw String would crash with ClassCastException at the
    * first action. */
  private def castCell(cell: String, dt: DataType): Any = {
    if (cell == null || cell.equalsIgnoreCase("null") || cell.isEmpty) null
    else try dt match {
      case StringType    => cell
      case IntegerType   => cell.trim.toInt
      case LongType      => cell.trim.toLong
      case DoubleType    => cell.trim.toDouble
      case FloatType     => cell.trim.toFloat
      case ShortType     => cell.trim.toShort
      case ByteType      => cell.trim.toByte
      case d: DecimalType =>
        new java.math.BigDecimal(cell.trim)
          .setScale(d.scale, java.math.RoundingMode.HALF_UP)
      case DateType      => java.sql.Date.valueOf(cell.trim)
      case TimestampType =>
        java.sql.Timestamp.valueOf(cell.trim.replace("T", " "))
      case BooleanType   => cell.trim.toBoolean
      case BinaryType    => cell.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      case _             => cell
    } catch { case _: Exception => null } // unparseable cell → NULL, like an INSERT cast failure
  }

  private val DecimalRe = """DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  /** DuckDB-style declared type → Spark type (SURVEY §1.2 table). */
  def sparkType(duckType: String): DataType =
    duckType.trim.toUpperCase match {
      case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
      case other => bareType(other)
    }

  private def bareType(upper: String): DataType =
    upper.replaceAll("\\(.*\\)", "") match {
      case "VARCHAR" | "TEXT" | "STRING" | "CHAR"  => StringType
      case "INTEGER" | "INT" | "INT4"              => IntegerType
      case "BIGINT" | "INT8" | "LONG" | "HUGEINT"  => LongType
      case "SMALLINT" | "INT2"                     => ShortType
      case "TINYINT" | "INT1"                      => ByteType
      case "DOUBLE" | "FLOAT8" | "REAL" | "NUMERIC" => DoubleType
      case "FLOAT" | "FLOAT4"                      => FloatType
      case "DECIMAL"                               => DecimalType(38, 18)
      case "DATE"                                  => DateType
      case "TIMESTAMP" | "DATETIME"                => TimestampType
      case "BOOLEAN" | "BOOL"                      => BooleanType
      case "BLOB" | "BYTEA" | "BINARY"             => BinaryType
      case _                                       => StringType
    }
}
