package org.apache.spark.sql.graftshim

import com.univocity.parsers.csv.CsvParser
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.{Charset, StandardCharsets}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{DataType, NullType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._
import scala.util.Using

/**
 * The schema Spark's CSV source would infer for one file, computed on the
 * driver without launching a job.
 *
 * Spark's `TextInputCSVDataSource.infer` costs two jobs per read: a
 * `take(1)` for the header line and, with `inferSchema`, an aggregate that
 * folds `CSVInferSchema.inferRowType` over every other line. For a file that
 * Spark reads as ONE partition both are a sequential fold over the file's
 * lines, so this helper runs the same steps in the calling thread: the same
 * `CSVOptions` built from the session conf, `CSVUtils.filterCommentAndEmpty`,
 * `filterHeaderLine`, `makeSafeHeader`, `inferRowType`, the final
 * `mergeRowTypes` of `RDD.aggregate`, then `toStructFields`. The types are
 * Spark's own, over every line, not a sample's.
 *
 * A file is one partition when it is no larger than
 * `min(spark.sql.files.openCostInBytes, spark.sql.files.maxPartitionBytes)`
 * (`FilePartition.maxSplitBytes` never splits below that). Below the
 * open cost (4 MB by default, Spark's estimate of the bytes that cost as
 * much as opening a file) a job costs more than reading the file here.
 * The header-only case (`inferSchema` off) reads one line, so it takes any
 * size of file.
 *
 * Returns `None` — the caller then lets Spark infer — for anything this
 * fold does not reproduce exactly: globs, directories, hidden or missing
 * files, compressed files, charsets other than UTF-8, a custom `lineSep`,
 * `multiLine`, `samplingRatio` below 1, a single variant column, file
 * selection options, and files with no header line (Spark gives those an
 * empty schema).
 */
object DriverCsvSchema {

  /** Path characters `SparkHadoopUtil.isGlobPath` treats as a glob. */
  private val GlobChars = "{}[]*?\\".toSet

  /** Reader options that filter or expand the files behind a path. */
  private val FileSelectionOptions =
    Set("pathglobfilter", "recursivefilelookup", "modifiedbefore", "modifiedafter")

  def infer(spark: SparkSession, path: String, options: Map[String, String]): Option[StructType] =
    spark match {
      case s: org.apache.spark.sql.classic.SparkSession => s.withActive(inferActive(s, path, options))
      case _ => None
    }

  private def inferActive(
      spark: org.apache.spark.sql.classic.SparkSession,
      path: String,
      options: Map[String, String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    val parsed = new CSVOptions(
      options, conf.csvColumnPruning, conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val eligibleOptions = !parsed.multiLine && parsed.lineSeparator.isEmpty &&
      parsed.singleVariantColumn.isEmpty &&
      Charset.forName(parsed.charset) == StandardCharsets.UTF_8 &&
      (!parsed.inferSchemaFlag || parsed.samplingRatio == 1.0) &&
      !options.keys.exists(k => FileSelectionOptions(k.toLowerCase)) &&
      !path.exists(GlobChars)
    if (!eligibleOptions) return None

    val file = new Path(path)
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val fs = file.getFileSystem(hadoopConf)
    val status = scala.util.Try(fs.getFileStatus(file)).toOption
    val name = file.getName
    val sizeLimit = math.min(conf.filesOpenCostInBytes, conf.filesMaxPartitionBytes)
    val eligibleFile = status.exists { st =>
      st.isFile && !name.startsWith("_") && !name.startsWith(".") &&
        new CompressionCodecFactory(hadoopConf).getCodec(file) == null &&
        (!parsed.inferSchemaFlag || st.getLen <= sizeLimit)
    }
    if (!eligibleFile) return None

    Using.resource(new BufferedReader(
        new InputStreamReader(fs.open(file), StandardCharsets.UTF_8))) { reader =>
      // Hadoop's LineRecordReader splits on \n, \r and \r\n like readLine,
      // and drops a UTF-8 byte-order mark at the start of the file.
      val raw = reader.lines().iterator().asScala
      val lines = if (raw.hasNext) Iterator(raw.next().stripPrefix("\uFEFF")) ++ raw else raw
      val filtered = CSVUtils.filterCommentAndEmpty(lines, parsed)
      if (!filtered.hasNext) None
      else {
        val firstLine = filtered.next()
        val parser = new CsvParser(parsed.asParserSettings)
        Option(parser.parseLine(firstLine)).map { firstRow =>
          val header = CSVUtils.makeSafeHeader(firstRow, conf.caseSensitiveAnalysis, parsed)
          if (!parsed.inferSchemaFlag) StructType(header.map(StructField(_, StringType)))
          else {
            val inference = new CSVInferSchema(parsed)
            val startType = Array.fill[DataType](header.length)(NullType)
            val folded = CSVUtils.filterHeaderLine(filtered, firstLine, parsed)
              .map(parser.parseLine)
              .foldLeft(startType.clone())(inference.inferRowType)
            StructType(inference.toStructFields(inference.mergeRowTypes(startType, folded), header))
          }
        }
      }
    }
  }
}
