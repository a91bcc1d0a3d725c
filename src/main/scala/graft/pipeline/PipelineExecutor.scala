package graft.pipeline

import graft.compile.StageCompiler
import graft.model._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.graftshim.StageTables
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Outcome of executing one stage. */
final case class StageResult(
    stage: Stage,
    index: Int,
    tableName: String,
    df: Option[DataFrame],
    error: Option[Throwable]) {
  def succeeded: Boolean = error.isEmpty
}

/** Error policies observed in the reference (SURVEY §4):
  * abort on first failure (manual stage edit, ui/src/App.tsx:653-658) vs
  * log-and-continue (image/flow import, ui/src/App.tsx:1491-1498). */
object ErrorPolicy extends Enumeration {
  val Abort, Continue = Value
}

/**
 * Sequential pipeline executor over a named-table registry — the
 * Spark-native counterpart of the reference's `processFlowData` /
 * `executeStageTransformation` loops (ui/src/App.tsx:551-662, 736-1536).
 *
 * Semantics preserved:
 *  - result naming `result_stage_<n>_<lowercased type>` with n = the stage's
 *    1-based position (ui/src/App.tsx:603-604, 1457-1458);
 *  - input resolution priority for unary stages: explicit `data.table` →
 *    previous stage's result → active table → first loaded table
 *    (ui/src/App.tsx:567-592);
 *  - LOAD stages bind at ingest and are skipped during execution
 *    (ui/src/App.tsx:681-682, 997-1001);
 *  - re-execution overwrites the stage's result table in place
 *    (ui/src/App.tsx:613-650);
 *  - every result is registered as a temp view so CUSTOM SQL stages can
 *    reference it.
 *
 * Deliberate difference (SURVEY §4): results start as LAZY temp views, not
 * eagerly materialized tables — Catalyst fuses the whole chain and pushes
 * filters/pruning into the scan. A stage result whose [[preview]] is
 * complete (fewer rows than asked for, and fewer than [[PipelineExecutor.PreviewRows]])
 * then becomes a driver-held local relation of those rows, and the stages
 * registered after it read that relation instead of re-running the chain.
 * Uploads, plans with nondeterministic or current-time expressions, and a
 * result that [[register]] overwrites stay (or become again) lazy.
 */
final class PipelineExecutor(val spark: SparkSession) {

  private val tables = mutable.LinkedHashMap.empty[String, DataFrame]
  val stageToTable: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  private var lastResultTable: Option[String] = None
  var activeTable: Option[String] = None

  /** Register an input table (LOAD-equivalent) as a named temp view. */
  def register(name: String, df: DataFrame): this.type = {
    tables(name) = df
    StageTables.replaceTempView(df, name)
    this
  }

  def table(name: String): DataFrame =
    tables.getOrElse(name,
      throw new NoSuchElementException(
        s"unknown table '$name'; known: ${tables.keys.mkString(", ")}"))

  def tableNames: Seq[String] = tables.keys.toSeq

  def resultTableFor(stageId: String): Option[String] = stageToTable.get(stageId)

  /** The reference's input-resolution priority (ui/src/App.tsx:567-592). */
  private def defaultInput: Option[DataFrame] =
    lastResultTable.orElse(activeTable).orElse(tables.keys.headOption).map(table)

  /** Execute stages in order; returns one result per stage. */
  def execute(stages: Seq[Stage],
              policy: ErrorPolicy.Value = ErrorPolicy.Abort): Seq[StageResult] = {
    val results = mutable.ArrayBuffer.empty[StageResult]
    var aborted = false
    stages.zipWithIndex.foreach { case (stage, i) =>
      val idx = i + 1
      if (!aborted) {
        stage match {
          case LoadStage(sid, _, tableName, _) =>
            // Binds at ingest; here just validate/point at the registry.
            val err = if (tables.contains(tableName)) None
                      else Some(new NoSuchElementException(s"LOAD references unknown table '$tableName'"))
            results += StageResult(stage, idx, tableName, err.fold(Option(table(tableName)))(_ => None), err)
            if (err.isDefined && policy == ErrorPolicy.Abort) aborted = true
          case _ =>
            val name = resultTableName(idx, stage)
            try {
              val df = StageCompiler.compile(spark, stage, table, defaultInput)
              register(name, df)
              stageToTable(stage.id) = name
              lastResultTable = Some(name)
              results += StageResult(stage, idx, name, Some(df), None)
            } catch {
              case e: Exception =>
                results += StageResult(stage, idx, name, None, Some(e))
                if (policy == ErrorPolicy.Abort) aborted = true
            }
        }
      }
    }
    results.toSeq
  }

  /** Run a full pipeline and return the last successful result. */
  def run(stages: Seq[Stage],
          policy: ErrorPolicy.Value = ErrorPolicy.Abort): DataFrame = {
    val rs = execute(stages, policy)
    rs.foreach { r =>
      r.error.foreach { e =>
        if (policy == ErrorPolicy.Abort)
          throw new RuntimeException(s"stage ${r.index} (${r.stage.stageType}) failed", e)
      }
    }
    rs.reverse.collectFirst { case r if r.succeeded && r.df.isDefined => r.df.get }
      .getOrElse(throw new RuntimeException("pipeline produced no result"))
  }

  /**
   * Resolve a planner-supplied table name with the reference's priority
   * chain (ui/src/App.tsx:1225-1268): alias map → cleaned-name alias →
   * prior stage results → registered tables → catalog probe → previous
   * result table → cleaned name as-is.
   */
  def resolveTableName(name: String, aliases: Map[String, String] = Map.empty): String = {
    val cleaned = PipelineExecutor.cleanTableName(name)
    aliases.get(name)
      .orElse(aliases.get(cleaned))
      .orElse(stageToTable.values.find(v => v == name || v == cleaned))
      .orElse(Option.when(tables.contains(name))(name))
      .orElse(Option.when(tables.contains(cleaned))(cleaned))
      .orElse(Option.when(spark.catalog.tableExists(cleaned))(cleaned))
      .orElse(Option.when(spark.catalog.tableExists(name))(name))
      .orElse(lastResultTable)
      .getOrElse(cleaned)
  }

  /** `result_stage_<n>_<type>` (ui/src/App.tsx:603-604). */
  def resultTableName(index: Int, stage: Stage): String =
    s"result_stage_${index}_${stage.stageType.toLowerCase}"

  /** Preview after every op (ui/src/App.tsx:455,608,1461,1699). When the
    * rows are the whole result of a stage, they are kept (see [[keepLocal]]). */
  def preview(name: String, n: Int = PipelineExecutor.PreviewRows): Array[Row] = {
    val df = table(name)
    val rows = df.limit(n).collect()
    if (rows.length < math.min(n, PipelineExecutor.PreviewRows) &&
        stageToTable.valuesIterator.contains(name))
      keepLocal(name, df.queryExecution.analyzed, rows)
    rows
  }

  /** Re-register stage result `name` as a local relation of its complete
    * result `rows`, and put that relation in place of `fragment` (its lazy
    * plan) in every table registered from it, the way Spark's
    * `CacheManager.useCachedData` substitutes cached data. Plans are matched
    * by reference, in registration order: a rewritten table's new plan
    * replaces its old one in the tables after it, so a later complete
    * preview still finds its fragment downstream. A plan that may give
    * other rows when re-run stays lazy. */
  private def keepLocal(name: String, fragment: LogicalPlan, rows: Array[Row]): Unit = {
    val repeatable = fragment.collectWithSubqueries {
      case p => p.deterministic && !p.containsPattern(CURRENT_LIKE)
    }.forall(identity)
    if (repeatable && !fragment.isInstanceOf[LocalRelation] && !fragment.isStreaming) {
      val replaced = new java.util.IdentityHashMap[LogicalPlan, LogicalPlan]()
      replaced.put(fragment, StageTables.localRelation(fragment, rows.toSeq))
      register(name, StageTables.ofPlan(spark, replaced.get(fragment)))
      tables.toSeq.foreach { case (other, df) =>
        val plan = df.queryExecution.analyzed
        val rewritten = plan.transformDownWithSubqueries {
          case p if replaced.containsKey(p) => replaced.get(p)
        }
        if (rewritten ne plan) {
          register(other, StageTables.ofPlan(spark, rewritten))
          replaced.put(plan, table(other).queryExecution.analyzed)
        }
      }
    }
  }

  /** Schema in the reference's DESCRIBE-shaped `{column_name, column_type}`
    * rows (ui/src/App.tsx:610-611, consumed at ui/src/App.tsx:1845-1848). */
  def describe(name: String): Seq[(String, String)] =
    table(name).schema.fields.toSeq.map(f => (f.name, duckTypeName(f.dataType)))

  /** Spark → DuckDB-style type names, for API parity with DESCRIBE output. */
  def duckTypeName(dt: DataType): String = dt match {
    case StringType            => "VARCHAR"
    case LongType              => "BIGINT"
    case IntegerType           => "INTEGER"
    case ShortType             => "SMALLINT"
    case ByteType              => "TINYINT"
    case DoubleType            => "DOUBLE"
    case FloatType             => "FLOAT"
    case BooleanType           => "BOOLEAN"
    case DateType              => "DATE"
    case TimestampType         => "TIMESTAMP"
    case TimestampNTZType      => "TIMESTAMP"
    case BinaryType            => "BLOB"
    case d: DecimalType        => s"DECIMAL(${d.precision},${d.scale})"
    case ArrayType(et, _)      => s"${duckTypeName(et)}[]"
    case MapType(k, v, _)      => s"MAP(${duckTypeName(k)}, ${duckTypeName(v)})"
    case s: StructType         => s.fields.map(f => s"${f.name} ${duckTypeName(f.dataType)}")
                                    .mkString("STRUCT(", ", ", ")")
    case other                 => other.sql
  }
}

object PipelineExecutor {
  /** The reference's preview cap (ui/src/App.tsx:455,608): the default
    * size of [[PipelineExecutor.preview]], the bound below which a preview
    * counts as a complete result kept on the driver, and the largest
    * relation [[SortLocalRelation]] sorts on the driver. */
  val PreviewRows = 1000

  /** Table name for an uploaded file: `table_<stem, [^a-zA-Z0-9]→_>`
    * (ui/src/App.tsx:470-472,151-152). */
  def tableNameForFile(fileName: String): String = {
    val stem = fileName.replaceAll("\\.[^.]*$", "")
    "table_" + stem.replaceAll("[^a-zA-Z0-9]", "_")
  }

  /** Strip `_csv`/`_xlsx`/`_xls`/`_txt` suffixes from LLM-supplied names
    * (ui/src/App.tsx:762-765,1219-1222). */
  def cleanTableName(name: String): String =
    name.replaceAll("(?i)_(csv|xlsx|xls|txt)$", "")
}
