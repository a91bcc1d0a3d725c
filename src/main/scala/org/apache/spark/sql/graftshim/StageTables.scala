package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.command.ViewHelper

/**
 * The Catalyst side of graft's table registry (`graft.pipeline.PipelineExecutor`,
 * `graft.sources.Ingest`).
 * Lives here for the `private[sql]` `Dataset.ofRows`, which makes a
 * `DataFrame` straight from a `LogicalPlan` without re-deriving its output
 * attributes, and for the session catalog's temp views.
 */
object StageTables {

  /** A relation over `rows` that keeps `plan`'s own output attributes
    * (names, types, nullability, exprIds), so it can stand in for `plan`
    * inside any tree that references them. Rows are stored as compact
    * `UnsafeRow` copies. */
  def localRelation(plan: LogicalPlan, rows: Seq[Row]): LocalRelation = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(plan.schema)
    val toUnsafe = UnsafeProjection.create(plan.schema)
    LocalRelation(plan.output,
      rows.map(r => toUnsafe(toCatalyst(r).asInstanceOf[InternalRow]).copy()))
  }

  /** A `DataFrame` over an already-built `plan`. */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df.createOrReplaceTempView(name)` without its command execution:
    * the same `TemporaryViewRelation` (and uncaching of a replaced view
    * whose result differs) put straight into the session catalog. The
    * command path costs 7–10 ms of driver time per view (its SQL-execution
    * events and plan strings), which a pipeline pays for every upload and
    * stage. */
  def replaceTempView(df: DataFrame, name: String): Unit = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val catalog = spark.sessionState.catalog
    val plan = df.queryExecution.analyzed
    catalog.createTempView(name, ViewHelper.createTemporaryViewRelation(
      TableIdentifier(name), spark, replace = true, catalog.getRawTempView,
      originalText = None, analyzedPlan = plan, aliasedPlan = plan,
      referredTempFunctions = Nil), overrideIfExists = true)
  }
}
