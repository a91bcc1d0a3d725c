package graft.pipeline

import graft.SparkTestBase
import java.sql.Date
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The driver-side sort fold gives exactly the rows Spark's own global
  * sort gives, with the rule excluded through
  * `spark.sql.optimizer.excludedRules`. Every case ends its keys with the
  * unique `id`, so ties (NaN with NaN, -0.0 with 0.0) have one right order. */
class SortLocalRelationSpec extends SparkTestBase {

  private lazy val ruleOff: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", SortLocalRelation.ruleName)
    s
  }

  private val schema = StructType.fromDDL(
    "id INT, i INT, d DOUBLE, m DECIMAL(10,2), day DATE, s STRING, g STRING")

  private val doubles = Seq(Double.NaN, -0.0, 0.0, 1.5, -1.5, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MinPositiveValue, null)
  private val strings = Seq("b", "B", "", "ä", "a", "ab", "zz", null)

  private val rows: Seq[Row] = (0 until 40).map { id =>
    Row(id,
      if (id % 9 == 0) null else (id * 7) % 5 - 2,
      doubles(id % doubles.size),
      if (id % 11 == 0) null else BigDecimal(((id * 37) % 23 - 11).toString + ".25").bigDecimal,
      if (id % 13 == 0) null else Date.valueOf(s"2024-0${1 + id % 9}-1${id % 10}"),
      strings(id % strings.size),
      Seq("x", "y", null)(id % 3))
  }

  private def frame(s: SparkSession, data: Seq[Row]): DataFrame =
    s.createDataFrame(data.asJava, schema)

  private val cases: Seq[(String, Seq[Column])] = Seq(
    "int ASC (NULLS FIRST)" -> Seq(col("i").asc),
    "int ASC NULLS LAST" -> Seq(col("i").asc_nulls_last),
    "int DESC (NULLS LAST)" -> Seq(col("i").desc),
    "int DESC NULLS FIRST" -> Seq(col("i").desc_nulls_first),
    "double ASC: NaN last, -0.0 = 0.0" -> Seq(col("d").asc),
    "double DESC NULLS FIRST" -> Seq(col("d").desc_nulls_first),
    "decimal DESC" -> Seq(col("m").desc),
    "date ASC NULLS LAST" -> Seq(col("day").asc_nulls_last),
    "string ASC" -> Seq(col("s").asc),
    "string DESC NULLS FIRST" -> Seq(col("s").desc_nulls_first),
    "several keys" -> Seq(col("g").asc_nulls_last, col("i").desc, col("s").asc),
    "expression key" -> Seq((col("i") * col("d")).desc, col("m").asc))

  for ((label, keys) <- cases; data <- Seq(rows, Seq.empty[Row])) {
    test(s"fold equals Spark's sort: $label, ${data.size} rows") {
      def sorted(s: SparkSession) = frame(s, data).orderBy(keys :+ col("id"): _*)
      val on = sorted(spark)
      val off = sorted(ruleOff)
      assert(on.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      // an empty input is folded by Spark itself (PropagateEmptyRelation)
      assert(data.isEmpty || off.queryExecution.optimizedPlan.exists(_.isInstanceOf[Sort]))
      assert(on.collect().map(_.toString).toSeq == off.collect().map(_.toString).toSeq)
      assert(on.schema == off.schema)
    }
  }

  private def relation(n: Int, streaming: Boolean = false): LocalRelation = {
    val a = $"a".int
    LocalRelation(Seq(a), (0 until n).reverse.map(i => InternalRow(i)), streaming)
  }

  private def sortOf(l: LocalRelation): LogicalPlan = Sort(Seq(l.output.head.asc), global = true, l)

  test("a relation of PreviewRows rows is folded, one more row is not") {
    val fits = SortLocalRelation(sortOf(relation(PipelineExecutor.PreviewRows)))
    assert(fits.isInstanceOf[LocalRelation])
    assert(fits.asInstanceOf[LocalRelation].data.map(_.getInt(0)) ==
      (0 until PipelineExecutor.PreviewRows))
    val over = sortOf(relation(PipelineExecutor.PreviewRows + 1))
    assert(SortLocalRelation(over) eq over)
  }

  test("a streaming relation and a sort within partitions are never folded") {
    val streaming = sortOf(relation(3, streaming = true))
    assert(SortLocalRelation(streaming) eq streaming)
    val l = relation(3)
    val local = Sort(Seq(l.output.head.asc), global = false, l)
    assert(SortLocalRelation(local) eq local)
  }
}
