package perfbench

import graft.operators.Expect
import graft.pipeline.{ErrorPolicy, PipelineExecutor}
import graft.planner.TransformResponse
import graft.sources.{Ingest, Writer}
import java.math.{BigDecimal => JBigDecimal}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, sum}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * The ETL part of [[Batch]]: TPC-H-shaped tables run through multi-stage
 * planner flows to completion, and results are published. Each iteration reads
 * the tables afresh, runs four flows (the 6-stage LLM flow, the golden
 * join flow, a lineitem join/group and a union), then publishes an
 * enriched lineitem with `Writer.writePartitioned` and an order extract
 * with `Writer.writeAuditPublish`.
 */
object Etl {
  val Customers = 5000
  val Orders = 50000
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val OrderFiles = 2
  val LineitemFiles = 4
  /** 1998-08-01: the shipdate cut of the lineitem flow. */
  val ShipCut: Int = java.time.LocalDate.of(1998, 8, 1).toEpochDay.toInt
  val PriceCut = 150000L * 100
  val UnionPriceCut = 300000L * 100

  private val CustomerSchema = MessageTypeParser.parseMessageType(
    """message customer { required int64 c_custkey; required binary c_name (UTF8);
      |required int32 c_nationkey; required binary c_mktsegment (UTF8);
      |required int64 c_acctbal (DECIMAL(12,2)); }""".stripMargin)
  private val OrderSchema = MessageTypeParser.parseMessageType(
    """message orders { required int64 o_orderkey; required int64 o_custkey;
      |required binary o_orderstatus (UTF8); required int64 o_totalprice (DECIMAL(12,2));
      |required int32 o_orderdate (DATE); required binary o_orderpriority (UTF8); }""".stripMargin)
  private val LineitemSchema = MessageTypeParser.parseMessageType(
    """message lineitem { required int64 l_orderkey; required int32 l_linenumber;
      |required int64 l_quantity (DECIMAL(12,2)); required int64 l_extendedprice (DECIMAL(12,2));
      |required int64 l_discount (DECIMAL(12,2)); required binary l_returnflag (UTF8);
      |required binary l_linestatus (UTF8); required int32 l_shipdate (DATE); }""".stripMargin)

  /** Ground truth, accumulated in plain Scala while the rows are made.
    * Money is in cents. */
  final class Truth {
    var customers, orders, lineitems = 0L
    val segRevenue = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val segCount = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val urgentByNation = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val flagQty = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    val flagPrice = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    val flagCount = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    var unionCount, unionTotal = 0L
    var lineitemPrice, orderPrice = 0L
  }

  private def writer(path: Path, schema: MessageType) =
    ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path.toUri))
      .withType(schema).withConf(new Configuration())
      .withRowGroupSize(256L << 10).withPageSize(64 << 10)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()

  /** Generates the tables (when `dir` is given) and always the truth. */
  def make(dir: Option[Path], seed: Long): Truth = {
    val t = new Truth
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 7)
    dir.foreach(d => Seq("customer", "orders", "lineitem").foreach(x => Files.createDirectories(d.resolve(x))))
    val seg = new Array[String](Customers + 1)
    val nation = new Array[Int](Customers + 1)
    val cw = dir.map(d => writer(d.resolve("customer/part-0.parquet"), CustomerSchema))
    val cf = new SimpleGroupFactory(CustomerSchema)
    for (k <- 1 to Customers) {
      seg(k) = Segments(r.nextInt(Segments.size)); nation(k) = r.nextInt(25)
      val bal = r.nextLong(-99999L, 999999L)
      cw.foreach(_.write(cf.newGroup().append("c_custkey", k.toLong)
        .append("c_name", f"Customer#$k%09d").append("c_nationkey", nation(k))
        .append("c_mktsegment", seg(k)).append("c_acctbal", bal)))
      t.customers += 1
    }
    cw.foreach(_.close())
    val of = new SimpleGroupFactory(OrderSchema)
    val lf = new SimpleGroupFactory(LineitemSchema)
    val ows = dir.map(d => (0 until OrderFiles).map(i => writer(d.resolve(s"orders/part-$i.parquet"), OrderSchema)))
    val lws = dir.map(d => (0 until LineitemFiles).map(i => writer(d.resolve(s"lineitem/part-$i.parquet"), LineitemSchema)))
    val day0 = java.time.LocalDate.of(1992, 1, 1).toEpochDay.toInt
    for (ok <- 1 to Orders) {
      val cust = 1 + r.nextInt(Customers)
      val odate = day0 + r.nextInt(2400)
      val prio = Priorities(r.nextInt(Priorities.size))
      val nLines = 1 + r.nextInt(7)
      var total = 0L
      var allF = true; var allO = true
      val lines = (1 to nLines).map { ln =>
        val qty = 1 + r.nextInt(50)
        val price = qty * r.nextLong(90000L, 210000L) / 100 // cents
        val disc = r.nextInt(11).toLong
        val ship = odate + 1 + r.nextInt(120)
        val shipped = ship <= ShipCut + 30
        val flag = if (shipped) (if (r.nextInt(4) == 0) "R" else "A") else "N"
        val status = if (shipped) "F" else "O"
        if (!shipped) allF = false else allO = false
        total += price * (100 - disc) / 100
        (ln, qty.toLong * 100, price, disc, flag, status, ship)
      }
      val ostatus = if (allF) "F" else if (allO) "O" else "P"
      ows.foreach(_(ok % OrderFiles).write(of.newGroup().append("o_orderkey", ok.toLong)
        .append("o_custkey", cust.toLong).append("o_orderstatus", ostatus)
        .append("o_totalprice", total).append("o_orderdate", odate)
        .append("o_orderpriority", prio)))
      t.orders += 1
      t.orderPrice += total
      if (total > PriceCut) { t.segRevenue(seg(cust)) += total; t.segCount(seg(cust)) += 1 }
      if (prio == "1-URGENT") t.urgentByNation(nation(cust)) += 1
      if (ostatus == "F" || total > UnionPriceCut) { t.unionCount += 1; t.unionTotal += total }
      lines.foreach { case (ln, qty, price, disc, flag, status, ship) =>
        lws.foreach(_(ok % LineitemFiles).write(lf.newGroup().append("l_orderkey", ok.toLong)
          .append("l_linenumber", ln).append("l_quantity", qty).append("l_extendedprice", price)
          .append("l_discount", disc).append("l_returnflag", flag).append("l_linestatus", status)
          .append("l_shipdate", ship)))
        t.lineitems += 1
        t.lineitemPrice += price
        if (ship <= ShipCut) {
          t.flagQty((flag, status)) += qty; t.flagPrice((flag, status)) += price
          t.flagCount((flag, status)) += 1
        }
      }
    }
    ows.foreach(_.foreach(_.close())); lws.foreach(_.foreach(_.close()))
    // the local filesystem's checksum side files are not inputs
    dir.foreach(d => Files.walk(d).iterator.asScala.filter(_.toString.endsWith(".crc")).toSeq
      .foreach(Files.delete))
    t
  }

  def generate(dir: Path, seed: Long): Unit = make(Some(dir), seed)

  // ---------------------------------------------------------------- flows

  private def stages(json: String, ex: PipelineExecutor) =
    TransformResponse.toPlan(TransformResponse.parse(json),
      name => scala.util.Try(ex.table(name).columns.toSeq).toOption).stages

  private def money(c: Long) = f"${c / 100}.${c % 100}%02d"

  val llmFlow: String =
    s"""{"isValid": true, "explanation": "revenue by market segment",
      | "transformationStages": [
      |  {"type": "JOIN", "description": "join orders with customers", "data": {"leftTable": "orders",
      |   "rightTable": "customer", "leftKey": "o_custkey", "rightKey": "c_custkey", "joinType": "INNER"}},
      |  {"type": "FILTER", "description": "keep high value orders",
      |   "data": {"column": "o_totalprice", "operator": ">", "value": "${money(PriceCut)}"}},
      |  {"type": "GROUP", "description": "revenue by market segment", "data": {"groupBy": ["c_mktsegment"],
      |   "aggregations": [{"function": "SUM", "column": "o_totalprice", "alias": "revenue"},
      |                    {"function": "COUNT", "column": "*", "alias": "n_orders"}]}},
      |  {"type": "SORT", "description": "largest first", "data": {"orderBy": [{"column": "revenue", "direction": "DESC"}]}},
      |  {"type": "SELECT", "description": "final columns", "data": {"columns": ["c_mktsegment", "revenue", "n_orders"]}},
      |  {"type": "CUSTOM", "description": "segment share", "data": {"sql":
      |   "SELECT c_mktsegment, revenue, n_orders, round(revenue / sum(revenue) OVER (), 4) AS share FROM result_stage_5_select"}}
      |]}""".stripMargin

  val goldenFlow: String =
    """{"isValid": true, "explanation": "golden join", "transformationStages": [
      |  {"type": "JOIN", "description": "join orders with customers", "data": {"leftTable": "orders",
      |   "rightTable": "customer", "leftKey": "o_custkey", "rightKey": "c_custkey", "joinType": "INNER"}},
      |  {"type": "FILTER", "description": "urgent priority only",
      |   "data": {"column": "o_orderpriority", "operator": "=", "value": "1-URGENT"}},
      |  {"type": "GROUP", "description": "orders per nation", "data": {"groupBy": ["c_nationkey"],
      |   "aggregations": [{"function": "COUNT", "column": "*", "alias": "n"}]}}
      |]}""".stripMargin

  val lineitemFlow: String =
    s"""{"isValid": true, "explanation": "pricing summary", "transformationStages": [
      |  {"type": "JOIN", "description": "lineitems with their orders", "data": {"leftTable": "lineitem",
      |   "rightTable": "orders", "leftKey": "l_orderkey", "rightKey": "o_orderkey", "joinType": "INNER"}},
      |  {"type": "FILTER", "description": "shipped by the cut",
      |   "data": {"column": "l_shipdate", "operator": "<=", "value": "${java.time.LocalDate.ofEpochDay(ShipCut)}"}},
      |  {"type": "GROUP", "description": "by flag and status", "data": {"groupBy": ["l_returnflag", "l_linestatus"],
      |   "aggregations": [{"function": "SUM", "column": "l_quantity", "alias": "sum_qty"},
      |                    {"function": "SUM", "column": "l_extendedprice", "alias": "sum_price"},
      |                    {"function": "COUNT", "column": "*", "alias": "n"}]}}
      |]}""".stripMargin

  val unionFlow: String =
    s"""{"isValid": true, "explanation": "finished or large orders", "transformationStages": [
      |  {"type": "FILTER", "description": "finished", "data": {"table": "orders",
      |   "column": "o_orderstatus", "operator": "=", "value": "F"}},
      |  {"type": "FILTER", "description": "large", "data": {"table": "orders",
      |   "column": "o_totalprice", "operator": ">", "value": "${money(UnionPriceCut)}"}},
      |  {"type": "UNION", "description": "either", "data": {"unionType": "UNION",
      |   "tables": ["result_stage_1_filter", "result_stage_2_filter"]}},
      |  {"type": "AGGREGATE", "description": "count and total", "data": {"aggregations": [
      |   {"function": "COUNT", "column": "*", "alias": "n"},
      |   {"function": "SUM", "column": "o_totalprice", "alias": "total"}]}}
      |]}""".stripMargin

  /** (flow, reply, tables read) */
  private val flows = Seq(
    ("llm_6stage", llmFlow, Seq("orders", "customer")),
    ("golden_join", goldenFlow, Seq("orders", "customer")),
    ("lineitem_group", lineitemFlow, Seq("lineitem", "orders")),
    ("union", unionFlow, Seq("orders")))

  @volatile private var truth: Truth = _
  private val results = new java.util.concurrent.ConcurrentLinkedQueue[(String, Array[Row])]()
  @volatile private var tableRows: Map[String, Long] = Map.empty
  @volatile private var tableBytes: Map[String, Long] = Map.empty

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Ground truth and input sizes for the tables under `inputs`. */
  def prepare(ctx: Ctx, inputs: Path): Unit = {
    truth = make(None, ctx.seed)
    tableRows = Map("customer" -> truth.customers, "orders" -> truth.orders,
      "lineitem" -> truth.lineitems)
    tableBytes = tableRows.keys.map(t => t -> dirBytes(inputs.resolve(t))).toMap
  }

  /** Forget the flow results kept so far (those of warm-up iterations). */
  def clearResults(): Unit = results.clear()

  def iteration(ctx: Ctx, inputs: Path, phase: Phase): Unit = {
    val tr = ctx.trace
    val spark = ctx.spark
    tr.setSession(phase.ops.get + 1)
    tr.span("iteration") {
      val ex = new PipelineExecutor(spark)
      Seq("customer", "orders", "lineitem").foreach { t =>
        phase.attempt(s"ingest $t") {
          val t0 = System.nanoTime()
          tr.span("sources.parquet_load") {
            ex.register(t, Ingest.parquet(spark, inputs.resolve(t).toString))
            ex.preview(t)
          }
          phase.ingests.add(Stats.ms(t0, System.nanoTime()))
        }
      }
      flows.foreach { case (name, reply, reads) =>
        phase.attempt(s"flow $name") {
          val t0 = System.nanoTime()
          val rows = tr.span("step") {
            val fx = new PipelineExecutor(spark)
            reads.foreach(t => fx.register(t, ex.table(t)))
            val plan = tr.span("pipeline.repair")(stages(reply, fx))
            val rs = tr.span("pipeline.execute")(fx.execute(plan, ErrorPolicy.Abort))
            rs.foreach(_.error.foreach(e => throw e))
            tr.span("pipeline.collect")(fx.table(rs.last.tableName).collect())
          }
          phase.steps.add(Stats.ms(t0, System.nanoTime()))
          phase.inputRows.addAndGet(reads.map(tableRows).sum)
          results.add(name -> rows)
        }
      }
      val out = ctx.work.resolve("published")
      publish(ctx, phase, "lineitem_enriched", Seq("lineitem", "orders"), out.resolve("lineitem_enriched")) { path =>
        val enriched = ex.table("lineitem")
          .join(ex.table("orders"), col("l_orderkey") === col("o_orderkey"))
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
            "l_returnflag", "l_shipdate", "o_orderdate", "o_orderpriority")
        Writer.writePartitioned(enriched, path, partitionBy = Seq("l_returnflag"),
          sortWithin = Seq("l_shipdate"), maxRecordsPerFile = 50000L)
      }
      publish(ctx, phase, "orders_audited", Seq("orders", "customer"), out.resolve("orders_audited")) { path =>
        val extract = ex.table("orders")
          .join(ex.table("customer"), col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
            "c_mktsegment", "c_nationkey")
        Writer.writeAuditPublish(extract, path, Seq(Expect.notNull("o_orderkey"),
          Expect.inRange("o_totalprice", 0, 1e9), Expect.oneOf("o_orderstatus", Seq("F", "O", "P"))),
          partitionBy = Seq("o_orderstatus"))
      }
      phase.ops.incrementAndGet()
    }
  }

  private def publish(ctx: Ctx, phase: Phase, name: String, reads: Seq[String], dest: Path)
                     (write: String => Unit): Unit =
    phase.attempt(s"publish $name") {
      val t0 = System.nanoTime()
      ctx.trace.span("step")(ctx.trace.span("sources.write")(write(dest.toString)))
      val t1 = System.nanoTime()
      phase.steps.add(Stats.ms(t0, t1))
      phase.inputRows.addAndGet(reads.map(tableRows).sum)
      val files = Files.walk(dest).iterator.asScala.filter(p =>
        Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).toSeq
      phase.addExtra("publishes", 1)
      phase.addExtra("files_written", files.size)
      phase.addExtra("bytes_written", files.map(Files.size).sum.toDouble)
      phase.addExtra("bytes_read_for_write", reads.map(tableBytes).sum.toDouble)
      phase.addExtra("write_ms", Stats.ms(t0, t1))
    }

  // ---------------------------------------------------------- verification

  private def cents(v: Any): Long = v match {
    case d: JBigDecimal => d.movePointRight(2).longValueExact
    case n: java.lang.Long => n
    case n: java.lang.Integer => n.toLong
  }

  private def num(v: Any): Double = v match {
    case d: JBigDecimal => d.doubleValue
    case d: java.lang.Double => d
  }

  def verify(ctx: Ctx, phase: Phase): Unit = {
    val t = truth
    results.forEach { case (name, rows) =>
      val ok = name match {
        case "llm_6stage" =>
          val got = rows.map(r => r.getString(0) -> (cents(r.get(1)), r.getLong(2))).toMap
          val total = t.segRevenue.values.sum.toDouble
          got == t.segRevenue.keys.map(s => s -> (t.segRevenue(s), t.segCount(s))).toMap &&
            rows.forall(r => math.abs(num(r.get(3)) - cents(r.get(1)) / total) < 1e-4)
        case "golden_join" =>
          rows.map(r => r.getInt(0) -> r.getLong(1)).toMap == t.urgentByNation.toMap
        case "lineitem_group" =>
          rows.map(r => (r.getString(0), r.getString(1)) -> (cents(r.get(2)), cents(r.get(3)), r.getLong(4))).toMap ==
            t.flagCount.keys.map(k => k -> (t.flagQty(k), t.flagPrice(k), t.flagCount(k))).toMap
        case "union" =>
          rows.length == 1 && rows(0).getLong(0) == t.unionCount && cents(rows(0).get(1)) == t.unionTotal
      }
      phase.check(s"flow $name matches truth")(ok)
    }
    val out = ctx.work.resolve("published")
    val li = ctx.spark.read.parquet(out.resolve("lineitem_enriched").toString)
      .agg(org.apache.spark.sql.functions.count("*"), sum("l_extendedprice")).head()
    phase.check("published lineitem_enriched: rows and price checksum")(
      li.getLong(0) == t.lineitems && cents(li.get(1)) == t.lineitemPrice)
    val od = ctx.spark.read.parquet(out.resolve("orders_audited").toString)
      .agg(org.apache.spark.sql.functions.count("*"), sum("o_totalprice")).head()
    phase.check("published orders_audited: rows and price checksum")(
      od.getLong(0) == t.orders && cents(od.get(1)) == t.orderPrice)
    phase.check("orders_audited carries its audit report")(
      Files.exists(out.resolve("orders_audited/_AUDIT.json")))
  }

  def report(phase: Phase): Map[String, Any] = {
    def x(k: String) = Option(phase.extra.get(k)).map(_.doubleValue).getOrElse(0.0)
    Map("publish_mb_per_s" -> x("bytes_written") / 1048576.0 / (x("write_ms") / 1000.0),
      "input_rows" -> Map("customer" -> Customers, "orders" -> Orders, "lineitem" -> tableRows.getOrElse("lineitem", 0L)))
  }
}
