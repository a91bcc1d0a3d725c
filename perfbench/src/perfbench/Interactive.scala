package perfbench

import graft.compile.StageCompiler
import graft.model._
import graft.pipeline.{ErrorPolicy, PipelineExecutor}
import graft.planner.TransformResponse
import graft.sources.Ingest
import graft.sql.SqlStageParser
import graft.viz.ChartConfig
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.collection.mutable

/** An in-memory table: the generator's rows, and the evaluator's results. */
final case class Tbl(cols: IndexedSeq[String], rows: IndexedSeq[IndexedSeq[Any]]) {
  def idx(c: String): Int = {
    val i = cols.indexOf(c)
    require(i >= 0, s"no column $c in ${cols.mkString(",")}")
    i
  }
}

/**
 * `interactive`: the paper's analyst loop. `cores` clients, each on its own
 * `SparkSession.newSession()` of one shared SparkContext (isolated temp
 * views, shared scheduler), run user sessions back to back: upload two
 * CSVs and preview them, decode a planner reply, repair or SQL-parse it,
 * execute the stages and preview + describe each, suggest a chart, export
 * the flow, and for a third of sessions edit the last stage and re-run it
 * in place.
 */
object Interactive extends Workload {
  // ------------------------------------------------------------ generator

  val Pairs = 12
  val MinRows = 1000
  val MaxRows = 20000
  val Regions = Vector("North", "South", "East", "West", "Central, Metro")
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Statuses = Vector("shipped", "pending", "returned", "cancelled", "on \"hold\"")
  val Categories = Vector("Electronics", "Home, Garden", "Toys", "Books", "Sports \"Pro\"")
  private val Last = Vector("Smith", "Garcia", "O'Neil", "Nguyen", "Müller", "Okafor", "Ivanova", "Tanaka")
  private val First = Vector("Ann", "Bo", "Chidi", "Dana", "Eli \"Red\"", "Fatima", "Goran", "Hana")

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Orders rows of pair `k`: log-spaced from MinRows to MaxRows in k,
    * with ±3% seeded jitter, so every seed has the same size mix. */
  def orderRows(seed: Long, k: Int): Int = {
    val base = MinRows * math.pow(MaxRows.toDouble / MinRows, k.toDouble / (Pairs - 1))
    (base * (0.97 + 0.06 * rng(seed, 100 + k).nextDouble())).toInt
  }

  /** The order sessions visit the pairs in: sizes interleaved so that any
    * run of consecutive sessions mixes small, medium and large uploads. */
  val PairOrder = Vector(0, 11, 5, 8, 2, 10, 4, 7, 1, 9, 3, 6)

  def permutation(n: Int, r: SplittableRandom): Vector[Int] = {
    val a = (0 until n).toArray
    for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toVector
  }

  def pairTables(seed: Long, k: Int): (Tbl, Tbl) = {
    val r = rng(seed, 1000 + k)
    val nOrders = orderRows(seed, k)
    val nCust = math.max(50, nOrders / 8)
    val customers = (1 to nCust).map { id =>
      IndexedSeq[Any](id.toLong, s"${Last(r.nextInt(Last.size))}, ${First(r.nextInt(First.size))}",
        Regions(r.nextInt(Regions.size)), Segments(r.nextInt(Segments.size)), (1 + r.nextInt(5)).toLong)
    }
    val orders = (1 to nOrders).map { id =>
      IndexedSeq[Any](id.toLong, (1 + r.nextInt(nCust)).toLong, (1 + r.nextInt(5000)).toLong,
        (1 + r.nextInt(50)).toLong, Statuses(r.nextInt(Statuses.size)),
        Categories(r.nextInt(Categories.size)),
        f"2024-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d",
        s"""Deliver to "dock ${r.nextInt(40)}", gate ${r.nextInt(9)}, floor ${r.nextInt(30)}""")
    }
    (Tbl(Vector("order_id", "customer_id", "amount", "quantity", "status", "category",
        "order_date", "note"), orders),
     Tbl(Vector("customer_id", "name", "region", "segment", "tier"), customers))
  }

  /** RFC-4180: quote a field holding a comma, quote or line break; double
    * embedded quotes. */
  def csv(t: Tbl): String = {
    def field(v: Any): String = {
      val s = v.toString
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }
    val b = new StringBuilder
    b ++= t.cols.map(field).mkString(",") += '\n'
    t.rows.foreach(row => b ++= row.map(field).mkString(",") += '\n')
    b.toString
  }

  def ordersFile(k: Int) = f"orders_$k%02d.csv"
  def customersFile(k: Int) = f"customers_$k%02d.csv"

  override def generate(dir: Path, seed: Long): Unit =
    (0 until Pairs).foreach { k =>
      val (o, c) = pairTables(seed, k)
      Files.writeString(dir.resolve(ordersFile(k)), csv(o))
      Files.writeString(dir.resolve(customersFile(k)), csv(c))
    }

  // ------------------------------------------------------ session plans

  final case class Cond(col: String, op: String, value: String, logic: Option[String] = None)
  final case class Agg(fn: String, col: String, alias: String)

  /** The generator's own description of a stage; it renders to the planner
    * wire format and is what the evaluator computes the truth from. */
  sealed trait Op { def tpe: String }
  final case class OLoad(table: String, file: String) extends Op { val tpe = "LOAD" }
  final case class OJoin(l: String, r: String, key: String) extends Op { val tpe = "JOIN" }
  final case class OFilter(table: Option[String], conds: Seq[Cond]) extends Op { val tpe = "FILTER" }
  final case class OUnion(tables: Seq[String]) extends Op { val tpe = "UNION" }
  final case class OSelect(cols: Seq[String]) extends Op { val tpe = "SELECT" }
  final case class OSort(col: String, desc: Boolean) extends Op { val tpe = "SORT" }
  final case class OGroup(by: Seq[String], aggs: Seq[Agg]) extends Op { val tpe = "GROUP" }
  final case class OAggregate(aggs: Seq[Agg]) extends Op { val tpe = "AGGREGATE" }
  final case class OCustomGroup(from: String, by: String) extends Op {
    val tpe = "CUSTOM"
    def sql = s"SELECT $by, COUNT(*) AS n, SUM(amount) AS total FROM $from GROUP BY $by"
  }

  final case class SessionSpec(index: Int, pair: Int, ops: Seq[Op], sqlOnly: Boolean,
                               edit: Option[Op]) {
    def orders: String = PipelineExecutor.tableNameForFile(ordersFile(pair))
    def customers: String = PipelineExecutor.tableNameForFile(customersFile(pair))
  }

  def resultName(i: Int, op: Op): String = s"result_stage_${i}_${op.tpe.toLowerCase}"

  private val JoinedGroupCols = Vector("region", "segment", "status", "category")

  /** Session `j`: the template (j mod 5) and the CSV pair (j mod 12, in
    * [[PairOrder]]) do not depend on the seed, so runs on different seeds
    * do the same mix of work; the seed picks stage parameters and data. */
  def sessionSpec(seed: Long, j: Int): SessionSpec = {
    val template = j % 5
    val pair = PairOrder(j % Pairs)
    val r = rng(seed, 70000 + j)
    val o = PipelineExecutor.tableNameForFile(ordersFile(pair))
    val c = PipelineExecutor.tableNameForFile(customersFile(pair))
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    val ops = mutable.ArrayBuffer.empty[Op]
    template match {
      case 0 => // LOAD? → JOIN → FILTER? → GROUP → SORT?
        val withLoad = r.nextBoolean(); val withFilter = r.nextBoolean()
        val withSort = !withFilter || r.nextBoolean()
        if (withLoad) ops += OLoad(o, ordersFile(pair))
        ops += OJoin(o, c, "customer_id")
        if (withFilter) ops += OFilter(None, Seq(Cond("amount", ">", (500 + r.nextInt(3500)).toString)))
        ops += OGroup(Seq(pick(JoinedGroupCols)), Seq(Agg("SUM", "amount", "total"),
          Agg("COUNT", "*", "n"), Agg("MAX", "quantity", "max_q")))
        if (withSort) ops += OSort("total", desc = true)
      case 1 => // FILTER ∪ FILTER → AGGREGATE
        if (r.nextBoolean()) ops += OLoad(o, ordersFile(pair))
        ops += OFilter(Some(o), Seq(Cond("status", "=", pick(Statuses))))
        val f1 = resultName(ops.size, ops.last)
        ops += OFilter(Some(o), Seq(Cond("amount", ">", (3000 + r.nextInt(1900)).toString)))
        val f2 = resultName(ops.size, ops.last)
        ops += OUnion(Seq(f1, f2))
        ops += OAggregate(Seq(Agg("COUNT", "*", "n"), Agg("SUM", "amount", "total"),
          Agg("MAX", "amount", "max_amount")))
      case 2 => // FILTER IN → SELECT → SORT → CUSTOM SQL
        if (r.nextBoolean()) ops += OLoad(c, customersFile(pair))
        val cats = permutation(Categories.size, r).take(2 + r.nextInt(2)).map(Categories)
        ops += OFilter(Some(o), Seq(Cond("category", "IN",
          cats.map(x => "'" + x.replace("'", "''") + "'").mkString("(", ",", ")"))))
        ops += OSelect(Seq("order_id", "customer_id", "category", "amount", "quantity"))
        ops += OSort("amount", desc = true)
        ops += OCustomGroup(resultName(ops.size, ops.last), "category")
      case 3 => // JOIN → FILTER (AND/OR list) → GROUP by two → SORT?
        ops += OJoin(o, c, "customer_id")
        ops += OFilter(None, Seq(Cond("region", "!=", pick(Regions)),
          Cond("status", "LIKE", pick(Seq("p%", "s%", "c%", "on%"))),
          Cond("tier", ">=", (2 + r.nextInt(3)).toString, Some("OR"))))
        ops += OGroup(Seq("segment", "tier"), Seq(Agg("AVG", "quantity", "avg_qty"),
          Agg("SUM", "amount", "total"), Agg("COUNT", "*", "n")))
        if (r.nextBoolean()) ops += OSort("total", desc = false)
      case 4 => // SQL only: JOIN → GROUP → SORT through SqlStageParser
        ops += OJoin(o, c, "customer_id")
        ops += OGroup(Seq(pick(JoinedGroupCols)), Seq(Agg("SUM", "amount", "total"),
          Agg("COUNT", "*", "n")))
        ops += OSort("total", desc = true)
    }
    val edit = if (j % 3 != 0) None else (ops.last match {
      case g: OGroup if g.by.size == 1 => Some(g.copy(by = Seq(JoinedGroupCols.filterNot(g.by.contains)(r.nextInt(3)))))
      case g: OGroup => Some(g.copy(by = Seq("segment")))
      case _: OAggregate => Some(OAggregate(Seq(Agg("MIN", "amount", "lo"),
        Agg("AVG", "quantity", "avg_qty"), Agg("COUNT", "*", "n"))))
      case cg: OCustomGroup => Some(cg.copy(by = "quantity"))
      case s: OSort => Some(s.copy(desc = !s.desc))
      case _ => None
    })
    SessionSpec(j, pair, ops.toSeq, template == 4, edit)
  }

  /** The planner reply, in the `/api/transform` wire shape. */
  def response(s: SessionSpec): String = {
    val body: List[JField] =
      if (s.sqlOnly) {
        val g = s.ops.collectFirst { case g: OGroup => g }.get
        List("sql" -> JString(s"SELECT ${g.by.head}, SUM(amount) AS total, COUNT(*) AS n " +
          s"FROM ${s.orders} o JOIN ${s.customers} c ON o.customer_id = c.customer_id " +
          s"GROUP BY ${g.by.head} ORDER BY total DESC"))
      } else List("transformationStages" -> JArray(s.ops.toList.map(stageJson)))
    JsonMethods.compact(JsonMethods.render(JObject(List[JField](
      "isValid" -> JBool(true),
      "explanation" -> JString(s"session ${s.index}"),
      "chartType" -> JString("bar")) ++ body)))
  }

  private def aggsJson(aggs: Seq[Agg]): JValue = JArray(aggs.toList.map(a =>
    JObject("function" -> JString(a.fn), "column" -> JString(a.col), "alias" -> JString(a.alias))))

  private def stageJson(op: Op): JValue = {
    val data: List[JField] = op match {
      case OLoad(t, f) => List("tableName" -> JString(t), "fileName" -> JString(f))
      case OJoin(l, r, k) => List("leftTable" -> JString(l), "rightTable" -> JString(r),
        "leftKey" -> JString(k), "rightKey" -> JString(k), "joinType" -> JString("INNER"))
      case OFilter(t, Seq(c)) => t.map(x => "table" -> JString(x)).toList ++ List(
        "column" -> JString(c.col), "operator" -> JString(c.op), "value" -> JString(c.value))
      case OFilter(t, cs) => t.map(x => "table" -> JString(x)).toList :+ ("conditions" ->
        JArray(cs.toList.map(c => JObject(List[JField]("column" -> JString(c.col),
          "operator" -> JString(c.op), "value" -> JString(c.value))
          ++ c.logic.map(l => "logic" -> JString(l))))))
      case OUnion(ts) => List("unionType" -> JString("UNION"), "tables" -> JArray(ts.toList.map(JString)))
      case OSelect(cols) => List("columns" -> JArray(cols.toList.map(JString)))
      case OSort(col, desc) => List("orderBy" -> JArray(List(JObject(
        "column" -> JString(col), "direction" -> JString(if (desc) "DESC" else "ASC")))))
      case OGroup(by, aggs) => List("groupBy" -> JArray(by.toList.map(JString)), "aggregations" -> aggsJson(aggs))
      case OAggregate(aggs) => List("aggregations" -> aggsJson(aggs))
      case cg: OCustomGroup => List("sql" -> JString(cg.sql))
    }
    JObject("type" -> JString(op.tpe), "description" -> JString(op.tpe.toLowerCase + " step"),
      "data" -> JObject(data))
  }

  /** The edited stage, as the program's stage type. */
  def editedStage(stage: Stage, edit: Op): Stage = (stage, edit) match {
    case (g: GroupStage, e: OGroup) => g.copy(groupBy = e.by)
    case (a: AggregateStage, e: OAggregate) =>
      a.copy(aggregations = e.aggs.map(x => Aggregation(x.fn, x.col, Some(x.alias))))
    case (c: CustomStage, e: OCustomGroup) => c.copy(sql = e.sql)
    case (s: SortStage, e: OSort) => s.copy(orderBy = Seq(SortKey(e.col, if (e.desc) "DESC" else "ASC")))
    case _ => throw new IllegalStateException(s"cannot apply edit $edit to ${stage.stageType}")
  }

  // ------------------------------------------------------------ evaluator

  /** Ground truth for a session's last stage, in plain Scala, following the
    * executor's naming and default-input rules. */
  def evaluate(s: SessionSpec, ops: Seq[Op], base: Map[String, Tbl]): Tbl = {
    val reg = mutable.Map.from(base)
    var last: Option[String] = None
    var result: Tbl = null
    def input(t: Option[String]): Tbl = reg(t.orElse(last).getOrElse(s.orders))
    ops.zipWithIndex.foreach { case (op, i) =>
      result = op match {
        case OLoad(t, _) => reg(t)
        case OJoin(l, r, k) =>
          val (lt, rt) = (reg(l), reg(r))
          val rk = rt.idx(k)
          val keep = rt.cols.indices.filter(_ != rk)
          val byKey = rt.rows.groupBy(_(rk))
          Tbl(lt.cols ++ keep.map(rt.cols), lt.rows.flatMap { lr =>
            byKey.getOrElse(lr(lt.idx(k)), Nil).map(rr => lr ++ keep.map(rr))
          })
        case OFilter(t, conds) =>
          val in = input(t)
          val groups = conds.foldLeft(List.empty[List[Cond]]) { (acc, c) =>
            if (acc.isEmpty || c.logic.contains("OR")) List(c) :: acc else (c :: acc.head) :: acc.tail
          }
          in.copy(rows = in.rows.filter(row => groups.exists(_.forall(c => holds(in, row, c)))))
        case OUnion(ts) =>
          val parts = ts.map(reg)
          Tbl(parts.head.cols, parts.flatMap(_.rows).distinct.toIndexedSeq)
        case OSelect(cols) =>
          val in = input(None)
          Tbl(cols.toIndexedSeq, in.rows.map(r => cols.toIndexedSeq.map(c => r(in.idx(c)))))
        case OSort(col, desc) =>
          val in = input(None)
          val ix = in.idx(col)
          val sorted = in.rows.sortWith((a, b) => compare(a(ix), b(ix)) < 0)
          in.copy(rows = if (desc) sorted.reverse else sorted)
        case OGroup(by, aggs) => group(input(None), by, aggs)
        case OAggregate(aggs) => group(input(None), Nil, aggs)
        case OCustomGroup(from, by) =>
          group(reg(from), Seq(by), Seq(Agg("COUNT", "*", "n"), Agg("SUM", "amount", "total")))
      }
      op match {
        case _: OLoad =>
        case _ =>
          reg(resultName(i + 1, op)) = result
          last = Some(resultName(i + 1, op))
      }
    }
    result
  }

  private def holds(t: Tbl, row: IndexedSeq[Any], c: Cond): Boolean = {
    val v = row(t.idx(c.col))
    def num = c.value.toLong
    (c.op, v) match {
      case ("IN", s) => graftList(c.value).contains(s.toString)
      case ("LIKE", s) =>
        val p = c.value
        if (p.endsWith("%")) s.toString.startsWith(p.dropRight(1)) else s.toString == p
      case (op, n: Long) => op match {
        case "=" => n == num; case "!=" => n != num; case ">" => n > num
        case "<" => n < num; case ">=" => n >= num; case "<=" => n <= num
      }
      case ("=", s) => s == c.value
      case ("!=", s) => s != c.value
      case (op, _) => throw new IllegalArgumentException(s"evaluator: unsupported $op on ${c.col}")
    }
  }

  /** `('a','b')` → items, '' unescaped. */
  private def graftList(s: String): Seq[String] =
    """'((?:[^']|'')*)'""".r.findAllMatchIn(s).map(_.group(1).replace("''", "'")).toSeq

  private def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case _ => a.toString.compareTo(b.toString)
  }

  private def group(in: Tbl, by: Seq[String], aggs: Seq[Agg]): Tbl = {
    val keyIx = by.map(in.idx).toIndexedSeq
    val groups =
      if (by.isEmpty) Seq(IndexedSeq.empty[Any] -> in.rows)
      else in.rows.groupBy(r => keyIx.map(r)).toSeq
    Tbl(by.toIndexedSeq ++ aggs.map(_.alias), groups.map { case (k, rows) =>
      k ++ aggs.map { a =>
        lazy val xs = rows.map(_(in.idx(a.col)))
        // typed as Any: a numeric LUB would widen every Long to Double
        (a.fn match {
          case "COUNT" => rows.size.toLong: Any
          case "SUM" => xs.map(_.asInstanceOf[Long]).sum
          case "AVG" => xs.map(_.asInstanceOf[Long]).sum.toDouble / xs.size
          case "MAX" => xs.map(_.asInstanceOf[Long]).max
          case "MIN" => xs.map(_.asInstanceOf[Long]).min
        }): Any
      }
    }.toIndexedSeq)
  }

  /** Canonical cell text: integers as Long, doubles to 6 places. */
  def cell(v: Any): String = v match {
    case null => "NULL"
    case n: java.lang.Integer => n.toString
    case n: java.lang.Long => n.toString
    case n: java.lang.Short => n.toString
    case d: java.lang.Double => f"${d.doubleValue}%.6f"
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  /** Why Spark's preview rows differ from the truth, if they do: they must
    * match as a multiset, and a final SORT must come back ordered on its key. */
  def mismatch(truth: Tbl, rows: Array[Row], lastOp: Op): Option[String] = {
    val got = rows.toSeq.map(r => (0 until r.length).map(i => cell(r.get(i))))
    val want = truth.rows.map(_.map(cell))
    val sameSet = truth.rows.size <= 1000 && got.size == want.size &&
      got.map(_.mkString("\u0001")).sorted == want.map(_.mkString("\u0001")).sorted
    val ordered = lastOp match {
      case OSort(col, desc) =>
        val ix = truth.idx(col)
        val keys = rows.toSeq.map(_.get(ix))
        keys.zip(keys.drop(1)).forall { case (a, b) =>
          val c = compare(norm(a), norm(b)); if (desc) c >= 0 else c <= 0 }
      case _ => true
    }
    if (sameSet && ordered) None
    else Some(s"ordered=$ordered want=${want.sortBy(_.mkString).take(3).map(_.mkString("|"))} " +
      s"got=${got.sortBy(_.mkString).take(3).map(_.mkString("|"))} (${want.size} vs ${got.size} rows)")
  }

  private def norm(v: Any): Any = v match {
    case n: java.lang.Integer => n.longValue
    case n: java.lang.Long => n.longValue
    case d: java.lang.Double => d.doubleValue
    case other => other
  }

  // ------------------------------------------------------------ the loop

  /** What a session returned, kept for verification after the phase. */
  final case class Outcome(spec: SessionSpec, last: Array[Row],
                           edited: Option[Array[Row]], roundTrip: Boolean, chart: Boolean)

  private val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Outcome]()
  @volatile private var tables: Map[Int, (Tbl, Tbl)] = Map.empty

  /** Warm-up sessions: one cycle over the pairs, every template included.
    * Step times still fall by about a fifth over the first half minute of
    * load, so a shorter warm-up leaves the measurement on that slope. */
  val WarmupSessions = Pairs

  override def warmup(ctx: Ctx, inputs: Path): Unit = {
    tables = (0 until Pairs).map(k => k -> pairTables(ctx.seed, k)).toMap
    // specs outside the measured range; their outcomes are not kept
    val p = new Phase
    runClients(ctx, inputs, p, Long.MaxValue, from = 1000000, until = 1000000 + WarmupSessions)
    outcomes.clear()
    if (p.failed.get > 0) throw new IllegalStateException("warmup failed: " + p.errors.peek())
  }

  override def run(ctx: Ctx, inputs: Path, phase: Phase, deadlineNs: Long): Unit =
    runClients(ctx, inputs, phase, deadlineNs, from = 0, until = Int.MaxValue)

  /** `cores` clients take session indices in [from, until) in turn until the
    * deadline passes; a started session always completes. */
  private def runClients(ctx: Ctx, inputs: Path, phase: Phase, deadlineNs: Long,
                         from: Int, until: Int): Unit = {
    val next = new AtomicInteger(from)
    val threads = (0 until ctx.cores).map { c =>
      val t = new Thread(() => {
        val session = ctx.spark.newSession()
        var j = next.getAndIncrement()
        while (j < until && System.nanoTime() < deadlineNs) {
          runSession(ctx, session, inputs, sessionSpec(ctx.seed, j), phase)
          j = next.getAndIncrement()
        }
      }, s"client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  private def runSession(ctx: Ctx, spark: SparkSession, inputs: Path, s: SessionSpec,
                         phase: Phase): Unit = {
    val tr = ctx.trace
    tr.setSession(s.index + 1L)
    tr.span("session") {
      phase.attempt(s"session ${s.index}") {
        val ex = new PipelineExecutor(spark)
        val (o, c) = tables(s.pair)
        // one ingest sample per upload of the pair: per file, the median
        // would sit between the small customers and the larger orders files
        val t0 = System.nanoTime()
        val names = Seq(ordersFile(s.pair), customersFile(s.pair)).map { f =>
          tr.span("sources.csv_load") {
            val (name, df) = Ingest.loadCsvTable(spark, inputs.resolve(f).toString)
            ex.register(name, df)
            ex.preview(name)
            name
          }
        }
        phase.ingests.add(Stats.ms(t0, System.nanoTime()))
        names.foreach(n => tr.span("pipeline.describe")(ex.describe(n)))
        phase.inputRows.addAndGet(o.rows.size + c.rows.size)

        val reply = response(s)
        val parsed = tr.span("planner.parse")(TransformResponse.parse(reply))
        val stages =
          if (parsed.rawStages.nonEmpty)
            tr.span("pipeline.repair")(TransformResponse.toPlan(parsed,
              name => scala.util.Try(ex.table(name).columns.toSeq).toOption).stages)
          else tr.span("sql.parse")(SqlStageParser.parse(parsed.sql.get, parsed.explanation))
        if (stages.map(_.stageType) != s.ops.map(_.tpe))
          throw new IllegalStateException(s"planned ${stages.map(_.stageType)}, expected ${s.ops.map(_.tpe)}")

        val tSubmit = System.nanoTime()
        val results = tr.span("pipeline.execute")(ex.execute(stages, ErrorPolicy.Abort))
        results.foreach(_.error.foreach(e => throw e))
        var last: Array[Row] = null
        results.zipWithIndex.foreach { case (r, i) =>
          val t0 = if (i == 0) tSubmit else System.nanoTime()
          tr.span("step") {
            last = tr.span("pipeline.preview")(ex.preview(r.tableName))
            tr.span("pipeline.describe")(ex.describe(r.tableName))
          }
          phase.steps.add(Stats.ms(t0, System.nanoTime()))
          phase.addExtra("rows_previewed", last.length)
        }
        val lastDf = ex.table(results.last.tableName)
        val chart = tr.span("viz.suggest") {
          ChartConfig.suggest(lastDf).exists(cfg => ChartConfig.validate(lastDf, cfg).isRight)
        }
        val exported = tr.span("model.render")(StageJson.render(stages))
        val roundTrip = StageJson.parseStages(exported).map(_.stageType) == stages.map(_.stageType)

        val edited = s.edit.map { e =>
          val t0 = System.nanoTime()
          val name = results.last.tableName
          val prev = results(results.size - 2).tableName
          tr.span("step") {
            val df = tr.span("compile.compile")(StageCompiler.compile(spark,
              editedStage(results.last.stage, e), ex.table, Some(ex.table(prev))))
            ex.register(name, df)
            val rows = tr.span("pipeline.preview")(ex.preview(name))
            tr.span("pipeline.describe")(ex.describe(name))
            phase.steps.add(Stats.ms(t0, System.nanoTime()))
            phase.addExtra("rows_previewed", rows.length)
            rows
          }
        }
        outcomes.add(Outcome(s, last, edited, roundTrip, chart))
        phase.ops.incrementAndGet()
      }
    }
  }

  override def verify(ctx: Ctx, phase: Phase): Unit = {
    outcomes.forEach { out =>
      val s = out.spec
      val (o, c) = tables(s.pair)
      val base = Map(s.orders -> o, s.customers -> c)
      phase.check(s"session ${s.index}: exported flow round-trips")(out.roundTrip)
      phase.check(s"session ${s.index}: chart suggested")(out.chart)
      val diff = mismatch(evaluate(s, s.ops, base), out.last, s.ops.last)
      phase.check(s"session ${s.index}: last stage ${s.ops.last.tpe} matches truth ${diff.getOrElse("")}")(diff.isEmpty)
      out.edited.foreach { rows =>
        val ops = s.ops.init :+ s.edit.get
        val diff = mismatch(evaluate(s, ops, base), rows, ops.last)
        phase.check(s"session ${s.index}: edited stage matches truth ${diff.getOrElse("")}")(diff.isEmpty)
      }
    }
  }

  override def report(phase: Phase): Map[String, Any] = Map(
    "sessions" -> phase.ops.get,
    "sessions_per_s" -> phase.ops.get / (phase.elapsedNs / 1e9),
    "verified_sessions" -> outcomes.size)
}
