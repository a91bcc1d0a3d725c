package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One recorded layer call: a span of `name`, caused by span `parent`
  * (0 = root), inside user session `session`. Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, session: Long, name: String,
                      start: Long, end: Long)

/**
 * Span recorder for the traced run. Spans are opened around the calls the
 * benchmark makes into each layer and kept in memory; the parent is the
 * innermost span open on the same thread, so nesting follows the call
 * stack. With tracing off, `span` runs its body and records nothing.
 *
 * While a span is open, its name is also the thread's Spark local property
 * [[Trace.LayerProperty]], so the listener can charge each Spark job to the
 * layer call that submitted it.
 */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1L)
  private val stack = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)
  private val sessionOf = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  @volatile private var sc: org.apache.spark.SparkContext = _

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = sc = spark.sparkContext

  def setSession(id: Long): Unit = sessionOf.set(id)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(0L)
      stack.set((id, name) :: outer)
      if (sc != null) sc.setLocalProperty(Trace.LayerProperty, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, parent, sessionOf.get(), name, t0, t1))
        stack.set(outer)
        if (sc != null) sc.setLocalProperty(Trace.LayerProperty, outer.headOption.map(_._2).orNull)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Write every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"session":${s.session},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  val LayerProperty = "perfbench.layer"

  /** Per span name: (calls, total self time in ns). A span's self time is
    * its duration minus the part of it that its child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[String, (Long, Long)] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val self = ss.iterator.map { s =>
        val covered = union(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start) - covered
      }.sum
      name -> (ss.size.toLong, self)
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
