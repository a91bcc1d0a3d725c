package perfbench

import scala.collection.mutable.ArrayBuffer

/** Thread-safe sample collector for one latency kind (milliseconds). */
final class Samples {
  private val xs = ArrayBuffer.empty[Double]
  def add(ms: Double): Unit = synchronized { xs += ms }
  def values: Seq[Double] = synchronized { xs.toSeq }
  def size: Int = synchronized { xs.size }
  def percentile(p: Double): Double = Stats.percentile(values, p)
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]; NaN when empty. */
  def percentile(values: Seq[Double], p: Double): Double = {
    if (values.isEmpty) return Double.NaN
    val s = values.sorted
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(values: Seq[Double]): Double = percentile(values, 50)

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0, System.nanoTime()))
  }

  /** Compact JSON for a string → value map (numbers, strings, booleans,
    * nested maps); non-finite numbers become null. */
  def json(v: Any): String = v match {
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
