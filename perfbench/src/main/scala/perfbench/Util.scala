package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the harness's result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def apply(v: Any): String = v match {
    case null              => "null"
    case s: String         => str(s)
    case b: Boolean        => b.toString
    case i: Int            => i.toString
    case l: Long           => l.toString
    case d: Double         => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]   => xs.map(apply).mkString("[", ",", "]")
    case other             => str(other.toString)
  }

  /** Keeps insertion order, so written files read in a stable order. */
  def obj(kvs: (String, Any)*): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(kvs: _*)
}

object Stats {
  /** Linear-interpolated quantile, the same rule as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

object Clock {
  def now(): Long = System.nanoTime()
  def secs(from: Long, to: Long): Double = (to - from) / 1e9
}

/** Readings of the driver JVM. */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  /** GC time so far, in ms. */
  def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  def heapMb: Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
}
