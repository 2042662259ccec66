package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval of the run: an operation, a library call inside it,
  * a Spark job or a Spark stage. Times are epoch milliseconds; `parent` is
  * the id of the enclosing span ("" at the top). */
final case class Span(id: String, name: String, start: Double, end: Double, parent: String)

/** Thread-safe accumulators for one run: counters, samples and (when
  * traced) spans, kept in memory and written when the run ends. `active`
  * gates only what Spark's listeners report, so warm-up work stays out of
  * the figures; it is switched with [[Main.listen]]. */
final class Recorder(val traced: Boolean) {
  @volatile var active = false
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  val spans = new ConcurrentLinkedQueue[Span]()

  def add(name: String, v: Double): Unit = counters.merge(name, v, (a, b) => a + b)

  def max(name: String, v: Double): Unit = counters.merge(name, v, (a, b) => math.max(a, b))

  def sample(name: String, v: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)

  def span(s: Span): Unit = if (traced) spans.add(s)

  def counter(name: String): Double = Option(counters.get(name)).map(_.doubleValue).getOrElse(0.0)

  def counterMap: Map[String, Double] = counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap

  def sampleMap: Map[String, Seq[Double]] = samples.asScala.map { case (k, v) => k -> v.asScala.toSeq }.toMap

  /** Times a call and records it as a span under `parent`. */
  def timed[T](id: String, name: String, parent: String)(body: => T): (T, Double) = {
    val t0 = System.currentTimeMillis().toDouble
    val n0 = System.nanoTime()
    val out = body
    val s = (System.nanoTime() - n0) / 1e9
    span(Span(id, name, t0, t0 + s * 1000, parent))
    (out, s)
  }
}

/** Minimal JSON writer for the harness's result file (numbers, strings,
  * booleans, sequences and maps). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case p: Product if p.productArity > 0 =>
      apply(p.productElementNames.zip(p.productIterator).toMap)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new mutable.StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
