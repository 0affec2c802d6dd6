package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext

import scala.jdk.CollectionConverters._

/** One timed layer call: `op` is shared by every span of one batch,
  * request or query; `parent` is 0 for an op's root span.
  */
final case class Span(
    id: Long, parent: Long, name: String, op: Long, opType: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. Spans stay in memory until the
  * run ends. Tracing is switched per op and per thread ([[tracing]]);
  * outside it a span is a bare call.
  *
  * A span that runs Spark jobs sets the job group to its own id, so
  * [[SparkCounters]] attributes task metrics to the span; the caller's
  * group is restored when the span ends.
  */
object Trace {
  @volatile var sc: SparkContext = _

  private val active = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** Run `body` (one op) with spans recorded or not. */
  def tracing[T](on: Boolean)(body: => T): T = {
    val prev = active.get
    active.set(on)
    try body finally active.set(prev)
  }

  def span[T](name: String, op: Long, opType: String, spark: Boolean = true)(body: => T): T =
    if (!active.get) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val prevGroup = if (spark) Option(sc.getLocalProperty("spark.jobGroup.id")) else None
      if (spark) sc.setJobGroup(s"span-$id", name)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        done.add(Span(id, parent, name, op, opType, t0, t1))
        if (spark) prevGroup match {
          case Some(g) => sc.setJobGroup(g, g)
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Self time per span: its duration minus the union of the intervals
    * its child spans cover.
    */
  def selfSeconds(all: Seq[Span]): Map[Long, Double] = {
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += curE - curS
      s.id -> ((s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }
}

/** Sample set with the benchmark's two summary statistics. */
final class Samples {
  private val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
  def add(x: Double): Unit = synchronized(xs += x)
  def ++=(o: Samples): Unit = synchronized(xs ++= o.values)
  def values: Seq[Double] = synchronized(xs.toVector)
  def size: Int = synchronized(xs.size)
  def sum: Double = values.sum
  def median: Double = Samples.median(values)

  /** The highest percentile that has at least 10 samples beyond it:
    * (value, percentile, sample count). With 10 samples or fewer it
    * falls back to the lowest sample, which has none beyond it.
    */
  def tail: (Double, Double, Int) = {
    val s = values.sorted
    if (s.isEmpty) (Double.NaN, 0.0, 0)
    else {
      val rank = math.max(1, s.size - 10)
      (s(rank - 1), 100.0 * rank / s.size, s.size)
    }
  }
}

object Samples {
  def median(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON rendering for the result line and the artifact. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product if p.productArity > 0 =>
      p.productElementNames.zip(p.productIterator)
        .map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case other => str(other.toString)
  }
}

/** Per-layer figures and the self-time report, from the spans of a
  * traced run.
  */
object Report {

  /** Seconds spent in spans called `name`, summed per op; one value per
    * op that has such a span.
    */
  def perOp(spans: Seq[Span], name: String): Samples = {
    val s = new Samples
    spans.filter(_.name == name)
      .groupBy(_.op).values.foreach(xs => s.add(xs.map(_.seconds).sum))
    s
  }

  /** One row per (op type, span name): calls, total and self seconds,
    * and the Spark work of the jobs that ran inside those spans.
    */
  def selfTime(spans: Seq[Span], work: Map[String, SparkWork]): Seq[Map[String, Any]] = {
    val self = Trace.selfSeconds(spans)
    spans.groupBy(s => (s.opType, s.name)).toSeq.sortBy(_._1).map { case ((t, n), xs) =>
      val w = new SparkWork
      xs.foreach(s => work.get(s"span-${s.id}").foreach(w.add))
      Map("op_type" -> t, "span" -> n, "calls" -> xs.size,
        "total_s" -> xs.map(_.seconds).sum, "self_s" -> xs.map(s => self(s.id)).sum,
        "median_s" -> Samples.median(xs.map(_.seconds))) ++
        w.metrics("spark").map { case (k, v, _) => k -> v }
    }
  }

  /** Spark work summed over every span of one op type. */
  def workOf(spans: Seq[Span], work: Map[String, SparkWork], opType: String): SparkWork = {
    val w = new SparkWork
    spans.filter(_.opType == opType).foreach(s => work.get(s"span-${s.id}").foreach(w.add))
    w
  }
}
