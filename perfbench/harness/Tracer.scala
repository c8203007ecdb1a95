package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.CoreBridge

/** One timed call into a layer. Times are nanoseconds since the run
  * started; `parent` is the enclosing span's id, or -1. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    startNs: Long, endNs: Long)

/** Times the harness's calls into the program's layers.
  *
  * Every call is timed and its seconds are added to a per-pass
  * accumulator under a metric key. Tracing is on between [[enable]] and
  * [[disable]]: then each call also tags its Spark jobs with the layer
  * (`setJobGroup` and the local property [[Tracer.LayerProperty]]), the
  * [[LayerListener]] is registered, and a span is kept in memory and
  * written out by [[writeSpans]] when the run ends.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  private var enabled = false
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val acc = mutable.LinkedHashMap.empty[String, Double]

  val listener = new LayerListener

  def tracing: Boolean = enabled

  def enable(): Unit = if (!enabled) {
    sc.addSparkListener(listener)
    enabled = true
  }

  def disable(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    enabled = false
  }

  /** Wall seconds of the most recent [[call]]. */
  var lastSeconds = 0.0

  /** Runs `body` as a call into `layer`, adding its wall seconds to the
    * pass accumulator `key`. */
  def call[T](layer: String, key: String, name: String)(body: => T): T = {
    val prevLayer = sc.getLocalProperty(Tracer.LayerProperty)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val id = spans.size + stack.size
    val parent = stack.headOption.getOrElse(-1)
    if (enabled) {
      sc.setJobGroup(layer, name, interruptOnCancel = false)
      sc.setLocalProperty(Tracer.LayerProperty, layer)
      stack = id :: stack
    }
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      lastSeconds = (end - start) / 1e9
      acc(key) = acc.getOrElse(key, 0.0) + lastSeconds
      if (enabled) {
        stack = stack.tail
        spans += Span(id, name, layer, parent, start - t0, end - t0)
        sc.setLocalProperty(Tracer.LayerProperty, prevLayer)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevGroup, interruptOnCancel = false)
      }
    }
  }

  /** Seconds accumulated per key since the last call, then cleared. */
  def takeAccumulated(): Map[String, Double] = {
    val m = acc.toMap
    acc.clear()
    m
  }

  /** Waits until every queued listener event has been delivered. */
  def drain(): Unit = CoreBridge.drainListeners(sc)

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "run_id" -> runId, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs))
    }
    java.nio.file.Files.write(path,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Spark local property naming the layer whose call started a job.
    * Threads started inside the call inherit it (a streaming query's
    * micro-batch thread does), and unlike the job group no Spark
    * component overwrites it. */
  val LayerProperty = "perfbench.layer"
}

/** Minimal JSON rendering for the harness's result and span files. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }
      .mkString("{", ",", "}")

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
