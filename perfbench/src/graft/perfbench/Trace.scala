package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `trace` groups the spans of
  * one query execution, one timestep or one micro-batch; `parent` is the
  * id of the span that caused this one (0 for a root). Times are
  * `System.nanoTime` values. */
final case class Span(trace: String, id: Long, parent: Long, name: String,
    start: Long, end: Long, attrs: Map[String, Any] = Map.empty) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span store, written once when the run ends. Disabled in
  * untimed-layer (trace 0) runs: `time` then only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong
  private val buf = new ConcurrentLinkedQueue[Span]
  private val wall0 = System.currentTimeMillis()
  private val mono0 = System.nanoTime()

  /** Map a wall-clock millisecond stamp (Spark listener events) onto the
    * span clock. */
  def fromWallMs(ms: Long): Long = mono0 + (ms - wall0) * 1000000L
  def toWallMs(ns: Long): Long = wall0 + (ns - mono0) / 1000000L

  def newId(): Long = ids.incrementAndGet()

  /** Root span id per trace id, so events that only carry the trace id
    * (a Spark job's job group) can name their parent. */
  val roots = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  def add(trace: String, name: String, parent: Long, start: Long, end: Long,
      attrs: Map[String, Any] = Map.empty, id: Long = 0L): Long = {
    val sid = if (id == 0L) newId() else id
    if (enabled) buf.add(Span(trace, sid, parent, name, start, end, attrs))
    sid
  }

  /** Time `body` as span `name`; the body receives the span's id so the
    * calls it makes can record it as their parent. */
  def time[T](trace: String, name: String, parent: Long = 0L)(body: Long => T): T = {
    val id = newId()
    val s = System.nanoTime()
    try body(id) finally add(trace, name, parent, s, System.nanoTime(), id = id)
  }

  def spans: Vector[Span] = buf.asScala.toVector
}

object Tracer {
  /** Union length (ns) of intervals clipped to [lo, hi]. */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.iterator.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toVector.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per span name inside [lo, hi]: count, total ms and self ms (duration
    * minus the part its child spans cover). */
  def layerTable(spans: Vector[Span], lo: Long, hi: Long): VectorMap[String, Any] = {
    val kids = spans.groupBy(_.parent)
    val inWin = spans.filter(s => s.end > lo && s.start < hi)
    VectorMap.from(inWin.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(s => math.min(s.end, hi) - math.max(s.start, lo)).sum
      val self = ss.map { s =>
        val s0 = math.max(s.start, lo)
        val s1 = math.min(s.end, hi)
        (s1 - s0) - covered(kids.getOrElse(s.id, Vector.empty).map(k => (k.start, k.end)), s0, s1)
      }.sum
      name -> VectorMap("count" -> ss.size, "total_ms" -> total / 1e6, "self_ms" -> self / 1e6)
    })
  }
}

/** Minimal JSON writer (insertion-ordered maps, full-precision doubles). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

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

object Stats {
  /** Linear-interpolated percentile (numpy's default), q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val i = pos.toInt
      if (i + 1 >= s.size) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}
