package perfbench

import scala.collection.mutable

/** Everything one run records, kept in memory and written as one JSON
  * file when the run ends. The JVM only records raw observations
  * (times, counts, offsets, check verdicts); `run.py` turns them into
  * metrics, so the statistics live in one tested place. */
final class Rec(val traced: Boolean) {
  private val values = mutable.LinkedHashMap[String, Double]()
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val rows = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Map[String, Any]]]()
  private val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  @volatile var attempted = 0L
  @volatile var failed = 0L

  def value(name: String, v: Double): Unit = synchronized { values(name) = v }
  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  }
  def row(table: String, r: Map[String, Any]): Unit = synchronized {
    rows.getOrElseUpdate(table, mutable.ArrayBuffer()) += r
  }
  /** An output check: counted into `failed` when it does not hold. */
  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    synchronized {
      checks += ((name, ok, detail))
      if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
    }
  /** One attempted operation; `ok = false` counts it as failed. */
  def op(ok: Boolean): Unit = synchronized {
    attempted += 1; if (!ok) failed += 1
  }

  /** A span around `f` with the given parent (0 = root); recorded only
    * in a traced run, but `f` always runs. Returns f's value and the
    * span id. */
  def span[T](name: String, parent: Long = 0L,
      attrs: Map[String, Any] = Map.empty)(f: Long => T): T = {
    if (!traced) f(0L)
    else {
      val id = nextId.getAndIncrement()
      val t0 = System.nanoTime()
      try f(id)
      finally {
        val t1 = System.nanoTime()
        synchronized { spans += Span(id, parent, name, t0, t1, attrs) }
      }
    }
  }
  /** A span whose interval was measured elsewhere (listener events). */
  def spanAt(name: String, parent: Long, t0: Long, t1: Long,
      attrs: Map[String, Any] = Map.empty): Long =
    if (!traced) 0L
    else {
      val id = nextId.getAndIncrement()
      synchronized { spans += Span(id, parent, name, t0, t1, attrs) }
      id
    }

  def write(path: String): Unit = {
    val sb = new StringBuilder
    synchronized {
      sb.append("{\"attempted\":").append(attempted)
        .append(",\"failed\":").append(failed)
      sb.append(",\"values\":"); Json.obj(sb, values.toSeq)
      sb.append(",\"samples\":"); Json.obj(sb, samples.toSeq.map {
        case (k, v) => (k, v.toSeq) })
      sb.append(",\"rows\":"); Json.obj(sb, rows.toSeq.map {
        case (k, v) => (k, v.toSeq) })
      sb.append(",\"checks\":"); Json.value(sb, checks.toSeq.map {
        case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) })
      sb.append(",\"spans\":"); Json.value(sb, spans.toSeq.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> s.t0, "end_ns" -> s.t1, "attrs" -> s.attrs)))
      sb.append("}")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      sb.toString)
  }
}

final case class Span(id: Long, parent: Long, name: String, t0: Long,
    t1: Long, attrs: Map[String, Any])

/** Minimal JSON writer for the record file (numbers, strings, booleans,
  * sequences and string-keyed maps). */
object Json {
  def value(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => value(sb, x)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => value(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case s: String => str(sb, s)
    case m: scala.collection.Map[_, _] =>
      obj(sb, m.toSeq.map { case (k, x) => (k.toString, x) })
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(','); first = false; value(sb, x)
      }
      sb.append(']')
    case other => str(sb, other.toString)
  }
  def obj(sb: StringBuilder, kv: Seq[(String, Any)]): Unit = {
    sb.append('{')
    var first = true
    kv.foreach { case (k, x) =>
      if (!first) sb.append(','); first = false
      str(sb, k); sb.append(':'); value(sb, x)
    }
    sb.append('}')
  }
  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
