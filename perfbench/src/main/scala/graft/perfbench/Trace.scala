package graft.perfbench

import java.io.PrintWriter

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

/** In-memory spans recorded by the harness around its own calls into
  * the program's layers. One client thread drives every workload, so
  * the open spans form a stack and a span's parent is the span below
  * it. With tracing off, `span` only runs its body.
  *
  * A span's self time is its duration minus the part of its interval
  * that its child spans cover. */
final class Tracer(val runId: String, val enabled: Boolean) {
  import Tracer.Span

  private val done = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val start = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, start, System.nanoTime())
        open = open.tail
      }
    }

  /** Self time of every span, in nanoseconds, keyed by span id. */
  def selfNanos: Map[Int, Long] = {
    val kids = done.groupBy(_.parent)
    done.map { s =>
      val covered = Tracer.unionNanos(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))).toSeq)
      s.id -> (s.end - s.start - covered)
    }.toMap
  }

  /** Per span name: (count, total seconds, self seconds), over every
    * span or over those inside [from, to] (nanoTime). */
  def byName(from: Long = Long.MinValue, to: Long = Long.MaxValue)
      : Map[String, (Int, Double, Double)] = {
    val self = selfNanos
    done.filter(s => s.start >= from && s.end <= to).groupBy(_.name).map { case (n, ss) =>
      n -> (ss.size, ss.map(s => s.end - s.start).sum / 1e9,
        ss.map(s => self(s.id)).sum / 1e9)
    }
  }

  /** Top-level spans between `from` and `to` (nanoTime): the share of
    * that wall their durations cover, and the share their self times
    * (time not attributed to any layer span below them) cover. */
  def coverage(from: Long, to: Long): (Double, Double) = {
    val wall = math.max(1L, to - from).toDouble
    val top = done.filter(s => s.parent == 0 && s.start >= from && s.end <= to)
    val self = selfNanos
    (top.map(s => s.end - s.start).sum / wall, top.map(s => self(s.id)).sum / wall)
  }

  def write(path: String, t0: Long): Unit = {
    val self = selfNanos
    val w = new PrintWriter(path, "UTF-8")
    try done.sortBy(_.id).foreach { s =>
      w.println(Json.obj(
        "run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_s" -> (s.start - t0) / 1e9,
        "end_s" -> (s.end - t0) / 1e9, "self_s" -> self(s.id) / 1e9))
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

  /** Length of the union of half-open intervals. */
  def unionNanos(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** The few JSON shapes the harness writes; no library on the classpath
  * is needed for them. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Rows of a frame as canonical strings, for order-free comparison:
  * columns by name, exact cell values (doubles in their shortest
  * round-trip form), maps by key. */
object Digest {
  def cell(v: Any): String = v match {
    case null => "\\N"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case t: java.sql.Timestamp => s"${Math.floorDiv(t.getTime, 1000L)}.${t.getNanos}"
    case d: java.sql.Date => d.toLocalDate.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  def rows(df: DataFrame): Seq[String] = {
    val idx = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    df.collect().toSeq.map(r => idx.map(i => cell(r.get(i))).mkString("|"))
  }
}
