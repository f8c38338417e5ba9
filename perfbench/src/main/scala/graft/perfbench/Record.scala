package graft.perfbench

import scala.collection.mutable

/** The harness's result record, written as one JSON object. Per-layer
  * metrics go under "per_layer".
  */
final class Record {
  private val top = mutable.LinkedHashMap.empty[String, Any]
  private val layer = mutable.LinkedHashMap.empty[String, Double]

  def put(k: String, v: Any): Unit = synchronized { top(k) = v }
  def putAll(kv: Map[String, Double], layer: Boolean): Unit = synchronized {
    if (layer) this.layer ++= kv else top ++= kv
  }

  def json: String = synchronized {
    Record.render(top.toMap.updated("per_layer", layer.toMap))
  }
}

object Record {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case s: String => "\"" + esc(s) + "\""
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)
        .map { case (k, x) => "\"" + esc(k) + "\":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => "\"" + esc(other.toString) + "\""
  }
}
