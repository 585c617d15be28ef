package perfbench

import graft.Bench.{jsonStr => str}

/** Minimal JSON writer for the result line and the span file; strings are
  * escaped by the engine's `Bench.jsonStr`. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case other => str(other.toString)
  }

  /** An object with its keys in the given order. */
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
