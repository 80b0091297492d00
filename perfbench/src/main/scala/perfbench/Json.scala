package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Minimal JSON writer for the raw run record the Python side reads.
  * Values: Map[String, _], Seq[_], String, numbers, Boolean, None/null. */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; put(sb, v); sb.toString }

  def writeFile(p: Path, v: Any): Unit =
    Files.write(p, write(v).getBytes(StandardCharsets.UTF_8))

  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => put(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb ++= "null" else sb ++= d.toString
    case f: Float => put(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(sb, k.toString); sb += ':'; put(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; put(sb, x) }
      sb += ']'
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
