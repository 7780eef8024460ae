package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Minimal JSON in and out: the plan is read with the Jackson that ships
  * with Spark, results are written from plain Scala values. */
object Json {
  def read(path: String): JsonNode =
    new ObjectMapper().readTree(new java.io.File(path))

  def strings(n: JsonNode): Seq[String] =
    if (n == null || n.isNull) Nil else n.elements().asScala.map(_.asText).toSeq

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) s""""$d"""" else d.toString
    case f: Float => write(f.toDouble)
    case n: java.lang.Number => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case it: Iterable[_] => it.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
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
