package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Minimal JSON writing and reading for the benchmark's result files. */
object Json {
  def str(s: String): String = {
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

  /** Full-precision number; JSON has no NaN or infinity, so those are null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")

  def read(path: String): JsonNode =
    new ObjectMapper().readTree(new java.io.File(path))

  /** A JSON object node as plain Scala values (maps, seqs, numbers). */
  def plain(n: JsonNode): Any =
    if (n.isObject) n.properties().asScala
      .map(e => e.getKey -> plain(e.getValue)).toMap
    else if (n.isArray) n.elements().asScala.map(plain).toSeq
    else if (n.isNumber) n.numberValue()
    else if (n.isBoolean) n.booleanValue()
    else if (n.isNull) null
    else n.asText()
}
