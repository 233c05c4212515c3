package graftbench

import scala.jdk.CollectionConverters._

/** Minimal JSON: enough to write the result record and read the op log
  * without pulling a JSON library into the benchmark build. Reading goes
  * through Jackson, which ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }

  /** The op log as a list of string-keyed maps of Scala values. */
  def readOps(path: String): IndexedSeq[Map[String, Any]] =
    mapper.readTree(new java.io.File(path)).elements().asScala.map(obj).toIndexedSeq

  private def obj(n: com.fasterxml.jackson.databind.JsonNode): Map[String, Any] =
    n.fields().asScala.map(e => e.getKey -> value(e.getValue)).toMap

  private def value(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isArray) n.elements().asScala.map(value).toIndexedSeq
    else if (n.isObject) obj(n)
    else n.asText()
}
