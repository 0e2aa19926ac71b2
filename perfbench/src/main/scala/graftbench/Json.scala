package graftbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

/** JSON in and out through the Jackson that ships with Spark. */
object Json {
  val mapper = new ObjectMapper()

  private val Stamp = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def write(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), v)

  def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def list(xs: Iterable[Any]): JList[Any] = {
    val l = new JList[Any]()
    xs.foreach(l.add)
    l
  }

  /** A collected value as plain JSON: decimals stay exact numbers,
    * timestamps print with microseconds (the JVM runs in UTC), other
    * temporal values in their ISO form,
    * nested values become lists and maps. */
  def value(v: Any): Any = v match {
    case null => null
    case d: scala.math.BigDecimal => d.bigDecimal
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case f: Float if f.isNaN || f.isInfinite => f.toString
    case f: Float => f.toDouble
    case t: java.sql.Timestamp => t.toLocalDateTime.format(Stamp)
    case d: java.sql.Date => d.toString
    case t: java.time.temporal.Temporal => t.toString
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case r: Row => list(r.toSeq.map(value))
    case m: scala.collection.Map[_, _] =>
      val out = new JMap[String, Any]()
      m.foreach { case (k, x) => out.put(String.valueOf(k), value(x)) }
      out
    case s: Iterable[_] => list(s.map(value))
    case other => other
  }

  def rows(rs: Array[Row]): JList[Any] = list(rs.map(value))

  /** Order-free fingerprint of a result: doubles rounded to nine
    * significant digits, rows sorted. Two executions of one query must
    * produce the same fingerprint. */
  def fingerprint(rs: Array[Row]): String = {
    def canon(v: Any): Any = v match {
      case d: java.lang.Double => String.format(java.util.Locale.ROOT, "%.9g", d)
      case l: JList[_] => list((0 until l.size).map(i => canon(l.get(i))))
      case other => other
    }
    val lines = rs.map(r => mapper.writeValueAsString(canon(value(r)))).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}
