package graftbench

import java.math.{BigDecimal => JBigDecimal}
import java.security.MessageDigest
import java.sql.{Connection, ResultSet}

import org.apache.spark.sql.Row

/** Order-independent digest of a result: column names sorted, rows as a
  * sorted multiset, numbers compared by exact value (so an INT and a
  * DECIMAL holding the same value agree, as in the repo's oracle check). */
object Check {

  def value(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else num(new JBigDecimal(d))
    case f: Float => value(f.toDouble)
    case b: JBigDecimal => num(b)
    case b: scala.math.BigDecimal => num(b.bigDecimal)
    case i: java.math.BigInteger => i.toString
    case b: java.lang.Byte => b.longValue.toString
    case s: java.lang.Short => s.longValue.toString
    case i: java.lang.Integer => i.longValue.toString
    case l: java.lang.Long => l.toString
    case b: java.lang.Boolean => b.toString
    case s: String => "\"" + s + "\""
    case a: Array[Byte] => "x" + hex.formatHex(a)
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case t: java.time.Instant => "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case a: java.sql.Array => value(a.getArray)
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case m: java.util.Map[_, _] =>
      import scala.jdk.CollectionConverters._
      value(m.asScala)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case s: java.sql.Struct => s.getAttributes.map(value).mkString("(", ",", ")")
    case other => other.toString
  }

  private val hex = java.util.HexFormat.of()

  private def num(b: JBigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString

  /** Digest of (column names, rows). */
  def digest(names: Seq[String], rows: Iterator[Seq[Any]]): String = {
    val order = names.indices.sortBy(names(_))
    val lines = rows.map(r => order.map(i => value(r(i))).mkString("\u0001")).toArray
    java.util.Arrays.sort(lines.asInstanceOf[Array[Object]])
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(names(_)).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update(0.toByte); md.update(l.getBytes("UTF-8")) }
    s"${lines.length}:" + hex.formatHex(md.digest().take(12))
  }

  /** `byName = false` compares columns by position (the connector and
    * a plain-JDBC query label the same columns differently). */
  def ofRows(names: Seq[String], rows: Seq[Row], byName: Boolean = true): String =
    digest(if (byName) names else names.indices.map(i => f"$i%03d"), rows.iterator.map(_.toSeq))

  def ofResultSet(rs: ResultSet, byName: Boolean): String = {
    val md = rs.getMetaData
    val n = md.getColumnCount
    val names = (1 to n).map(i => if (byName) md.getColumnLabel(i) else f"${i - 1}%03d")
    val rows = Iterator.continually(rs.next()).takeWhile(identity)
      .map(_ => (1 to n).map(i => rs.getObject(i) match {
        // a BLOB locator is only valid while its row is current
        case b: java.sql.Blob => b.getBytes(1, b.length.toInt)
        case v => v
      })).toVector
    digest(names, rows.iterator)
  }

  def ofQuery(c: Connection, sql: String, byName: Boolean = false): String = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(sql)
      try ofResultSet(rs, byName) finally rs.close()
    } finally st.close()
  }
}
