package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

/** Order-independent content hash of a result, rendered the same way as
  * `refs.py` renders DuckDB rows: columns in name order, integers in
  * decimal, floating point as the hex of its IEEE-754 double bits, dates
  * in ISO form, timestamps as epoch microseconds. A row hashes to the
  * first 8 bytes of the MD5 of its rendering; a result hashes to the sum
  * of its row hashes modulo 2^64. */
object Content {

  def cell(v: Any): String = v match {
    case null => "\u0000N"
    case b: Boolean => if (b) "true" else "false"
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case i: Long => i.toString
    case f: Float => bits(f.toDouble)
    case d: Double => bits(d)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime =>
      micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case s: String => s
    case other => other.toString
  }

  private def bits(d: Double): String =
    java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      (i.getNano / 1000).toLong)

  def rowHash(cells: Seq[Any]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(cells.map(cell).mkString("\u0001").getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** (rows, hash) of collected rows with the given column names. */
  def of(names: Seq[String], rows: Iterable[Row]): (Long, Long) = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    var h = 0L
    var n = 0L
    rows.foreach { r => h += rowHash(order.map(r.get)); n += 1 }
    (n, h)
  }
}

/** Reference files written by refs.py: tab-separated lines. */
object Refs {
  private def lines(path: String): Seq[Array[String]] =
    if (path.isEmpty) Nil
    else {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(_.split("\t")).toVector
      finally src.close()
    }

  /** key → (rows, content hash). */
  def keyed(path: String): Map[String, (Long, Long)] =
    lines(path).map(l => l(0) -> (l(1).toLong, l(2).toLong)).toMap

  /** id → row hash. */
  def rows(path: String): Map[Long, Long] =
    lines(path).map(l => l(0).toLong -> l(1).toLong).toMap
}
