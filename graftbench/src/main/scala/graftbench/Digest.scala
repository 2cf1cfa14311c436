package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Reduces a query result to `rows:header:sum` — a row count, a hash of
  * the sorted column names and an order-insensitive sum of row hashes.
  *
  * Values are normalized the way `tools/check.py` compares them: columns
  * are taken in name order, integers and integral floats compare equal,
  * and other floats are rounded to 9 significant digits (check.py's 1e-9
  * relative tolerance). `tools/oracle_digests.py` implements the same
  * encoding for DuckDB results; the two must change together.
  */
object Digest {

  private def md5(s: String): Array[Byte] =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))

  private def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString

  /** Canonical text of one floating-point value. */
  def float(x: Double): String =
    if (x.isNaN) "fnan"
    else if (x.isInfinite) (if (x > 0) "f+inf" else "f-inf")
    else if (x == math.rint(x) && math.abs(x) < 1e15) "n" + x.toLong
    else {
      val rounded = new java.math.BigDecimal(x)
        .round(new java.math.MathContext(9, java.math.RoundingMode.HALF_EVEN))
      "f" + java.lang.Long.toHexString(
        java.lang.Double.doubleToLongBits(java.lang.Double.parseDouble(rounded.toString)))
    }

  /** Canonical text of one cell. */
  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case i: Byte => "n" + i
    case i: Short => "n" + i
    case i: Int => "n" + i
    case i: Long => "n" + i
    case f: Float => float(f.toDouble)
    case d: Double => float(d)
    case d: java.math.BigDecimal => float(java.lang.Double.parseDouble(d.toString))
    case d: scala.math.BigDecimal => float(java.lang.Double.parseDouble(d.toString))
    case s: String => "s" + s
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case b: Array[Byte] => "x" + hex(b)
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => "?" + other.toString
  }

  /** Hash of one row's canonical text, as an unsigned 64-bit addend. */
  def rowHash(cells: Seq[String]): Long =
    java.nio.ByteBuffer.wrap(md5(cells.mkString("\u0001"))).getLong

  /** Digest of a result given its column names and rows. */
  def of(columns: Seq[String], rows: Iterable[Seq[Any]]): String = {
    val order = columns.indices.sortBy(columns)
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      sum += rowHash(order.map(i => value(r(i))))
      n += 1
    }
    s"$n:${hex(md5(order.map(columns).mkString("\u0001"))).take(8)}:" +
      f"$sum%016x"
  }

  def ofRows(columns: Seq[String], rows: Array[Row]): String =
    of(columns, rows.toSeq.map(_.toSeq))
}
