package perfbench

import java.math.{MathContext, RoundingMode}

import org.apache.spark.sql.Row

/** Order-independent fingerprint of a query result: the row count plus the
  * sum (mod 2^64) of a 64-bit MD5 prefix of each row's canonical text.
  *
  * Canonical text lists the values in column-name order. Numbers that are
  * not integers are rounded to 9 significant digits, so a result whose last
  * bits depend on summation order still fingerprints the same.
  * `oracle_check.py` computes the same fingerprint from DuckDB results.
  */
object Check {
  private val mc = new MathContext(9, RoundingMode.HALF_EVEN)

  def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else decimal(new java.math.BigDecimal(d))

  private def decimal(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.round(mc).stripTrailingZeros.toPlainString

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => decimal(b)
    case b: scala.math.BigDecimal => decimal(b.bigDecimal)
    case i @ (_: Int | _: Long | _: Short | _: Byte) => i.toString
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      canon(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case b: Boolean => if (b) "true" else "false"
    case s: String => s
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => row(r)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def row(r: Row): String = {
    val names = Option(r.schema).map(_.fieldNames.toSeq)
      .getOrElse(r.toSeq.indices.map(_.toString))
    names.zipWithIndex.sortBy(_._1).map { case (_, i) => canon(r.get(i)) }
      .mkString("(", "|", ")")
  }

  /** (rows, hex fingerprint) of a collected result. */
  def fingerprint(rows: Array[Row]): (Long, String) = {
    var acc = 0L
    rows.foreach { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(row(r).getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    (rows.length.toLong, f"$acc%016x")
  }
}
