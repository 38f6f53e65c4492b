package perfbench

import java.math.{MathContext, RoundingMode, BigDecimal => JBigDecimal}
import java.security.MessageDigest
import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row

/** Canonical, order-insensitive hash of a query result. `oracle.py`
  * applies the same rules to DuckDB's rows: columns sorted by name, every
  * value rendered as Python's `str()` would render DuckDB's value (floats
  * and decimals as `%.9g`, timestamps as naive UTC), rows sorted, SHA-1. */
object Canon {
  private val mc = new MathContext(9, RoundingMode.HALF_EVEN)

  /** Python's `f"{d:.9g}"`. */
  def g9(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) (if (1.0 / d < 0) "-0" else "0")
    else {
      val r = new JBigDecimal(d).round(mc)
      val exp = r.precision - r.scale - 1
      if (exp >= -4 && exp < 9) r.stripTrailingZeros.toPlainString
      else {
        val digits = r.stripTrailingZeros.unscaledValue.abs.toString
        val sign = if (r.signum < 0) "-" else ""
        val mant = if (digits.length > 1) s"${digits.head}.${digits.tail}" else digits
        f"$sign${mant}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
      }
    }

  private def ts(t: LocalDateTime): String = {
    val base = f"${t.toLocalDate}%s ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    val micros = t.getNano / 1000
    if (micros == 0) base else f"$base.$micros%06d"
  }

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "t" else "f"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => g9(x.toDouble)
    case x: Double => g9(x)
    case x: JBigDecimal => g9(x.doubleValue)
    case x: BigDecimal => g9(x.toDouble)
    case x: String => x
    case x: java.sql.Date => x.toLocalDate.toString
    case x: java.time.LocalDate => x.toString
    case x: java.sql.Timestamp => ts(LocalDateTime.ofInstant(x.toInstant, ZoneOffset.UTC))
    case x: Instant => ts(LocalDateTime.ofInstant(x, ZoneOffset.UTC))
    case x: LocalDateTime => ts(x)
    case x: Array[Byte] => x.map(b => f"$b%02x").mkString
    case x: Row => x.toSeq.map(value).mkString("{", ", ", "}")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, w) => s"${value(k)}: ${value(w)}" }.sorted
        .mkString("{", ", ", "}")
    case x: scala.collection.Seq[_] => x.map(value).mkString("[", ", ", "]")
    case x => x.toString
  }

  def hash(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u001f"))
    java.util.Arrays.sort(lines.asInstanceOf[Array[Object]])
    val md = MessageDigest.getInstance("SHA-1")
    md.update(order.map(columns(_)).mkString("\u001e").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map(b => f"$b%02x").mkString
  }
}
