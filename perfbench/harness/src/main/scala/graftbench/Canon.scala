package graftbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import org.apache.spark.sql.Row

/** The canonical result hash of the repo's oracle gate
  * (tools/check_oracle.py `canon`), reproduced on collected Spark rows:
  * columns sorted by name, each value printed as Python's `str` would
  * print the value pyarrow reads back (floats as `%.6g`), cells joined
  * by \u0001, rows sorted and joined by \u0002, then md5. Equal hashes
  * here and in check_oracle.py mean equal results. */
object Canon {
  def hash(cols: Seq[String], rows: Array[Row]): String = {
    val order = cols.indices.sortBy(cols(_))
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001"))
    md5(lines.sorted.mkString("\u0002"))
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The cell types the serving mix returns; any other type throws. */
  private def cell(v: Any): String = v match {
    case null => "None"
    case d: Double => g6(d)
    case f: Float => g6(f.toDouble)
    case s: String => s
    case n @ (_: Long | _: Int) => n.toString
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  /** Python's `f"{v:.6g}"`: round half-even on the exact binary value to
    * 6 significant digits, scientific notation below 1e-4 and from 1e6,
    * trailing zeros stripped, exponent of at least two digits. */
  def g6(v: Double): String =
    if (v.isNaN) "nan"
    else if (v.isInfinite) (if (v > 0) "inf" else "-inf")
    else if (v == 0.0) (if (1.0 / v < 0) "-0" else "0")
    else {
      val bd = new JBigDecimal(v).round(new MathContext(6, RoundingMode.HALF_EVEN))
      val exp = bd.precision - bd.scale - 1
      if (exp < -4 || exp >= 6) {
        val digits = bd.unscaledValue.abs.toString.reverse.dropWhile(_ == '0').reverse
        val mant = if (digits.length > 1) s"${digits.head}.${digits.tail}" else digits
        val sign = if (bd.signum < 0) "-" else ""
        f"$sign${mant}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
      } else bd.stripTrailingZeros.toPlainString
    }
}
