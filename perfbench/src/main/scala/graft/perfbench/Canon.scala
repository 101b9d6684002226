package graft.perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Engine-neutral result hashing. The same rules are implemented in
  * `perfbench/canon.py` for the DuckDB goldens; `canon_vectors.json`
  * pins both implementations to identical strings.
  *
  *  - a row is its values ordered by lower-cased column name (the two
  *    engines may order or case output columns differently), joined
  *    by U+001F;
  *  - a result is the SHA-256 of its sorted row strings joined by
  *    newlines, so row order never matters;
  *  - integer-typed values print exactly; every other number prints
  *    exactly when integral and below 1e15, else rounded to 10
  *    significant digits (half-even, on the exact binary value), so a
  *    DOUBLE, a DECIMAL and a differently-summed double agree;
  *  - NULL is `\N`; strings escape backslash, newline and U+001F;
  *  - dates are ISO; timestamps are UTC `yyyy-MM-dd HH:mm:ss.ffffff`.
  */
object Canon {
  private val sig10 = new MathContext(10, RoundingMode.HALF_EVEN)
  private val intLimit = new JBigDecimal("1e15")

  def number(bd: JBigDecimal): String =
    if (bd.signum == 0) "0"
    else if (bd.stripTrailingZeros.scale <= 0 && bd.abs.compareTo(intLimit) < 0)
      bd.toBigInteger.toString
    else bd.round(sig10).stripTrailingZeros.toPlainString

  def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else number(new JBigDecimal(d))

  def string(s: String): String =
    s.replace("\\", "\\\\").replace("\n", "\\n").replace("\u001f", "\\u001f")

  private def timestamp(t: LocalDateTime): String =
    f"${t.toLocalDate} ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d." +
      f"${t.getNano / 1000}%06d"

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => double(x.toDouble)
    case x: Double => double(x)
    case x: JBigDecimal => number(x)
    case s: String => string(s)
    case d: java.sql.Date => d.toLocalDate.toString
    case t: java.sql.Timestamp => value(t.toInstant)
    case i: Instant => timestamp(LocalDateTime.ofInstant(i, ZoneOffset.UTC))
    case t: LocalDateTime => timestamp(t)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => string(other.toString)
  }

  /** Column positions in canonical (lower-cased name) order. */
  def columnOrder(schema: StructType): Array[Int] =
    schema.fieldNames.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)

  def row(r: Row, order: Array[Int]): String =
    order.map(i => value(r.get(i))).mkString("\u001f")

  /** (row count, hash) of a collected result. */
  def hash(rows: Array[Row], schema: StructType): (Long, String) = {
    val order = columnOrder(schema)
    val md = MessageDigest.getInstance("SHA-256")
    // UTF-8 byte order is code-point order, which is how Python sorts
    rows.map(row(_, order).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .sortWith(java.util.Arrays.compareUnsigned(_, _) < 0)
      .zipWithIndex.foreach { case (b, i) =>
        if (i > 0) md.update('\n'.toByte)
        md.update(b)
      }
    (rows.length.toLong, md.digest().take(8).map(b => f"$b%02x").mkString)
  }

  /** Parses one `canon_vectors.json` input into the JVM value Spark
    * would hand back for that type. */
  def parse(tpe: String, v: String): Any = tpe match {
    case "null" => null
    case "bool" => v.toBoolean
    case "long" => v.toLong
    case "double" => v.toDouble
    case "decimal" => new JBigDecimal(v)
    case "string" => v
    case "date" => java.sql.Date.valueOf(LocalDate.parse(v))
    case "timestamp" =>
      java.sql.Timestamp.from(LocalDateTime.parse(v).toInstant(ZoneOffset.UTC))
    case other => sys.error(s"unknown canon vector type $other")
  }
}
