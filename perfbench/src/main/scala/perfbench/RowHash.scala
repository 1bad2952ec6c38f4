package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive fingerprint of a result: row count plus the sum
  * (mod 2^64) of one 64-bit hash per row. Each row is rendered
  * canonically with its columns sorted by name, so the fingerprint
  * does not depend on engine, column order or row order:
  *
  *  - doubles and floats round to 8 significant digits (half-even on the
  *    exact binary value), absorbing summation-order noise far below
  *    the oracle's 1e-9 relative tolerance;
  *  - decimals keep every digit (trailing zeros stripped);
  *  - integers of any width, booleans and strings print as values;
  *  - timestamps are epoch microseconds, dates epoch days;
  *  - arrays, structs and maps recurse (map entries sorted).
  *
  * `tools/expected.py` renders DuckDB rows by the same rules, so an
  * oracle answer and a graft answer can be compared hash to hash. */
object RowHash {
  final case class Fingerprint(rows: Long, hash: String)

  private val mc = new MathContext(8, RoundingMode.HALF_EVEN)

  def number(d: JBigDecimal): String =
    if (d.signum == 0) "0"
    else {
      val s = d.stripTrailingZeros()
      s"${s.unscaledValue}e${-s.scale}"
    }

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
      else number(new JBigDecimal(d).round(mc))
    case f: Float => canon(f.toDouble)
    case d: JBigDecimal => number(d)
    case d: scala.math.BigDecimal => number(d.bigDecimal)
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => s
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def rowHash(cells: Seq[String]): Long = {
    val md = MessageDigest.getInstance("MD5")
    val d = md.digest(cells.mkString("\u001f").getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Fingerprint computed on the executors (no collect). */
  def of(df: DataFrame): Fingerprint = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val (n, sum) = df.rdd.mapPartitions { it =>
      var n = 0L; var sum = 0L
      it.foreach { r => n += 1; sum += rowHash(order.toSeq.map(i => canon(r.get(i)))) }
      Iterator((n, sum))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Fingerprint(n, java.lang.Long.toUnsignedString(sum, 16))
  }

  /** Fingerprint of rows already collected, with their column names. */
  def ofRows(columns: Seq[String], rows: Iterable[Row]): Fingerprint = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    rows.foreach(r => sum += rowHash(order.map(i => canon(r.get(i)))))
    Fingerprint(rows.size.toLong, java.lang.Long.toUnsignedString(sum, 16))
  }
}
