package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** Order-insensitive content digest of a result: every row is rendered
  * to a canonical string (columns sorted by name), hashed with MD5, and
  * the first 8 bytes of each hash are summed modulo 2^64. The same
  * rendering is implemented in `digest.py`, which digests the DuckDB
  * oracle's rows, so a Spark result and its SQL twin digest equal.
  *
  * Numbers render alike whatever their type: an integral value below
  * 1e15 prints as an integer, any other value is rounded to 9
  * significant digits (half-even, on its exact binary value). */
object Digest {

  private val Sig = new MathContext(9, RoundingMode.HALF_EVEN)
  private val IntLimit = new JBigDecimal("1e15")

  def decimal(v: JBigDecimal): String = {
    val s = v.stripTrailingZeros()
    if (s.signum == 0) "0"
    else if (s.scale <= 0 && s.abs.compareTo(IntLimit) < 0)
      s.toBigIntegerExact.toString
    else s.round(Sig).stripTrailingZeros().toPlainString
  }

  def double(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isPosInfinity) "inf"
    else if (d.isNegInfinity) "-inf"
    else decimal(new JBigDecimal(d))

  private def two(n: Int) = f"$n%02d"

  private def timestamp(t: java.time.LocalDateTime): String = {
    val base = s"${t.getYear}-${two(t.getMonthValue)}-${two(t.getDayOfMonth)} " +
      s"${two(t.getHour)}:${two(t.getMinute)}:${two(t.getSecond)}"
    val micros = t.getNano / 1000
    if (micros == 0) base else base + f".$micros%06d"
  }

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: BigInt => x.toString
    case x: Float => double(x.toDouble)
    case x: Double => double(x)
    case x: JBigDecimal => decimal(x)
    case x: scala.math.BigDecimal => decimal(x.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp => timestamp(t.toLocalDateTime)
    case t: java.time.Instant =>
      timestamp(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => timestamp(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }
        .sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Canonical row string; `order` lists column positions sorted by
    * column name. */
  def row(r: Row, order: Seq[Int]): String =
    order.map(i => value(r.get(i))).mkString("\u001f")

  def hash64(s: String): Long = {
    val h = MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  def hex(sum: Long): String = f"$sum%016x"

  /** Row count and digest of `df`, computed by executing its own
    * physical plan (the plan the timed loop executes) once. */
  def of(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2).toSeq
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val (n, sum) = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var sum = 0L
      it.foreach { ir =>
        n += 1
        sum += hash64(row(toRow(ir).asInstanceOf[Row], order))
      }
      Iterator.single((n, sum))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (n, hex(sum))
  }
}
