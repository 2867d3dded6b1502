package graftbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Row count plus an order-insensitive hash over every column of a
  * result: the value `tools/make_expected.py` computes from DuckDB.
  *
  * Each value is written as canonical text (numbers of every type in
  * one form, floats rounded to 12 significant digits so the last bit
  * of a float sum does not depend on partitioning) after its column's
  * type kind (int, float, decimal or other, as `tools/parity_check.py`
  * tells them apart), so a column that changes kind changes the hash.
  * A row is its values in column-name order, and the hash is the sum
  * modulo 2^64 of the first 8 bytes of each row's MD5. Computing it
  * reads every column of every row, as a noop sink would.
  */
object Fingerprint {
  final case class Fp(rows: Long, hash: String)

  private val Sep = "\u001f"
  private val Digits = new MathContext(12, RoundingMode.HALF_EVEN)

  private def number(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case d: java.math.BigDecimal => number(d)
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => timestamp(t.toInstant)
    case t: java.time.Instant => timestamp(t)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else number(new java.math.BigDecimal(d).round(Digits))

  private def timestamp(i: java.time.Instant): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .format(i.atZone(java.time.ZoneOffset.UTC))

  def kind(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => "int"
    case FloatType | DoubleType => "float"
    case _: DecimalType => "decimal"
    case _ => "other"
  }

  def rowHash(kinds: Seq[String], values: Seq[Any], md: java.security.MessageDigest): Long = {
    val text = kinds.zip(values).map { case (k, v) => k + ":" + canon(v) }.mkString(Sep)
    val d = md.digest(text.getBytes(UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  def of(df: DataFrame): Fp = {
    val names = df.columns.toSeq.sorted
    val sorted = df.select(names.map(n => col(s"`$n`")): _*)
    val kinds = sorted.schema.fields.toSeq.map(f => kind(f.dataType))
    val parts = sorted
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        var n = 0L
        var s = 0L
        it.foreach { r => n += 1; s += rowHash(kinds, r.toSeq, md) }
        Iterator((n, s))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect()
    Fp(parts.map(_._1).sum, f"${parts.map(_._2).sum}%016x")
  }
}
