package graft.sources.delta

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The Hive partition-path format, both directions: a typed value
  * renders to a logical string ([[renderPartitionValue]]) and escapes
  * into a `col=value/` path segment ([[escapePathName]]); a path parses
  * back to logical strings ([[partValuesFromPath]], which undoes the
  * escaping) and a logical string parses to the typed value
  * ([[parsePartition]]). Actions store the LOGICAL string per the Delta
  * protocol; escaping belongs to the file path only. */
private[sources] object PartitionPath {

  /** Internal value → logical partition string, the inverse of
    * [[parsePartition]]. */
  def renderPartitionValue(v: Any, t: DataType, zone: java.time.ZoneId): String =
    t match {
      case StringType => v.toString
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
           FloatType | DoubleType => v.toString
      case DateType => java.time.LocalDate.ofEpochDay(
        v.asInstanceOf[Int].toLong).toString
      case TimestampType =>
        val micros = v.asInstanceOf[Long]
        val inst = java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
        java.time.LocalDateTime.ofInstant(inst, zone).toString.replace('T', ' ')
      case TimestampNTZType =>
        // zoneless wall-clock: render the stored micros as-is (UTC
        // frame), NOT through the session zone — NTZ has no zone
        val micros = v.asInstanceOf[Long]
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC).toString.replace('T', ' ')
      case d: DecimalType =>
        v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal.toPlainString
      case other =>
        throw new IllegalArgumentException(
          s"graft-delta sink: partition column type $other")
    }

  /** Hive path escaping (the char set Spark/Hive escape), inverse of
    * [[unescapePathName]]. */
  def escapePathName(s: String): String = {
    def unsafe(c: Char): Boolean =
      c < ' ' || c == '\u007F' || "\"#%'*/:=?\\{[]^".indexOf(c.toInt) >= 0
    val sb = new java.lang.StringBuilder(s.length)
    s.foreach { c =>
      if (unsafe(c)) sb.append(f"%%${c.toInt}%02X")
      else sb.append(c)
    }
    sb.toString
  }

  /** Hive-path percent-escaping, undone — applied ONCE at the
    * path→logical boundary ([[partValuesFromPath]]) so
    * `ts=2024-01-01 00%3A00%3A00` round-trips. */
  def unescapePathName(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Partition values parsed off a file's path RELATIVE to the table
    * root — the `col=value` directory segments, unescaped to the logical
    * form add/cdc actions store. Remove actions don't carry
    * partitionValues, their path does; the staging walk and the sink
    * commit derive their adds' values here too, so a `lang=a%3Ab/`
    * segment records `lang -> "a:b"` on every route. */
  def partValuesFromPath(path: String): Map[String, String] =
    path.split("/").dropRight(1).filter(_.contains("=")).map { seg =>
      val i = seg.indexOf('=')
      seg.substring(0, i) -> unescapePathName(seg.substring(i + 1))
    }.toMap

  /** Typed value from a LOGICAL (already-unescaped) partition string —
    * the form add/cdc actions store per the Delta protocol and the form
    * [[partValuesFromPath]] returns. Escaping is a PATH concern only; a
    * value that legitimately contains `%3A` must not be collapsed to `:`
    * here. */
  def parsePartition(raw: String, t: DataType, zone: java.time.ZoneId): Any =
    if (raw == null || raw == "__HIVE_DEFAULT_PARTITION__") null
    else t match {
      case BooleanType => raw.toBoolean
      case ByteType => raw.toByte
      case ShortType => raw.toShort
      case IntegerType => raw.toInt
      case LongType => raw.toLong
      case FloatType => raw.toFloat
      case DoubleType => raw.toDouble
      case StringType => UTF8String.fromString(raw)
      case DateType => java.time.LocalDate.parse(raw).toEpochDay.toInt
      case TimestampType =>
        // Hive path format `yyyy-MM-dd HH:mm:ss[.f…]`, session zone
        val inst = java.time.LocalDateTime.parse(raw.replace(' ', 'T'))
          .atZone(zone).toInstant
        Math.addExact(Math.multiplyExact(inst.getEpochSecond, 1000000L),
          inst.getNano / 1000L)
      case TimestampNTZType =>
        // zoneless wall-clock: micros in the UTC frame, symmetric with
        // renderPartitionValue
        val ldt = java.time.LocalDateTime.parse(raw.replace(' ', 'T'))
        Math.addExact(Math.multiplyExact(
          ldt.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L),
          ldt.getNano / 1000L)
      case d: DecimalType =>
        Decimal(BigDecimal(new java.math.BigDecimal(raw)), d.precision, d.scale)
      case other => throw new IllegalStateException(s"graft-delta: $other")
    }
}
