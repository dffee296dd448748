package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneId}

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Renders [[SqlLiteral.valueTuple]]'s `(v1, v2) ` tuples straight from
  * Spark's `InternalRow`s into a growable UTF-8 byte buffer, skipping the
  * external `Row`, the per-value `String` and the re-encoding. The bytes
  * are exactly `SqlLiteral.valueTuple(row.toSeq, quotedDecimals)
  * .getBytes(UTF-8)` for the `Row` Spark would have deserialized:
  *
  *  - strings copy their UTF-8 bytes, doubling `'` and `\` (both ASCII,
  *    so never inside a multibyte sequence); malformed UTF-8 goes
  *    through the same decode as `UTF8String.toString`;
  *  - ints, longs, and timestamps inside 1900..9999 are written as
  *    digits, with the 3/6-digit fraction trimming of `SqlLiteral`.
  *    Timestamps take the JVM default zone's wall clock, as
  *    `java.sql.Timestamp.toLocalDateTime` does; the zone is read once,
  *    when the renderer is built;
  *  - doubles keep `java.lang.Double.toString`;
  *  - any other type, and timestamps outside that window (where the
  *    hybrid Julian calendar and pre-1900 zone offsets of `java.sql`
  *    come into play), are converted to their external value and
  *    rendered by `SqlLiteral.render`.
  *
  * One renderer serves one partition task; it is not thread-safe.
  */
private[graft] final class TupleRenderer(schema: StructType,
    quotedDecimals: Boolean) {
  import TupleRenderer._

  private var buf = new Array[Byte](1 << 16)
  private var pos = 0

  /** The buffer; bytes `[0, length)` are the rendered output. */
  def bytes: Array[Byte] = buf
  def length: Int = pos

  def append(b: Byte): Unit = { ensure(1); buf(pos) = b; pos += 1 }

  def append(bs: Array[Byte]): Unit = {
    ensure(bs.length)
    System.arraycopy(bs, 0, buf, pos, bs.length)
    pos += bs.length
  }

  /** Moves bytes `[from, length)` to `to` and ends the buffer after them. */
  def moveTail(from: Int, to: Int): Unit = {
    System.arraycopy(buf, from, buf, to, pos - from)
    pos = to + pos - from
  }

  def appendTuple(row: InternalRow): Unit = {
    append('('.toByte)
    var i = 0
    while (i < writers.length) {
      if (i > 0) { append(','.toByte); append(' '.toByte) }
      if (row.isNullAt(i)) putAscii("NULL") else writers(i).write(row, i)
      i += 1
    }
    append(')'.toByte); append(' '.toByte)
  }

  private def ensure(n: Int): Unit =
    if (pos + n > buf.length)
      buf = java.util.Arrays.copyOf(buf,
        math.max(pos + n, math.min(buf.length.toLong * 2, Int.MaxValue - 8).toInt))

  private def putAscii(s: String): Unit = {
    val n = s.length
    ensure(n)
    var i = 0
    while (i < n) { buf(pos + i) = s.charAt(i).toByte; i += 1 }
    pos += n
  }

  private def putQuote(): Unit = append('\''.toByte)

  private def putLong(v: Long): Unit =
    if (v == Long.MinValue) putAscii(v.toString)
    else {
      if (v < 0) append('-'.toByte)
      val a = math.abs(v)
      var n = 1
      while (n < Pow10.length && a >= Pow10(n)) n += 1
      putPadded(a, n)
    }

  /** `v` as exactly `width` digits, zero-padded (`v` < 10^width). */
  private def putPadded(v: Long, width: Int): Unit = {
    ensure(width)
    var a = v
    var i = pos + width - 1
    while (i >= pos) { buf(i) = ('0' + (a % 10)).toByte; a /= 10; i -= 1 }
    pos += width
  }

  private def putString(u: UTF8String): Unit = {
    val n = u.numBytes
    ensure(2 * n + 2)
    val start = pos
    putQuote()
    val base = u.getBaseObject
    val off = u.getBaseOffset
    var ascii = true
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b == '\'' || b == '\\') { buf(pos) = b; pos += 1 }
      else if (b < 0) ascii = false
      buf(pos) = b; pos += 1
      i += 1
    }
    if (!ascii && !u.isValid) {
      // what the external String would hold: replacement characters
      pos = start
      putQuote()
      putEscaped(u.toString.getBytes(UTF_8))
    }
    putQuote()
  }

  private def putEscaped(bs: Array[Byte]): Unit = {
    ensure(2 * bs.length)
    var i = 0
    while (i < bs.length) {
      val b = bs(i)
      if (b == '\'' || b == '\\') { buf(pos) = b; pos += 1 }
      buf(pos) = b; pos += 1
      i += 1
    }
  }

  /** `yyyy-MM-dd` of an epoch day inside 1900..9999. */
  private def putDate(epochDay: Long): Unit = {
    // days-to-civil (H. Hinnant), all terms non-negative in the window
    val z = epochDay + 719468
    val era = z / 146097
    val doe = z - era * 146097
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val d = doy - (153 * mp + 2) / 5 + 1
    val m = if (mp < 10) mp + 3 else mp - 9
    putPadded(yoe + era * 400 + (if (m <= 2) 1 else 0), 4)
    append('-'.toByte); putPadded(m, 2)
    append('-'.toByte); putPadded(d, 2)
  }

  /** `yyyy-MM-dd HH:mm:ss[.fff|.ffffff]` of local epoch micros. */
  private def putDateTime(localMicros: Long): Unit = {
    val secs = Math.floorDiv(localMicros, MicrosPerSecond)
    val frac = Math.floorMod(localMicros, MicrosPerSecond)
    putDate(Math.floorDiv(secs, SecondsPerDay))
    val sod = Math.floorMod(secs, SecondsPerDay)
    append(' '.toByte); putPadded(sod / 3600, 2)
    append(':'.toByte); putPadded(sod / 60 % 60, 2)
    append(':'.toByte); putPadded(sod % 60, 2)
    if (frac != 0) {
      append('.'.toByte)
      if (frac % 1000 == 0) putPadded(frac / 1000, 3) else putPadded(frac, 6)
    }
  }

  private abstract class Writer {
    def write(row: InternalRow, i: Int): Unit
  }

  /** The external value and [[SqlLiteral.render]]: the rare-type path. */
  private final class Fallback(dt: DataType) extends Writer {
    private val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    def write(row: InternalRow, i: Int): Unit =
      append(SqlLiteral.render(toScala(row.get(i, dt)), quotedDecimals).getBytes(UTF_8))
  }

  private val zoneRules = ZoneId.systemDefault().getRules
  private val fixedOffset = zoneRules.isFixedOffset
  private val fixedOffsetMicros =
    zoneRules.getOffset(Instant.EPOCH).getTotalSeconds * MicrosPerSecond

  private def offsetMicros(utcMicros: Long): Long =
    if (fixedOffset) fixedOffsetMicros
    else zoneRules.getOffset(Instant.ofEpochSecond(
      Math.floorDiv(utcMicros, MicrosPerSecond))).getTotalSeconds * MicrosPerSecond

  private def writerFor(dt: DataType): Writer = dt match {
    case IntegerType => new Writer {
      def write(row: InternalRow, i: Int): Unit = putLong(row.getInt(i).toLong)
    }
    case LongType => new Writer {
      def write(row: InternalRow, i: Int): Unit = putLong(row.getLong(i))
    }
    case DoubleType => new Writer {
      def write(row: InternalRow, i: Int): Unit =
        putAscii(java.lang.Double.toString(row.getDouble(i)))
    }
    case _: StringType => new Writer {
      def write(row: InternalRow, i: Int): Unit = putString(row.getUTF8String(i))
    }
    case TimestampType => new Writer {
      private val slow = new Fallback(dt)
      def write(row: InternalRow, i: Int): Unit = {
        val micros = row.getLong(i)
        // one day of margin on both ends for the zone offset
        if (micros >= (MinFastDay + 1) * MicrosPerDay &&
            micros < MaxFastDay * MicrosPerDay) {
          putQuote(); putDateTime(micros + offsetMicros(micros)); putQuote()
        } else slow.write(row, i)
      }
    }
    case TimestampNTZType => new Writer {
      private val slow = new Fallback(dt)
      def write(row: InternalRow, i: Int): Unit = {
        val micros = row.getLong(i)
        if (micros >= MinFastDay * MicrosPerDay &&
            micros < (MaxFastDay + 1) * MicrosPerDay) {
          putQuote(); putDateTime(micros); putQuote()
        } else slow.write(row, i)
      }
    }
    case other => new Fallback(other)
  }

  private val writers: Array[Writer] = schema.fields.map(f => writerFor(f.dataType))
}

private object TupleRenderer {
  private val MicrosPerSecond = 1000000L
  private val SecondsPerDay = 86400L
  private val MicrosPerDay = MicrosPerSecond * SecondsPerDay
  private val MinFastDay = java.time.LocalDate.of(1900, 1, 1).toEpochDay.toInt
  private val MaxFastDay = java.time.LocalDate.of(9999, 12, 31).toEpochDay.toInt
  private val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)
}
