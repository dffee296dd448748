package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.TimeZone

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{BatchedInsertWriter, SqlLiteral, TupleRenderer}

/** Parity of the write path's byte renderer with its spec: for random
  * rows of every type the fixture and JDBC sources produce (plus two
  * rare types that take the fallback), the rendered bytes equal
  * `SqlLiteral.valueTuple` over the `Row` Spark deserializes, encoded as
  * UTF-8, for both decimal quotings and under a non-UTC JVM zone.
  */
class TupleRendererPropertySpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("b", BooleanType), StructField("i8", ByteType),
    StructField("i16", ShortType), StructField("i32", IntegerType),
    StructField("i64", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("dec", DecimalType(12, 2)),
    StructField("dec0", DecimalType(18, 0)), StructField("decf", DecimalType(18, 18)),
    StructField("decw", DecimalType(38, 10)), StructField("s", StringType),
    StructField("bin", BinaryType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
    StructField("ivl", DayTimeIntervalType()),
    StructField("arr", ArrayType(IntegerType))))

  private def epochDay(y: Int, m: Int, d: Int): Int =
    LocalDate.of(y, m, d).toEpochDay.toInt

  // the edges of the renderer's digit window and of the Julian switch
  private val edgeDays = Seq(epochDay(1, 1, 1), epochDay(1000, 6, 30),
    epochDay(1582, 10, 4), epochDay(1582, 10, 10), epochDay(1582, 10, 15),
    epochDay(1883, 11, 18), epochDay(1899, 12, 31), epochDay(1900, 1, 1),
    epochDay(1900, 1, 2), 0, epochDay(2038, 1, 19), epochDay(9999, 12, 30),
    epochDay(9999, 12, 31), epochDay(10000, 1, 1), epochDay(12000, 2, 29))

  private val genDay: Gen[Int] = Gen.frequency(
    6 -> Gen.chooseNum(epochDay(1899, 6, 1), epochDay(2100, 1, 1)),
    2 -> Gen.chooseNum(epochDay(1, 1, 1), epochDay(12000, 1, 1)),
    2 -> Gen.oneOf(edgeDays))

  private val MicrosPerDay = 86400L * 1000000L

  private val genMicros: Gen[Long] = for {
    day <- genDay
    sec <- Gen.chooseNum(0L, 86399L)
    frac <- Gen.oneOf(Gen.const(0L), Gen.chooseNum(0L, 999L).map(_ * 1000L),
      Gen.chooseNum(0L, 999999L))
  } yield day * MicrosPerDay + sec * 1000000L + frac

  private val genText: Gen[UTF8String] = Gen.frequency(
    4 -> Gen.listOf(Gen.oneOf(Gen.alphaNumChar,
      Gen.oneOf('\'', '\\', ' ', 'é', '中', '\u0000', '\n'))).map(cs =>
      UTF8String.fromString(cs.mkString)),
    1 -> Gen.oneOf("😀 emoji", "O'Brien \\ path", "", "''\\\\").map(UTF8String.fromString),
    1 -> Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(bs =>
      UTF8String.fromBytes(bs.toArray))) // malformed UTF-8 too

  private def genDecimal(p: Int, s: Int): Gen[Decimal] =
    Gen.listOfN(3, Gen.chooseNum(Long.MinValue, Long.MaxValue)).map { ls =>
      val unscaled = ls.map(BigInt(_)).reduce(_ * BigInt(Long.MaxValue) + _) %
        BigInt(10).pow(p)
      Decimal(BigDecimal(unscaled, s), p, s)
    }

  private val genDouble: Gen[Double] = Gen.oneOf(
    Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.0, Double.MinPositiveValue, Double.MaxValue, 1e7, 1e-3),
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble),
    Gen.chooseNum(-1e6, 1e6))

  private val genFloat: Gen[Float] = Gen.oneOf(
    Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
      -0.0f, Float.MinPositiveValue, Float.MaxValue),
    Gen.chooseNum(Int.MinValue, Int.MaxValue).map(java.lang.Float.intBitsToFloat))

  private val genValues: Seq[Gen[Any]] = Seq(
    Gen.oneOf(true, false), Gen.chooseNum(Byte.MinValue, Byte.MaxValue),
    Gen.chooseNum(Short.MinValue, Short.MaxValue),
    Gen.chooseNum(Int.MinValue, Int.MaxValue),
    Gen.chooseNum(Long.MinValue, Long.MaxValue), genFloat, genDouble,
    genDecimal(12, 2), genDecimal(18, 0), genDecimal(18, 18), genDecimal(38, 10),
    genText, Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
    genDay, genMicros, genMicros, Gen.chooseNum(-MicrosPerDay * 400, MicrosPerDay * 400),
    Gen.listOf(Gen.chooseNum(-5, 5)).map(xs =>
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(xs.toArray)))

  private val genRow: Gen[InternalRow] =
    Gen.sequence[Seq[Any], Any](genValues.map(g =>
      Gen.frequency(1 -> Gen.const(null), 9 -> g))).map(vs =>
      new GenericInternalRow(vs.toArray))

  private def rows(seed: Long, n: Int): Seq[InternalRow] = {
    var s = rng.Seed(seed)
    (1 to n).map { _ =>
      val r = genRow.pureApply(Gen.Parameters.default, s)
      s = s.next
      r
    }
  }

  private def checkParity(seed: Long): Unit = {
    val toRow = ExpressionEncoder(schema).resolveAndBind().createDeserializer()
    for (q <- Seq(true, false)) {
      val renderer = new TupleRenderer(schema, q)
      rows(seed, 1500).foreach { r =>
        val start = renderer.length
        renderer.appendTuple(r)
        val got = new String(renderer.bytes, start, renderer.length - start, UTF_8)
        val external = toRow(r)
        val want = SqlLiteral.valueTuple(external.toSeq, q)
        assert(java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(renderer.bytes, start, renderer.length),
          want.getBytes(UTF_8)),
          s"quotedDecimals=$q zone=${TimeZone.getDefault.getID}\n got  $got\n want $want")
      }
    }
  }

  test("property: rendered bytes equal SqlLiteral.valueTuple's UTF-8, both decimal quotings") {
    checkParity(11L)
  }

  test("property: parity holds under a non-UTC JVM default zone") {
    val saved = TimeZone.getDefault
    try {
      Seq("America/Los_Angeles", "Asia/Kolkata").zipWithIndex.foreach { case (z, i) =>
        TimeZone.setDefault(TimeZone.getTimeZone(z))
        checkParity(23L + i)
      }
    } finally TimeZone.setDefault(saved)
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("write path: batches equal the external-Row loop's, byte for byte") {
    val toRow = ExpressionEncoder(schema).resolveAndBind().createDeserializer()
    val external = rows(31L, 400).map(r => toRow(r).copy())
    val df = spark.createDataFrame(java.util.Arrays.asList(external: _*), schema)
      .coalesce(1)
    val insert = "INSERT INTO `t` VALUES"
    for (packet <- Seq(300, 2000, 1 << 20)) {
      RecordingSink.batches.clear()
      BatchedInsertWriter.write(df, insert, packet, new RecordingSink)
      val got = RecordingSink.synchronized { RecordingSink.batches.toList }
      assert(got == referenceBatches(df.collect().toSeq, insert, packet))
    }
  }

  /** The writer's loop over external rows, as it read before rows were
    * rendered to bytes.
    */
  private def referenceBatches(rows: Seq[Row], insert: String,
      maxPacketBytes: Int): List[(String, Int)] = {
    val out = List.newBuilder[(String, Int)]
    val prefixBytes = insert.getBytes(UTF_8).length
    val sb = new StringBuilder
    var totalBytes = prefixBytes
    var batchRows = 0
    def flush(): Unit = if (batchRows > 0) {
      out += ((sb.toString, batchRows))
      sb.clear(); totalBytes = prefixBytes; batchRows = 0
    }
    rows.foreach { row =>
      val tuple = SqlLiteral.valueTuple(row.toSeq)
      val tupleBytes = tuple.getBytes(UTF_8).length
      val commaBytes = if (batchRows > 0) 1 else 0
      if (BatchedInsertWriter.ReservedBytes + totalBytes + commaBytes + tupleBytes >
          maxPacketBytes) flush()
      if (sb.nonEmpty) { sb.append(','); totalBytes += 1 }
      if (batchRows == 0) sb.append(insert)
      sb.append(tuple)
      totalBytes += tupleBytes
      batchRows += 1
    }
    flush()
    out.result()
  }
}
