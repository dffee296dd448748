package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Naive-reference equivalence for the bucket-checksummed data diff:
  * the DuckDB oracle pins `mig_data_diff` on the fixture's seeded
  * defect pattern; this spec drives the factored classify core over
  * random source/target pairs where the pruning's edge cases occur —
  * zero defects (every bucket clean, the drill join must still report
  * the full identical count), defects concentrated in one bucket,
  * count-preserving defects (a changed row keeps its bucket count
  * equal and only the checksum disagrees), and targets with ONLY
  * extras (buckets present on one side of the summary full-outer).
  */
/** Orders-shaped test row — top-level so the product encoder's
  * generated code can reach the accessors (the BmpDecoded convention).
  */
case class DataDiffRow(k: Long, ck: Long, st: String, price: Double,
    ts: Timestamp, pri: String)

/** Source-side rows hashed so far, counted inside the Spark tasks. */
object DataDiffSlowSide { val rowsSeen = new java.util.concurrent.atomic.AtomicInteger }

class DataDiffSpec extends AnyFunSuite {
  private type R = DataDiffRow
  private val R = DataDiffRow

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def toDf(rows: Seq[R]) = {
    import spark.implicits._
    rows.toDF("k", "ck", "st", "price", "ts", "pri")
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
  }

  private def run(src: Seq[R], tgt: Seq[R]): Map[String, (Long, Option[Long], Option[Long])] =
    queries.Migration.dataDiffClassify(toDf(src), toDf(tgt))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap

  /** Naive reference: full key join, value-level compare (prices
    * compared at the DECIMAL(12,2) rendering the checksum hashes).
    */
  private def reference(src: Seq[R], tgt: Seq[R]): Map[String, (Long, Option[Long], Option[Long])] = {
    def render(r: R): String =
      f"${r.ck}|${r.st}|${BigDecimal(r.price).setScale(2, BigDecimal.RoundingMode.HALF_UP)}|${r.ts}|${r.pri}"
    val sm = src.map(r => r.k -> render(r)).toMap
    val tm = tgt.map(r => r.k -> render(r)).toMap
    val classes = (sm.keySet ++ tm.keySet).toSeq.map { k =>
      (sm.get(k), tm.get(k)) match {
        case (Some(_), None) => ("missing_in_target", k)
        case (None, Some(_)) => ("extra_in_target", k)
        case (Some(a), Some(b)) if a != b => ("changed", k)
        case _ => ("identical", k)
      }
    }
    classes.groupBy(_._1).map { case (c, ks) =>
      val keys = ks.map(_._2)
      if (c == "identical") c -> (keys.size.toLong, None, None)
      else c -> (keys.size.toLong, Some(keys.min), Some(keys.max))
    }
  }

  private def randRows(rnd: scala.util.Random, n: Int): Seq[R] =
    (0 until n).map { i =>
      R(i.toLong, rnd.nextInt(50).toLong, s"S${rnd.nextInt(3)}",
        math.round(rnd.nextDouble() * 10000) / 100.0,
        Timestamp.valueOf(f"2024-01-${1 + rnd.nextInt(28)}%02d 00:00:00"),
        s"P${rnd.nextInt(4)}")
    }

  test("zero defects: everything identical, min/max keys null") {
    val rnd = new scala.util.Random(1)
    val rows = randRows(rnd, 400)
    val got = run(rows, rows)
    assert(got == Map("identical" -> ((400L, None, None))), got)
  }

  test("random defects classify exactly like the naive full join") {
    val rnd = new scala.util.Random(2)
    for (trial <- 0 until 3) {
      val src = randRows(rnd, 300)
      // inject: drop ~5%, corrupt price on ~5%, re-key ~5% as extras
      val tgt = src.flatMap { r =>
        rnd.nextInt(20) match {
          case 0 => Nil
          case 1 => Seq(r.copy(price = r.price + 0.01))
          case 2 => Seq(r, r.copy(k = r.k + 1000000L))
          case _ => Seq(r)
        }
      }
      val got = run(src, tgt)
      val want = reference(src, tgt)
      assert(got == want, s"trial=$trial got=$got want=$want")
    }
  }

  test("count-preserving single change in one bucket is caught by the checksum") {
    val rnd = new scala.util.Random(3)
    val src = randRows(rnd, 300)
    // same key count per bucket, one value changed: only the
    // checksum-sum can notice this bucket is dirty
    val tgt = src.map(r =>
      if (r.k == 137L) r.copy(pri = "MUTATED") else r)
    val got = run(src, tgt)
    assert(got("changed") == ((1L, Some(137L), Some(137L))), got)
    assert(got("identical")._1 == 299L, got)
  }

  test("target with only extras: buckets beyond the source side still drill") {
    val rnd = new scala.util.Random(4)
    val src = randRows(rnd, 100)
    val extras = (0 until 5).map(i => randRows(rnd, 1).head.copy(
      k = 5000L + i * 256L)) // all extras land in ONE bucket class
    val got = run(src, src ++ extras)
    assert(got("extra_in_target")._1 == 5L, got)
    assert(got("identical")._1 == 100L, got)
  }

  test("a failed target checkpoint surfaces only after the source side has finished") {
    import org.apache.spark.sql.functions.{col, udf}
    val rows = (1L to 40L).map(k =>
      R(k, k, "O", 1.0, new Timestamp(0L), "1-URGENT"))
    val slow = udf { (k: Long) =>
      Thread.sleep(50); DataDiffSlowSide.rowsSeen.incrementAndGet(); k
    }
    val boom = udf { (k: Long) =>
      if (k > 0) throw new IllegalStateException("target unreadable"); k
    }
    DataDiffSlowSide.rowsSeen.set(0)
    intercept[Exception](queries.Migration.dataDiffClassify(
      toDf(rows).withColumn("o_custkey", slow(col("o_custkey"))),
      toDf(rows).withColumn("o_custkey", boom(col("o_custkey")))))
    assert(DataDiffSlowSide.rowsSeen.get() >= rows.size)
  }
}
