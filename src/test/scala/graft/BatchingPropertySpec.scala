package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{BatchSink, BatchedInsertWriter}

object RecordingSink {
  val batches = mutable.ListBuffer.empty[(String, Int)]
}

class RecordingSink extends BatchSink {
  override def execute(sql: String, rows: Int): Unit =
    RecordingSink.synchronized { RecordingSink.batches += ((sql, rows)) }
}

/** Generator-based properties of the byte-bounded batch writer — the
  * invariants the reference's packet contract demands
  * (table_migrator.rs:116-167): no batch exceeds the bound (when any
  * single row fits), every row lands exactly once, every batch is a
  * well-formed INSERT.
  */
class BatchingPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val insertStmt = "INSERT INTO `t` (`id`, `s`) VALUES"

  test("property: byte bound respected, rows conserved, batches well-formed") {
    import spark.implicits._
    val genRows = Gen.listOfN(60,
      Gen.zip(Gen.chooseNum(-1000000, 1000000),
        Gen.alphaNumStr.map(_.take(30))))
    var seed = rng.Seed(7L)
    for (_ <- 1 to 15) {
      val rows = genRows.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val maxBytes = 80 + (seed.long._1 % 120).toInt.abs // 80..199

      RecordingSink.batches.clear()
      val df = rows.toDF("id", "s").repartition(3)
      val n = BatchedInsertWriter.write(df, insertStmt, maxBytes,
        new RecordingSink)

      val batches = RecordingSink.synchronized { RecordingSink.batches.toList }
      assert(n == rows.size)
      assert(batches.map(_._2).sum == rows.size)
      batches.foreach { case (sql, cnt) =>
        assert(sql.startsWith(insertStmt))
        assert(sql.sliding(insertStmt.length).count(_ == insertStmt) == 1)
        // bound holds unless a single tuple alone exceeds it; the
        // joining comma counts before the flush test, so the reserve
        // is never entered
        if (cnt > 1)
          assert(BatchedInsertWriter.ReservedBytes +
            sql.getBytes("UTF-8").length <= maxBytes,
            s"batch of $cnt rows is ${sql.length}B > bound $maxBytes")
        // value-tuple count matches the reported row count (+1 for the
        // column list in the INSERT prefix)
        assert(sql.count(_ == '(') == cnt + 1)
      }
    }
  }

  test("single oversized row still flushes alone") {
    import spark.implicits._
    RecordingSink.batches.clear()
    val df = Seq((1, "x" * 500)).toDF("id", "s").repartition(1)
    val n = BatchedInsertWriter.write(df, insertStmt, 50, new RecordingSink)
    assert(n == 1)
    assert(RecordingSink.batches.size == 1)
  }
}
