package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.util.LongAccumulator

/** Executor-side sink for rendered INSERT batches. One instance is
  * serialized into each partition task — a JDBC implementation opens
  * its connection in `open` (one connection per partition, the Spark
  * analogue of the reference's one-connection-per-table stream) and
  * commits each `execute` as a transaction with FK checks off.
  */
trait BatchSink extends Serializable {
  def open(partitionId: Int): Unit = {}
  def execute(sql: String, rows: Int): Unit
  def close(): Unit = {}
}

/** Byte-bounded multi-row INSERT batching, the reference's core write
  * loop (/root/reference/src/migrate/table_migrator.rs:116-167)
  * distributed per partition: accumulate `(v1, v2) ` value tuples
  * until `RESERVED_BYTES + bytes(next) would exceed maxPacketBytes`,
  * flush as one statement/transaction, repeat; final partial flush.
  *
  * Byte accounting follows the reference: the prefix counts once per
  * batch, tuples are comma-joined (+1 byte per comma), and 10 reserved
  * slack bytes are held back (table_migrator.rs:19). Lengths are UTF-8
  * byte lengths, not char counts, to honor MySQL's max_allowed_packet
  * (SURVEY.md §7.4). One deliberate departure: the reference tests the
  * bound before counting the joining comma, so a full batch could end
  * one byte into the reserve; here the comma counts before the test,
  * so every multi-tuple statement keeps bytes + ReservedBytes <=
  * maxPacketBytes (batches can hold one tuple fewer than the
  * reference's at the exact edge).
  *
  * Scale: the loop is per-partition sequential (as any JDBC writer
  * is); throughput scales with partition count, and each partition
  * buffers at most one packet.
  */
object BatchedInsertWriter {

  val ReservedBytes = 10

  def write(
      df: DataFrame,
      insertStatement: String,
      maxPacketBytes: Int,
      sink: BatchSink,
      quotedDecimals: Boolean = true): Long = {

    val rows: LongAccumulator =
      df.sparkSession.sparkContext.longAccumulator("rows_migrated")

    df.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      sink.open(pid)
      try {
        val prefixBytes = insertStatement.getBytes("UTF-8").length
        val sb = new StringBuilder
        var totalBytes = prefixBytes
        var batchRows = 0

        def flush(): Unit = if (batchRows > 0) {
          sink.execute(sb.toString, batchRows)
          rows.add(batchRows.toLong)
          sb.clear()
          totalBytes = prefixBytes
          batchRows = 0
        }

        while (it.hasNext) {
          val row = it.next()
          val tuple = SqlLiteral.valueTuple(row.toSeq, quotedDecimals)
          val tupleBytes = tuple.getBytes("UTF-8").length

          val commaBytes = if (batchRows > 0) 1 else 0
          if (ReservedBytes + totalBytes + commaBytes + tupleBytes >
              maxPacketBytes)
            flush()
          // A single tuple larger than the packet bound still ships as
          // its own batch (flush above was a no-op at batchRows == 0) —
          // reference parity: its loop does the same and lets the
          // server reject it; the startup packet guard only validates
          // the configured bound.

          if (sb.nonEmpty) { sb.append(','); totalBytes += 1 }
          if (batchRows == 0) sb.append(insertStatement)
          sb.append(tuple)
          totalBytes += tupleBytes
          batchRows += 1
        }
        flush()
      } finally sink.close()
    }
    rows.value
  }
}
