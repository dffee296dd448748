package graft.engine

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
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
  * buffers at most one packet. Rows are read as Spark's `InternalRow`s
  * and rendered by a [[TupleRenderer]] straight into that buffer as
  * UTF-8 bytes, so a tuple's byte length is known without encoding it
  * twice and no external `Row` or per-value `String` is built; the
  * statement is decoded to a `String` once, when the batch flushes.
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
    val schema = df.schema
    val prefix = insertStatement.getBytes(UTF_8)
    val qe = df.queryExecution

    SQLExecution.withNewExecutionId(qe, Some("batched insert")) {
      qe.toRdd.foreachPartition { it =>
        sink.open(TaskContext.getPartitionId())
        try {
          // the statement so far: the prefix, then comma-joined tuples
          val out = new TupleRenderer(schema, quotedDecimals)
          out.append(prefix)
          var batchRows = 0

          def flush(end: Int): Unit = if (batchRows > 0) {
            sink.execute(new String(out.bytes, 0, end, UTF_8), batchRows)
            rows.add(batchRows.toLong)
            batchRows = 0
          }

          while (it.hasNext) {
            val mark = out.length
            if (batchRows > 0) out.append(','.toByte)
            out.appendTuple(it.next())
            // the buffer now holds prefix + tuples + joining comma + the
            // new tuple: exactly the bytes the bound is tested on
            if (batchRows > 0 && ReservedBytes + out.length > maxPacketBytes) {
              flush(mark)
              out.moveTail(mark + 1, prefix.length)
            }
            // A single tuple larger than the packet bound still ships as
            // its own batch (no flush at batchRows == 0) — reference
            // parity: its loop does the same and lets the server reject
            // it; the startup packet guard only validates the configured
            // bound.
            batchRows += 1
          }
          flush(out.length)
        } finally sink.close()
      }
    }
    rows.value
  }
}
