package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{SchemaSource, TargetWriter}
import graft.types.ColumnSchema

/** Times the read side of a migration from outside the program: table
  * listing, schema probes and the set-up of each scan (for a JDBC source
  * the bounds probe runs here; the scan itself runs later, inside the
  * write job).
  */
final class TimedSource(inner: SchemaSource) extends SchemaSource {
  override def fetchTables(): Seq[String] =
    Trace.span("engine.introspect.fetchTables")(inner.fetchTables())

  override def getTableSchema(table: String): Seq[ColumnSchema] =
    Trace.span("engine.introspect.schema")(inner.getTableSchema(table))

  override def read(spark: SparkSession, table: String): DataFrame =
    Trace.span("engine.introspect.read")(inner.read(spark, table))
}

/** Times the write side: DDL and guards in the calling thread, batches
  * inside the Spark tasks. Also counts batches and their bytes, so packet
  * fill can be read as mean batch bytes over the packet bound.
  */
final class TimedWriter(inner: TargetWriter) extends TargetWriter {
  override def maxAllowedPacket: Long = inner.maxAllowedPacket
  override def quotedDecimalLiterals: Boolean = inner.quotedDecimalLiterals

  override def showTables(): Seq[String] =
    Trace.span("engine.ddl.showTables")(inner.showTables())
  override def executeReset(sql: String): Unit =
    Trace.span("engine.ddl.reset")(inner.executeReset(sql))
  override def tableExists(table: String): Boolean =
    Trace.span("engine.ddl.tableExists")(inner.tableExists(table))
  override def rowCount(table: String): Long =
    Trace.span("engine.ddl.rowCount")(inner.rowCount(table))
  override def createTable(sql: String): Unit =
    Trace.span("engine.ddl.createTable")(inner.createTable(sql))
  override def createConstraints(sql: String): Unit =
    Trace.span("engine.ddl.constraints")(inner.createConstraints(sql))

  override def executeBatch(sql: String, rowCount: Int): Unit = {
    Trace.span("engine.batch_write")(inner.executeBatch(sql, rowCount))
    if (Trace.enabled) {
      Trace.count("engine.batches", 1)
      Trace.count("engine.batch_bytes", sql.getBytes(StandardCharsets.UTF_8).length)
    }
  }
}
