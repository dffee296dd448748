package graft.engine

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.Tables
import graft.types.{ColumnSchema, Constraint, MssqlType}

/** SchemaSource over the driver parquet fixtures: the parquet tables
  * stand in for a JDBC source (FIXTURES.md §B). Parquet physical types
  * are presented as the MSSQL types the reference would see in
  * INFORMATION_SCHEMA, with key/FK constraints reconstructed from the
  * star schema.
  *
  * Each table's DataFrame is built once per instance and session, so
  * the schema probe and a scan in the constructor's session share one
  * parquet footer read; a scan in another session gets its own frame.
  */
final class ParquetFixtureSource(sfDir: String, spark: SparkSession)
    extends SchemaSource {

  private val frames = TrieMap.empty[(SparkSession, String), DataFrame]

  private def path(table: String) = Paths.get(s"$sfDir/$table.parquet")

  /** Bytes on disk: the file, or every file under a partitioned dir. */
  private def sizeOnDisk(table: String): Long = {
    val files = Files.walk(path(table))
    try files.iterator().asScala.filter(Files.isRegularFile(_)).map(p => Files.size(p)).sum
    finally files.close()
  }

  /** Largest first, so the longest table starts first; ties keep the
    * fixture order.
    */
  override def fetchTables(): Seq[String] =
    Tables.names.filter(t => Files.exists(path(t)))
      .map(t => t -> sizeOnDisk(t)).sortBy(-_._2).map(_._1)

  /** Primary/foreign keys of the TPC-H-ish star schema. */
  private val primaryKeys = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "events" -> "event_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  private val foreignKeys = Map(
    "n_regionkey" -> ("region", "r_regionkey"),
    "c_nationkey" -> ("nation", "n_nationkey"),
    "s_nationkey" -> ("nation", "n_nationkey"),
    "o_custkey" -> ("customer", "c_custkey"),
    "l_orderkey" -> ("orders", "o_orderkey"),
    "l_partkey" -> ("part", "p_partkey"),
    "l_suppkey" -> ("supplier", "s_suppkey"))

  override def getTableSchema(table: String): Seq[ColumnSchema] = {
    val struct = read(spark, table).schema
    struct.fields.toSeq.map { f =>
      val (mssql, len, prec, scale) = f.dataType match {
        case ByteType => (MssqlType.TinyInt, None, None, None)
        case ShortType => (MssqlType.SmallInt, None, None, None)
        case IntegerType => (MssqlType.Int, None, None, None)
        case LongType => (MssqlType.BigInt, None, None, None)
        case FloatType => (MssqlType.Real, None, None, None)
        case DoubleType => (MssqlType.Float, None, None, None)
        case d: DecimalType =>
          (MssqlType.Decimal, None, Some(d.precision), Some(d.scale))
        case StringType => (MssqlType.NVarchar, Some(-1), None, None)
        case BinaryType => (MssqlType.VarBinary, Some(-1), None, None)
        case DateType => (MssqlType.Date, None, None, None)
        case TimestampType => (MssqlType.DateTime2, None, None, None)
        case TimestampNTZType => (MssqlType.DateTime2, None, None, None)
        case ArrayType(_, _) =>
          // embeddings: no MSSQL analogue — migrated as JSON-ish text
          (MssqlType.NVarchar, Some(-1), None, None)
        case other =>
          throw new MigrationException.UnknownSourceType(table, f.name, other.simpleString)
      }
      val constraint: Option[Constraint] =
        if (primaryKeys.get(table).contains(f.name)) Some(Constraint.PrimaryKey)
        else foreignKeys.get(f.name).map {
          case (rt, rc) => Constraint.ForeignKey(rt, rc)
        }
      ColumnSchema(f.name, mssql, len, prec, scale, f.nullable, constraint)
    }
  }

  override def read(spark: SparkSession, table: String): DataFrame =
    frames.getOrElseUpdate((spark, table), load(spark, table))

  private def load(spark: SparkSession, table: String): DataFrame = {
    val df = Tables(spark, sfDir, table)
    // array columns are rendered to text for the relational target
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case ArrayType(_, _) =>
          acc.withColumn(f.name,
            org.apache.spark.sql.functions.to_json(
              org.apache.spark.sql.functions.col(f.name)))
        case _ => acc
      }
    }
  }
}

/** TargetWriter that materializes the migration as a SQL script per
  * table under `outDir` — the verifiable stand-in for a live MySQL
  * (the container has no database server). Driver-side DDL/reset ops
  * serialize under a lock; batch streams write one file per (table,
  * partition) with no contention.
  */
final class ScriptTargetWriter(outDir: String,
    val maxAllowedPacket: Long = 16777216L) extends TargetWriter {

  Files.createDirectories(Paths.get(outDir))

  private def append(file: String, text: String): Unit = synchronized {
    Files.write(Paths.get(s"$outDir/$file"), (text + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  override def showTables(): Seq[String] = synchronized {
    val stream = Files.list(Paths.get(outDir))
    try stream.iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.endsWith(".ddl.sql"))
      .map(_.stripSuffix(".ddl.sql")).toSeq
    finally stream.close()
  }

  override def executeReset(sql: String): Unit = synchronized {
    sql.linesIterator.foreach { line =>
      // "DROP TABLE `x`;" / "TRUNCATE TABLE `x`;"
      val t = line.split('`').lift(1)
      t.foreach { table =>
        if (line.startsWith("DROP"))
          Files.deleteIfExists(Paths.get(s"$outDir/$table.ddl.sql"))
        rowFiles(table).foreach(Files.deleteIfExists)
      }
    }
    append("reset.log.sql", sql)
  }

  override def tableExists(table: String): Boolean =
    Files.exists(Paths.get(s"$outDir/$table.ddl.sql"))

  override def rowCount(table: String): Long = synchronized {
    rowFiles(table).map { p =>
      Files.readAllLines(p).asScala
        .filter(_.startsWith("-- batch rows="))
        .map(_.stripPrefix("-- batch rows=").toLong).sum
    }.sum
  }

  private def rowFiles(table: String) = {
    val stream = Files.list(Paths.get(outDir))
    try stream.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n == s"$table.rows.sql" || (n.startsWith(s"$table.rows.p") && n.endsWith(".sql"))
    }.toSeq
    finally stream.close()
  }

  override def createTable(sql: String): Unit = {
    val table = sql.split('`').lift(1).getOrElse("unknown")
    append(s"$table.ddl.sql", sql)
  }

  override def executeBatch(sql: String, rows: Int): Unit = {
    // One file per (table, partition): batches from concurrent partition
    // tasks never contend on a lock — the script-file analogue of one
    // JDBC connection per partition.
    val table = sql.split('`').lift(1).getOrElse("unknown")
    val pid = org.apache.spark.TaskContext.getPartitionId()
    appendUnlocked(s"$table.rows.p$pid.sql",
      s"-- batch rows=$rows\nSET FOREIGN_KEY_CHECKS=0;\nBEGIN;\n$sql;\nCOMMIT;\nSET FOREIGN_KEY_CHECKS=1;")
  }

  /** Partition-task appends: the file is private to one task, so no
    * lock is needed (same-named retries overwrite-append harmlessly
    * for this fixture writer).
    */
  private def appendUnlocked(file: String, text: String): Unit =
    Files.write(Paths.get(s"$outDir/$file"), (text + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  override def createConstraints(sql: String): Unit = {
    val table = sql.split('`').lift(1).getOrElse("unknown")
    append(s"$table.ddl.sql", sql)
  }
}
