package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.types.{ColumnSchema, TargetColumn}

/** The two I/O boundaries of the migration pipeline, mirroring the
  * reference's Extractor/Inserter trait pair
  * (/root/reference/src/extract/traits.rs, insert/inserter.rs). A JDBC
  * deployment implements these over MSSQL/MySQL connections; tests use
  * in-memory fakes (like the reference's mock suite,
  * migrate/tests.rs:27-182); the fixture implementation reads the
  * driver parquet tables.
  */
trait SchemaSource {
  /** List base tables (S1, extractor.rs:25-49). The listing order is
    * the order [[Migrator]] submits the tables in: a source that knows
    * table sizes lists the largest first, so the longest migration
    * starts first (the reference fixes no order).
    */
  def fetchTables(): Seq[String]

  /** Column metadata + constraints for one table (S2, extractor.rs:51-94). */
  def getTableSchema(table: String): Seq[ColumnSchema]

  /** Full-scan the table as a DataFrame (S3, extractor.rs:96-128 — the
    * literal-rendered row stream becomes a typed distributed scan).
    */
  def read(spark: SparkSession, table: String): DataFrame
}

trait TargetWriter extends Serializable {
  /** `SELECT @@max_allowed_packet` (K9, inserter.rs:113-119). */
  def maxAllowedPacket: Long

  /** `SHOW TABLES` (K7). */
  def showTables(): Seq[String]

  /** Run a reset script (K7, inserter.rs:121-150). */
  def executeReset(sql: String): Unit

  /** K8 guards (inserter.rs:152-172). */
  def tableExists(table: String): Boolean
  def rowCount(table: String): Long

  /** Transactionally run CREATE TABLE DDL (K1/K5, inserter.rs:33-45). */
  def createTable(sql: String): Unit

  /** Execute one INSERT batch as one transaction with FK checks off
    * (K4, inserter.rs:88-111). Implementations must be safe to call
    * from executor-side partition tasks.
    */
  def executeBatch(sql: String, rowCount: Int): Unit

  /** Best-effort constraint DDL (K6, inserter.rs:47-86): failure is
    * logged, not fatal.
    */
  def createConstraints(sql: String): Unit

  /** Whether this target accepts the reference's quoted decimal
    * literals (format.rs:42-55) in INSERT values — MySQL-dialect
    * targets do; ANSI engines need bare numeric text
    * ([[SqlFlavor.quotedDecimalLiterals]]).
    */
  def quotedDecimalLiterals: Boolean = true
}

/** Per-table outcome (migrate/migration_result.rs:3-9), plus the
  * table's wall seconds from schema probe to last batch.
  */
final case class MigrationResult(
    tableName: String,
    schema: Seq[TargetColumn],
    created: Boolean,
    rowsMigrated: Long,
    seconds: Double = 0.0)

/** Orchestration options (migrate/migration_options.rs + src/args.rs). */
final case class MigrationOptions(
    maxPacketBytes: Int = 1048576,
    maxConcurrentTasks: Int = Runtime.getRuntime.availableProcessors(),
    formatSnakeCase: Boolean = false,
    createConstraints: Boolean = false,
    dropTables: Boolean = false,
    truncateTables: Boolean = false,
    whitelistedTables: Seq[String] = Seq.empty)

/** Error taxonomy (common/errors.rs:4-61). */
sealed abstract class MigrationException(msg: String)
    extends RuntimeException(msg)
object MigrationException {
  final class TableAlreadyHasRows(table: String) extends MigrationException(
    s"Table '$table' already exists and has rows; use --drop or --truncate")
  final class PacketTooLarge(configured: Int, allowed: Long)
      extends MigrationException(
        s"Configured max_packet_bytes $configured exceeds MySQL max_allowed_packet $allowed")
  final class UnknownSourceType(table: String, column: String, tpe: String)
      extends MigrationException(
        s"Unknown MSSQL type '$tpe' for $table.$column")
  final class SchemaMappingFailed(table: String, reason: String)
      extends MigrationException(s"Schema mapping failed for '$table': $reason")
  final class TaskPanicked(table: String, cause: Throwable)
      extends MigrationException(s"Migration task for '$table' failed: ${cause.getMessage}")
}
