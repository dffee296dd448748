package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine._
import graft.mapping.TypeRegistry
import graft.types._

object FakeWriter {
  // Batches arrive from (locally) serialized executor copies of the
  // writer; a static synchronized buffer records them across copies.
  val batches = mutable.ListBuffer.empty[(String, Int)]
}

class FakeWriter(
    existing: Map[String, Long] = Map.empty,
    failBatchesFor: Set[String] = Set.empty,
    val maxAllowedPacket: Long = 16777216L) extends TargetWriter {
  val ddl = mutable.ListBuffer.empty[String]
  val resets = mutable.ListBuffer.empty[String]
  val constraints = mutable.ListBuffer.empty[String]

  override def showTables(): Seq[String] = existing.keys.toSeq
  override def executeReset(sql: String): Unit =
    synchronized { resets += sql }
  override def tableExists(t: String): Boolean = existing.contains(t)
  override def rowCount(t: String): Long = existing.getOrElse(t, 0L)
  override def createTable(sql: String): Unit = synchronized { ddl += sql }
  override def executeBatch(sql: String, rows: Int): Unit = {
    if (failBatchesFor.exists(sql.contains))
      throw new RuntimeException("boom")
    FakeWriter.synchronized { FakeWriter.batches += ((sql, rows)) }
  }
  override def createConstraints(sql: String): Unit =
    synchronized { constraints += sql }
}

/** Engine orchestration tests, mirroring the reference's mock-based
  * integration module (/root/reference/src/migrate/tests.rs:1-593):
  * happy path, whitelist, guards, resets, snake_case e2e, constraints,
  * batching splits, fail-fast, packet check.
  */
class EngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // --- fakes (tests.rs:27-182 analogue); FakeWriter is top-level so
  // its closure-serialized copy doesn't drag the suite along ---

  class FakeSource(
      tables: Map[String, (Seq[ColumnSchema], () => DataFrame)])
      extends SchemaSource {
    override def fetchTables(): Seq[String] = tables.keys.toSeq.sorted
    override def getTableSchema(t: String): Seq[ColumnSchema] = tables(t)._1
    override def read(s: SparkSession, t: String): DataFrame = tables(t)._2()
  }

  private def intCol(name: String, cons: Option[Constraint] = None) =
    ColumnSchema(name, MssqlType.Int, isNullable = false, constraints = cons)
  private def strCol(name: String, len: Int = 50) =
    ColumnSchema(name, MssqlType.Varchar, characterMaximumLength = Some(len))

  private def usersDf(): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(1, "Alice"),
        org.apache.spark.sql.Row(2, "O'Brien")).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType))))
  }

  private def source(tables: (String, (Seq[ColumnSchema], () => DataFrame))*) =
    new FakeSource(tables.toMap)

  private def newMigrator(src: SchemaSource, w: TargetWriter,
      opts: MigrationOptions) =
    new Migrator(spark, src, w, TypeRegistry.withDefaults(), opts)

  test("happy path: create + insert + result counts (tests.rs:219-251)") {
    FakeWriter.batches.clear()
    val w = new FakeWriter
    val m = newMigrator(
      source("Users" -> (Seq(intCol("id"), strCol("name")), () => usersDf())),
      w, MigrationOptions(maxConcurrentTasks = 2))
    val results = m.run()
    assert(results.map(r => (r.tableName, r.created, r.rowsMigrated)) ==
      Seq(("Users", true, 2L)))
    assert(w.ddl.head ==
      "CREATE TABLE `Users` (`id` int NOT NULL, `name` varchar(50) NULL)")
    val allSql = FakeWriter.batches.map(_._1).mkString
    assert(allSql.contains("INSERT INTO `Users` (`id`, `name`) VALUES"))
    assert(allSql.contains("'O''Brien'"))
  }

  test("whitelist filters and warns on missing (tests.rs:281-298)") {
    FakeWriter.batches.clear()
    val w = new FakeWriter
    val m = newMigrator(
      source(
        "Users" -> (Seq(intCol("id")), () => usersDf().select("id")),
        "Orders" -> (Seq(intCol("id")), () => usersDf().select("id"))),
      w, MigrationOptions(whitelistedTables = Seq("Users", "Ghost")))
    val results = m.run()
    assert(results.map(_.tableName) == Seq("Users"))
    assert(m.warnings.exists(_.contains("Ghost")))
  }

  test("packet too large aborts (tests.rs:334-351)") {
    val w = new FakeWriter(maxAllowedPacket = 100L)
    val m = newMigrator(
      source("Users" -> (Seq(intCol("id")), () => usersDf().select("id"))),
      w, MigrationOptions(maxPacketBytes = 1000))
    intercept[MigrationException.PacketTooLarge](m.run())
  }

  test("existing table with rows fails; empty table reused (tests.rs:378-424)") {
    FakeWriter.batches.clear()
    val full = new FakeWriter(existing = Map("Users" -> 5L))
    intercept[MigrationException.TaskPanicked] {
      newMigrator(
        source("Users" -> (Seq(intCol("id")), () => usersDf().select("id"))),
        full, MigrationOptions()).run()
    }

    val empty = new FakeWriter(existing = Map("Users" -> 0L))
    val results = newMigrator(
      source("Users" -> (Seq(intCol("id")), () => usersDf().select("id"))),
      empty, MigrationOptions()).run()
    assert(results.head.created == false)
    assert(empty.ddl.isEmpty) // reused without CREATE
  }

  test("drop/truncate reset scripts (tests.rs:497-525)") {
    val w = new FakeWriter(existing = Map("users" -> 0L))
    val m = newMigrator(
      source("Users" -> (Seq(intCol("id")), () => usersDf().select("id"))),
      w, MigrationOptions(dropTables = true, formatSnakeCase = true))
    m.run()
    assert(w.resets == Seq("DROP TABLE `users`;"))
  }

  test("snake_case end-to-end (tests.rs:427-445)") {
    FakeWriter.batches.clear()
    val w = new FakeWriter
    val m = newMigrator(
      source("UserAccounts" ->
        (Seq(intCol("AccountId")), () => usersDf().select("id"))),
      w, MigrationOptions(formatSnakeCase = true))
    val results = m.run()
    assert(results.head.tableName == "user_accounts")
    assert(w.ddl.head.contains("`account_id`"))
  }

  test("constraints pass: PK inline, FK to migrated table, skip to absent (tests.rs:448-468)") {
    FakeWriter.batches.clear()
    val w = new FakeWriter
    val m = newMigrator(
      source(
        "Users" -> (Seq(
          intCol("id", Some(Constraint.PrimaryKey)),
          intCol("org_id", Some(Constraint.ForeignKey("Orgs", "id"))),
          intCol("acct_id", Some(Constraint.ForeignKey("Accounts", "id")))),
          () => usersDf().selectExpr("id", "id as org_id", "id as acct_id")),
        "Orgs" -> (Seq(intCol("id", Some(Constraint.PrimaryKey))),
          () => usersDf().select("id"))),
      w, MigrationOptions(createConstraints = true))
    m.run()
    assert(w.ddl.exists(_.contains("`id` int PRIMARY KEY NOT NULL")))
    val cons = w.constraints.mkString("\n")
    assert(cons.contains(
      "ADD FOREIGN KEY(`org_id`) REFERENCES `Orgs`(`id`) ON DELETE CASCADE"))
    assert(!cons.contains("Accounts")) // skipped, absent target
    assert(m.warnings.exists(_.contains("Accounts")))
  }

  test("byte-bounded batching splits (tests.rs:528-556)") {
    FakeWriter.batches.clear()
    val w = new FakeWriter
    val df = usersDf().select("id").repartition(1)
    val m = newMigrator(
      source("Users" -> (Seq(intCol("id")), () => df)),
      // prefix "INSERT INTO `Users` (`id`) VALUES" = 33 bytes; one
      // tuple "(1) " = 4; 10 reserved -> two rows cannot share a batch
      w, MigrationOptions(maxPacketBytes = 50))
    val results = m.run()
    assert(results.head.rowsMigrated == 2L)
    assert(FakeWriter.batches.size == 2)
    assert(FakeWriter.batches.forall(_._2 == 1))
  }

  test("fail-fast cancels queued tables (tests.rs:354-375)") {
    FakeWriter.batches.clear()
    val w = new FakeWriter(failBatchesFor = Set("`T00`"))
    val tables = (0 until 6).map { i =>
      f"T$i%02d" -> (Seq(intCol("id")),
        () => usersDf().select("id"): DataFrame)
    }
    val m = newMigrator(source(tables: _*), w,
      MigrationOptions(maxConcurrentTasks = 1))
    intercept[MigrationException.TaskPanicked](m.run())
  }

  test("full pipeline over parquet fixtures + script target") {
    val out = Files.createTempDirectory("graft_mig").toString
    val src = new ParquetFixtureSource("/root/testdata/sf0.001", spark)
    val w = new ScriptTargetWriter(out)
    val m = new Migrator(spark, src, w, TypeRegistry.withDefaults(),
      MigrationOptions(formatSnakeCase = true, createConstraints = true,
        maxConcurrentTasks = 4))
    val results = m.run()
    assert(results.size == 10)
    assert(results.forall(_.seconds > 0))
    val byName = results.map(r => r.tableName -> r.rowsMigrated).toMap
    assert(byName("region") == 5L)
    assert(byName("lineitem") > 5000L)
    // target script materialized with DDL + batches
    assert(Files.exists(java.nio.file.Paths.get(s"$out/lineitem.ddl.sql")))
    assert(w.rowCount("lineitem") == byName("lineitem"))
    // rerun without reset hits the already-has-rows guard
    val m2 = new Migrator(spark, src, w, TypeRegistry.withDefaults(),
      MigrationOptions(formatSnakeCase = true))
    intercept[MigrationException.TaskPanicked](m2.run())
  }

  test("fixture source: largest table first, one DataFrame per table") {
    val dir = "/root/testdata/sf0.001"
    val src = new ParquetFixtureSource(dir, spark)
    val listed = src.fetchTables()
    assert(listed.toSet == graft.Tables.names.toSet)
    val sizes = listed.map(t =>
      Files.size(java.nio.file.Paths.get(s"$dir/$t.parquet")))
    assert(sizes == sizes.sorted.reverse)
    // the schema probe and the scan share one DataFrame
    assert(src.read(spark, "region") eq src.read(spark, "region"))
    // a scan in another session is built in that session
    val other = spark.newSession()
    assert(src.read(other, "region").sparkSession eq other)
    assert(src.read(spark, "region").sparkSession eq spark)
  }
}
