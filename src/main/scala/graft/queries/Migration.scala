package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's migration pipeline re-expressed over the parquet
  * fixtures (they stand in for JDBC sources, FIXTURES.md §B): typed
  * target-schema casts, SQL-literal rendering, table inventory
  * guards, and byte-bounded batch planning.
  *
  *  - literal rendering ports extract/format.rs:15-40 semantics
  *    (quoted + doubled quotes for strings, 0x-hex for binary, plain
  *    for numerics, scale-padded decimal text);
  *  - the typed cast mirrors TableSchemaMapper output types
  *    (double→decimal, timestamp→datetime text, string→char);
  *  - row-count guards mirror inserter.rs:152-172 (K8);
  *  - batch planning re-interprets the reference's greedy byte-bounded
  *    batching (table_migrator.rs:116-167) as a distributed cumulative
  *    sum — the greedy reset loop is inherently sequential, so the
  *    scalable plan buckets by running byte total; the sequential
  *    greedy loop itself lives in the sink writer (graft.engine).
  */
object Migration {

  /** SQL-literal rendering of `part` rows (format.rs parity: P2-P10). */
  private def literalRender(s: SparkSession, dir: String): DataFrame = {
    val quoted = concat(lit("'"),
      regexp_replace(
        regexp_replace(col("p_name"), "\\\\", "\\\\\\\\"),
        "'", "''"),
      lit("'"))
    Tables(s, dir, "part")
      .select(
        col("p_partkey"),
        col("p_partkey").cast("string").as("key_lit"),
        quoted.as("name_lit"),
        col("p_retailprice").cast(DecimalType(12, 2)).cast("string")
          .as("price_lit"),
        concat(lit("0x"), lower(hex(col("p_brand").cast("binary"))))
          .as("brand_hex_lit"))
      .orderBy(col("p_partkey"))
  }

  private val literalRenderSql =
    """SELECT p_partkey,
      |  CAST(p_partkey AS VARCHAR) AS key_lit,
      |  '''' || replace(replace(p_name, '\', '\\'), '''', '''''') || ''''
      |    AS name_lit,
      |  CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR) AS price_lit,
      |  '0x' || lower(hex(CAST(p_brand AS BLOB))) AS brand_hex_lit
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Read→map: lineitem through its migration target types (the
    * DataFrame equivalent of stream_rows + TableSchemaMapper).
    */
  private def typedCast(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        // the migration target type is DECIMAL(12,2); the final DOUBLE
        // cast (both engines) makes the declared output type identical
        // cross-engine for the driver's hash gate
        col("l_quantity").cast(DecimalType(12, 2)).cast("double")
          .as("quantity_dec"),
        col("l_extendedprice").cast(DecimalType(12, 2)).cast("double")
          .as("price_dec"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss")
          .as("shipdate_dt"),
        col("l_returnflag").as("returnflag_ch"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  private val typedCastSql =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS quantity_dec,
      |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec,
      |  strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS shipdate_dt,
      |  l_returnflag AS returnflag_ch
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Table inventory + row-count guards (fetch_tables / K8 parity):
    * every fixture table with its row count and emptiness flag.
    */
  private def tableInventory(s: SparkSession, dir: String): DataFrame = {
    Tables.names.map { t =>
      Tables(s, dir, t)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(t).as("table_name"), col("n_rows"),
          (col("n_rows") === 0).as("is_empty"))
    }.reduce(_ unionAll _).orderBy(col("table_name"))
  }

  private val tableInventorySql =
    Tables.names.map(t =>
      s"SELECT '$t' AS table_name, count(*) AS n_rows, count(*) = 0 AS is_empty FROM $t")
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")

  /** Byte-bounded batch planning over rendered literal rows: batch id
    * = floor(running-bytes / max_batch_bytes), then per-batch totals.
    * (Distributed re-interpretation of the reference's greedy loop —
    * see object Scaladoc.)
    */
  private def batchPlan(s: SparkSession, dir: String): DataFrame = {
    val maxBytes = 8192L
    val chunkRows = 512L
    val rowBytes =
      // rendered as: (key,'name',price) + ","  — RESERVED_BYTES-style
      // slack is constant per row so it folds into the length sum
      length(col("p_partkey").cast("string")) +
        length(col("p_name")) + lit(2) +
        length(col("p_retailprice").cast(DecimalType(12, 2)).cast("string")) +
        lit(4)
    // Distributed prefix-sum: a single `Window.orderBy` with no
    // partitionBy collapses the whole table into one task. Instead the
    // running byte total is computed in two passes — (1) per-chunk
    // subtotals (one row per chunk: the tiny ordered window over them
    // is O(n/chunkRows)), (2) broadcast the chunk offsets back and do
    // an in-chunk running sum, parallel across chunks. Identical output
    // to the single-window form at any chunk size.
    val sized = Tables(s, dir, "part")
      .withColumn("row_bytes", rowBytes)
      .withColumn("chunk", floor(col("p_partkey") / chunkRows))
    val offsets = sized.groupBy(col("chunk"))
      .agg(sum(col("row_bytes")).as("chunk_bytes"))
      .withColumn("offset",
        coalesce(sum(col("chunk_bytes")).over(
          Window.orderBy(col("chunk"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("chunk"), col("offset"))
    val wIn = Window.partitionBy(col("chunk")).orderBy(col("p_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized.join(broadcast(offsets), "chunk")
      .withColumn("running", col("offset") + sum(col("row_bytes")).over(wIn))
      .withColumn("batch_id",
        floor((col("running") - 1).cast("double") / maxBytes).cast("long"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_rows"), sum(col("row_bytes")).as("batch_bytes"))
      .orderBy(col("batch_id"))
  }

  private val batchPlanSql =
    """WITH sized AS (
      |  SELECT p_partkey,
      |    length(CAST(p_partkey AS VARCHAR)) + length(p_name) + 2
      |      + length(CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR))
      |      + 4 AS row_bytes
      |  FROM part),
      |running AS (
      |  SELECT *, sum(row_bytes) OVER (ORDER BY p_partkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      |  FROM sized)
      |SELECT CAST(floor(CAST(running - 1 AS DOUBLE) / 8192) AS BIGINT)
      |    AS batch_id,
      |  count(*) AS n_rows, CAST(sum(row_bytes) AS BIGINT) AS batch_bytes
      |FROM running GROUP BY 1 ORDER BY batch_id""".stripMargin

  /** The full migration pipeline as a query: introspect → map → DDL →
    * byte-bounded batched load of every fixture table into a fresh
    * script target, returning per-table results. The oracle checks
    * per-table row counts and creation flags; Bench timing of this
    * query IS the read→map→batched-write throughput figure BASELINE.md
    * compares against the reference (~351k rows/s at sf0.1 on local[32]
    * vs the reference's 14.7k rows/s sample run).
    */
  private def pipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.engine._
    import graft.mapping.TypeRegistry
    val out = java.nio.file.Files.createTempDirectory("graft_mig_q").toString
    val migrator = new Migrator(s, new ParquetFixtureSource(dir, s),
      new ScriptTargetWriter(out), TypeRegistry.withDefaults(),
      MigrationOptions(formatSnakeCase = true, createConstraints = true,
        maxConcurrentTasks = 8))
    val results =
      try migrator.run()
      finally org.apache.commons.io.FileUtils // temp dir freed on failure too
        .deleteDirectory(new java.io.File(out))
    import s.implicits._
    results.map(r => (r.tableName, r.created, r.rowsMigrated))
      .toDF("table_name", "created", "rows_migrated")
      .orderBy(col("table_name"))
  }

  private val pipelineSql =
    graft.Tables.names.map(t =>
      s"SELECT '$t' AS table_name, TRUE AS created, count(*) AS rows_migrated FROM $t")
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")

  /** The migration pipeline over the LIVE JDBC boundary: the parquet
    * dimension tables are seeded into an embedded Derby source, then
    * `Migrator` runs with `JdbcSchemaSource` → `JdbcTargetWriter`
    * (metadata probe → type map → DDL → literal-rendered transactional
    * batches) into a second Derby — the production wire path
    * (extractor.rs/inserter.rs) under the driver's hash gate, not just
    * under ScalaTest. Whitelisted to the dimension tables so the
    * embedded single-JVM database stays cheap at bench scale; the
    * fact-table path is exercised by `mig_pipeline` (script target).
    */
  /** Seed the dimension tables into a live Derby source with explicit
    * VARCHAR column types (Spark's Derby dialect would otherwise
    * create StringType as CLOB, which Derby cannot index — so the
    * UNIQUE/DEFAULT DDL below would be illegal), then give the source
    * the FULL five-kind constraint surface the reference probes
    * (extractor.rs:63-77): the schema probe must read these from
    * Derby's real catalog (not a fixture), carry them through mapping,
    * and emit ADD UNIQUE / ADD CHECK / FK / DEFAULT DDL in the
    * constraints pass.
    */
  private def seedConstraintSource(s: SparkSession, dir: String,
      srcUrl: String): Unit = {
    import org.apache.spark.sql.types._
    val props = new java.util.Properties
    def derbyType(dt: DataType): String = dt match {
      case StringType => "VARCHAR(256)" // NOT Spark's CLOB default —
      // Derby cannot index a CLOB, so the UNIQUE/DEFAULT DDL below
      // would be illegal on the source (and, migrated as longtext,
      // on the target)
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case DoubleType => "DOUBLE"
      case FloatType => "REAL"
      case DateType => "DATE"
      case TimestampType => "TIMESTAMP"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case other => sys.error(s"seedConstraintSource: unmapped $other")
    }
    val c = java.sql.DriverManager.getConnection(srcUrl)
    try {
      val st = c.createStatement()
      try Seq("region", "nation", "supplier").foreach { t =>
        val cols = Tables(s, dir, t).schema.fields
          .map(f => s""""${f.name}" ${derbyType(f.dataType)}""")
          .mkString(", ")
        st.execute(s"""CREATE TABLE "$t" ($cols)""")
      } finally st.close()
    } finally c.close()
    Seq("region", "nation", "supplier").foreach { t =>
      Tables(s, dir, t).write.mode("append").jdbc(srcUrl, s""""$t"""", props)
    }
    val c2 = java.sql.DriverManager.getConnection(srcUrl)
    try {
      val st = c2.createStatement()
      try Seq(
        """ALTER TABLE "nation" ALTER COLUMN "n_nationkey" NOT NULL""",
        """ALTER TABLE "nation" ADD CONSTRAINT N_PK PRIMARY KEY ("n_nationkey")""",
        """ALTER TABLE "nation" ADD CONSTRAINT N_NAME_UQ UNIQUE ("n_name")""",
        """ALTER TABLE "supplier" ADD CONSTRAINT S_NK_FK FOREIGN KEY ("s_nationkey") REFERENCES "nation" ("n_nationkey")""",
        """ALTER TABLE "supplier" ADD CONSTRAINT S_AB_CK CHECK ("s_acctbal" > -10000)""",
        """ALTER TABLE "region" ALTER COLUMN "r_name" DEFAULT 'none'"""
      ).foreach(st.execute)
      finally st.close()
    } finally c2.close()
  }

  /** TARGET-side constraint count over a live connection whose
    * underlying store is Derby: SYS.SYSCONSTRAINTS rows (P/U/F/C) plus
    * columns carrying a DEFAULT (not a SYSCONSTRAINTS kind — read via
    * the portable COLUMN_DEF metadata). Counting the target catalog —
    * not the mapped schema's slots — is what makes the gate real: a
    * constraints pass whose DDL fails (and is downgraded to a warning
    * by Migrator) reds the row here.
    */
  private def targetConstraintCount(c: java.sql.Connection,
      table: String): Long = {
    val st = c.prepareStatement(
      "SELECT COUNT(*) FROM SYS.SYSCONSTRAINTS cons " +
        "JOIN SYS.SYSTABLES t ON cons.TABLEID = t.TABLEID " +
        "WHERE t.TABLENAME = ?")
    val cons =
      try {
        st.setString(1, table)
        val rs = st.executeQuery()
        try { rs.next(); rs.getLong(1) } finally rs.close()
      } finally st.close()
    val rs = c.getMetaData.getColumns(null, null, table, "%")
    var defaults = 0L
    try while (rs.next()) {
      if (Option(rs.getString("COLUMN_DEF")).exists(_.trim.nonEmpty))
        defaults += 1
    } finally rs.close()
    cons + defaults
  }

  private def pipelineJdbc(s: SparkSession, dir: String): DataFrame = {
    import graft.engine._
    import graft.mapping.TypeRegistry
    val nonce = java.util.UUID.randomUUID.toString.replace("-", "")
    val srcUrl = s"jdbc:derby:memory:migsrc_$nonce;create=true"
    val dstUrl = s"jdbc:derby:memory:migdst_$nonce;create=true"
    seedConstraintSource(s, dir, srcUrl)

    val migrator = new Migrator(s, new JdbcSchemaSource(srcUrl),
      new JdbcTargetWriter(dstUrl, AnsiFlavor), TypeRegistry.withDefaults(),
      MigrationOptions(maxConcurrentTasks = 3, createConstraints = true))
    // both in-memory databases are dropped in the finally: a failed
    // migration or verification must not leave them (and their data)
    // resident for the JVM's lifetime across bench/verify repetitions
    val verified =
      try {
        val results = migrator.run()
        // verify row AND constraint counts against the TARGET catalog:
        // the live probe → mapping → constraint-DDL emission chain must
        // have LANDED (nation PK+UNIQUE, supplier FK+CHECK, region
        // DEFAULT), not merely been attempted
        results.map { r =>
          val c = java.sql.DriverManager.getConnection(dstUrl)
          try {
            val st = c.createStatement()
            try {
              val rs = st.executeQuery(
                s"""SELECT COUNT(*) FROM "${r.tableName}"""")
              try {
                rs.next()
                (r.tableName, r.created, rs.getLong(1),
                  targetConstraintCount(c, r.tableName))
              } finally rs.close()
            } finally st.close()
          } finally c.close()
        }
      } finally {
        for (u <- Seq(srcUrl, dstUrl))
          try java.sql.DriverManager.getConnection(
            u.replace(";create=true", ";drop=true"))
          catch { case _: java.sql.SQLException => () } // drop always "fails"
      }
    import s.implicits._
    verified.toDF("table_name", "created", "rows_migrated", "n_constraints")
      .orderBy(col("table_name"))
  }

  // expected constraint slots: region DEFAULT(r_name)=1;
  // nation PK(n_nationkey)+UNIQUE(n_name)=2;
  // supplier FK(s_nationkey)+CHECK(s_acctbal)=2
  private val pipelineJdbcSql =
    Seq("region" -> 1, "nation" -> 2, "supplier" -> 2).map { case (t, n) =>
      s"SELECT '$t' AS table_name, TRUE AS created, " +
        s"count(*) AS rows_migrated, CAST($n AS BIGINT) AS n_constraints FROM $t"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name")

  /** The SAME live pipeline as `mig_pipeline_jdbc`, but with the
    * PRODUCTION flavor: `MySqlFlavor` (pass-through — raw MySQL DDL,
    * backtick identifiers, backslash-escaped literals,
    * `SET FOREIGN_KEY_CHECKS`, `SELECT @@max_allowed_packet`) against
    * a MySQL-dialect engine (engine/MySqlModeEngine.scala — a strict
    * validating MySQL front end over embedded Derby, the sandbox's
    * stand-in for H2 MODE=MySQL). This closes the r9 gap where the
    * production wire path (reference: insert/inserter.rs:88-119) was
    * only ever string-tested: here every rendered MySQL statement is
    * parsed, validated and executed over a live JDBC connection, the
    * FK toggle and packet probe fire for real (the query REQUIRES
    * them to have fired — a silent fallback to defaults fails the
    * gate), and the verification counts are read back through the
    * same MySQL-dialect connection.
    */
  private def pipelineMySqlMode(s: SparkSession, dir: String): DataFrame = {
    import graft.engine._
    import graft.mapping.TypeRegistry
    val nonce = java.util.UUID.randomUUID.toString.replace("-", "")
    val srcUrl = s"jdbc:derby:memory:migmysrc_$nonce;create=true"
    val dstRest = s"memory:migmydst_$nonce;create=true"
    val dstUrl = MySqlModeEngine.url(dstRest)
    seedConstraintSource(s, dir, srcUrl)

    MySqlModeEngine.resetCounters()
    val migrator = new Migrator(s, new JdbcSchemaSource(srcUrl),
      new JdbcTargetWriter(dstUrl, MySqlFlavor), TypeRegistry.withDefaults(),
      MigrationOptions(maxConcurrentTasks = 3, createConstraints = true))
    val verified =
      try {
        val results = migrator.run()
        // the gate's point: the MySQL wire path must actually fire
        require(MySqlModeEngine.packetProbes.get() >= 1,
          "mysql-mode gate: no @@max_allowed_packet probe reached the engine")
        require(MySqlModeEngine.fkOff.get() >= 1 &&
          MySqlModeEngine.fkOn.get() >= 1,
          "mysql-mode gate: no FOREIGN_KEY_CHECKS toggle reached the engine")
        // verify counts against the target THROUGH the MySQL dialect —
        // including the TARGET-side constraint count, so the MySQL
        // flavor of the constraint DDL (inserter.rs:88-119 parity) is
        // live-gated too: every ALTER must have parsed as well-formed
        // MySQL in the strict engine AND landed in the backing catalog
        results.map { r =>
          val c = java.sql.DriverManager.getConnection(dstUrl)
          try {
            val st = c.createStatement()
            try {
              val rs = st.executeQuery(
                s"SELECT COUNT(*) FROM `${r.tableName}`")
              try {
                rs.next()
                (r.tableName, r.created, rs.getLong(1),
                  targetConstraintCount(c, r.tableName))
              } finally rs.close()
            } finally st.close()
          } finally c.close()
        }
      } finally {
        for (u <- Seq(srcUrl, s"jdbc:derby:$dstRest"))
          try java.sql.DriverManager.getConnection(
            u.replace(";create=true", ";drop=true"))
          catch { case _: java.sql.SQLException => () } // drop always "fails"
      }
    import s.implicits._
    verified.toDF("table_name", "created", "rows_migrated", "n_constraints")
      .orderBy(col("table_name"))
  }

  /** Seed a live MSSQL-dialect source (engine/MssqlModeEngine.scala)
    * with T-SQL DDL through the shim wire: the three dimension tables
    * (inline five-kind constraints, so the INFORMATION_SCHEMA
    * emulation carries the surface extractor.rs:63-77 probes) plus a
    * `[quirks]` table holding the MSSQL-only type surface — tinyint
    * (format.rs:34), rowversion (mssql_type.rs:32-35), datetimeoffset
    * (format.rs:140-161), money, uniqueidentifier, nvarchar.
    * Dimension rows append via `spark.write.jdbc` over the shim (the
    * registered `[bracket]` Spark dialect); quirk rows are literal
    * T-SQL INSERTs (N'…' prefixes, ''-escaped quotes, backslash as a
    * plain character — the lexer's strictness surface).
    */
  private def seedMssqlSource(s: SparkSession, dir: String,
      srcUrl: String): Unit = {
    import org.apache.spark.sql.types._
    def tsqlType(dt: DataType): String = dt match {
      // VARCHAR, not NVARCHAR: the registry (reference parity,
      // type_registry.rs) maps nvarchar to longtext, which no engine
      // can put a UNIQUE on — the quirks table carries the NVARCHAR
      // surface instead (unconstrained, as the reference requires)
      case StringType => "VARCHAR(256)"
      case LongType => "BIGINT"
      case IntegerType => "INT"
      case DoubleType => "FLOAT" // T-SQL float = float(53) = double
      case FloatType => "REAL"
      case DateType => "DATE"
      case TimestampType => "DATETIME2(6)"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case other => sys.error(s"seedMssqlSource: unmapped $other")
    }
    val inline = Map(
      ("region", "r_regionkey") -> " NOT NULL PRIMARY KEY",
      ("region", "r_name") -> " DEFAULT 'none'",
      ("nation", "n_nationkey") -> " NOT NULL PRIMARY KEY",
      ("nation", "n_name") -> " UNIQUE",
      ("supplier", "s_suppkey") -> " NOT NULL PRIMARY KEY",
      ("supplier", "s_nationkey") -> " REFERENCES [nation]([n_nationkey])",
      ("supplier", "s_acctbal") -> " CHECK ([s_acctbal] > -10000)")
    val c = java.sql.DriverManager.getConnection(srcUrl)
    try {
      val st = c.createStatement()
      try {
        Seq("region", "nation", "supplier").foreach { t =>
          val cols = Tables(s, dir, t).schema.fields.map { f =>
            s"[${f.name}] ${tsqlType(f.dataType)}" +
              inline.getOrElse((t, f.name), "")
          }.mkString(", ")
          st.execute(s"CREATE TABLE [$t] ($cols)")
        }
        st.execute(
          "CREATE TABLE [quirks] (" +
            "[q_id] INT NOT NULL PRIMARY KEY, " +
            "[q_tiny] TINYINT, " +
            "[q_bit] BIT, " +
            "[q_rv] ROWVERSION, " +
            "[q_dto] DATETIMEOFFSET(7), " +
            "[q_dt] DATETIME, " +
            "[q_sdt] SMALLDATETIME, " +
            "[q_money] MONEY, " +
            "[q_smoney] SMALLMONEY, " +
            "[q_guid] UNIQUEIDENTIFIER, " +
            "[q_bin] BINARY(4), " +
            "[q_vbin] VARBINARY(8), " +
            "[q_note] NVARCHAR(80), " +
            "[q_text] VARCHAR(max), " +
            "[q_char] CHAR(3), " +
            "[q_nchar] NCHAR(2), " +
            "[q_ntext] NTEXT, " +
            "[q_xml] XML, " +
            "[q_img] IMAGE, " +
            "[q_date] DATE, " +
            "[q_dt2] DATETIME2(6), " +
            "[q_real] REAL, " +
            "[q_dec] DECIMAL(8,3), " +
            "[q_time] TIME(7))")
        // deterministic, sf-independent quirk rows (the oracle pins
        // them as literals); rowversion is NOT in the column list —
        // the shim auto-assigns the database-wide counter (1..5 in
        // insert order), and naming the column would be rejected like
        // real MSSQL rejects it. The smalldatetime
        // values pin the ≥29.999 s round-up on both sides of the
        // boundary (incl. a year rollover); the 0x literals pin the
        // binary wire form (format.rs:17); q_note/q_text carry '0x00'
        // INSIDE string data to prove the hex rule is literal-masked.
        st.execute(
          "INSERT INTO [quirks] ([q_id],[q_tiny],[q_bit],[q_dto]," +
            "[q_dt],[q_sdt],[q_money],[q_smoney],[q_guid],[q_bin],[q_vbin]," +
            "[q_note],[q_text],[q_char],[q_nchar],[q_ntext],[q_xml]," +
            "[q_img],[q_date],[q_dt2],[q_real],[q_dec],[q_time]) VALUES " +
            "(1, 0, 1, '2021-03-04 05:06:07.1230000 +02:00', " +
            "'2021-03-04 05:06:07.123', '2021-03-04 05:06:29', 12.3456, 0.5678, " +
            "'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11', 0xDEADBEEF, 0x00ff, " +
            "N'O''Brien', N'not a literal: 0x00 and ''quotes'' survive', " +
            "'ab', N'\u00e9', N'long ntext body', '<a b=\"c\">x</a>', " +
            "0x89504e47, '2021-01-02', '2021-03-04 05:06:07.123456', " +
            "1.5, 12345.678, '12:34:56.1234567'), " +
            "(2, 127, 0, '2020-12-31 23:30:00.0000000 -01:30', " +
            "'2021-03-04 05:06:07.125', '2021-03-04 05:06:30', -0.0001, -1.0001, " +
            "'00000000-0000-0000-0000-000000000000', 0x00000000, " +
            "0x0123456789abcdef, N'back\\slash', N'plain body', " +
            "'xyz', N'ok', N'two', '<r/>', 0x00, '1999-12-31', " +
            "'2000-01-01 00:00:00', -2.25, -0.001, '00:00:00'), " +
            "(3, 42, 1, '2022-01-15 12:00:00.2500000 +05:45', " +
            "'2021-03-04 05:06:07.999', '2020-12-31 23:59:45', 99999.9999, 214748.3647, " +
            "'ffffffff-ffff-ffff-ffff-ffffffffffff', 0xCAFEBABE, 0x80, " +
            "'café', 'year rolls over at 23:59:45', " +
            "'a', 'b', N'three', '<x y=\"2\"/>', 0xffffffff, " +
            "'2038-01-19', '2021-12-31 23:59:59.999999', 3.75, " +
            "99999.999, '23:59:59.9999999'), " +
            "(4, 16, 0, '2019-06-01 00:00:00.5000000 +00:00', " +
            "'2019-06-01 00:00:00', '2019-06-01 00:00:00', 0.5, 0.0001, " +
            "'12345678-1234-1234-1234-123456789abc', 0x0102030a, 0xff, " +
            "N'plain', N'x', " +
            "'zz', 'cd', N'four', '<z/>', 0x1f8b, '1970-01-01', " +
            "'1970-01-01 00:00:00.000001', 0.125, 0.001, '12:00:00'), " +
            "(5, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, " +
            "NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, " +
            "NULL, NULL, NULL)")
      } finally st.close()
    } finally c.close()
    Seq("region", "nation", "supplier").foreach { t =>
      Tables(s, dir, t).write.mode("append")
        .jdbc(srcUrl, s"[$t]", new java.util.Properties)
    }
  }

  /** The live pipeline with the MSSQL-DIALECT SOURCE half: schema and
    * rows come through [[graft.engine.MssqlSchemaSource]] — the
    * extractor-shaped INFORMATION_SCHEMA probes, `[bracket]`-quoted
    * scans and constraint-string decode over the strict T-SQL shim —
    * into the ANSI Derby target. The r10/r11 gap this closes: the
    * source side of the wire was ANSI/Derby-only, so the reference's
    * read-side surface (extractor.rs:29-31, 54-83) was never
    * live-gated. The oracle pins per-table rows AND target-side
    * constraint counts, and the query REQUIRES the
    * INFORMATION_SCHEMA probes to have fired over the wire.
    */
  private def pipelineMssqlMode(s: SparkSession, dir: String): DataFrame = {
    import graft.engine._
    import graft.mapping.TypeRegistry
    val nonce = java.util.UUID.randomUUID.toString.replace("-", "")
    val srcRest = s"memory:migmssrc_$nonce;create=true"
    val srcUrl = MssqlModeEngine.url(srcRest)
    val dstUrl = s"jdbc:derby:memory:migmsdst_$nonce;create=true"
    MssqlModeEngine.resetCounters()
    seedMssqlSource(s, dir, srcUrl)
    val migrator = new Migrator(s, new MssqlSchemaSource(srcUrl),
      new JdbcTargetWriter(dstUrl, AnsiFlavor), TypeRegistry.withDefaults(),
      MigrationOptions(maxConcurrentTasks = 3, createConstraints = true))
    val verified =
      try {
        val results = migrator.run()
        require(MssqlModeEngine.fetchedTables.get() >= 1,
          "mssql-mode gate: no INFORMATION_SCHEMA.TABLES probe fired")
        require(MssqlModeEngine.infoSchemaProbes.get() >= 5,
          "mssql-mode gate: INFORMATION_SCHEMA probes did not reach the engine")
        results.map { r =>
          val c = java.sql.DriverManager.getConnection(dstUrl)
          try {
            val st = c.createStatement()
            try {
              val rs = st.executeQuery(
                s"""SELECT COUNT(*) FROM "${r.tableName}"""")
              try {
                rs.next()
                (r.tableName, r.created, rs.getLong(1),
                  targetConstraintCount(c, r.tableName))
              } finally rs.close()
            } finally st.close()
          } finally c.close()
        }
      } finally {
        for (u <- Seq(s"jdbc:derby:$srcRest", dstUrl))
          try java.sql.DriverManager.getConnection(
            u.replace(";create=true", ";drop=true"))
          catch { case _: java.sql.SQLException => () } // drop always "fails"
      }
    import s.implicits._
    verified.toDF("table_name", "created", "rows_migrated", "n_constraints")
      .orderBy(col("table_name"))
  }

  // target-side expectations: region PK + DEFAULT(r_name) = 2;
  // nation PK + UNIQUE = 2; supplier PK + FK + CHECK = 3; quirks PK = 1
  private val pipelineMssqlSql =
    Seq("nation" -> 2, "region" -> 2, "supplier" -> 3).map { case (t, n) =>
      s"SELECT '$t' AS table_name, TRUE AS created, " +
        s"count(*) AS rows_migrated, CAST($n AS BIGINT) AS n_constraints FROM $t"
    }.mkString("", "\nUNION ALL\n",
      "\nUNION ALL\nSELECT 'quirks', TRUE, CAST(5 AS BIGINT), " +
        "CAST(1 AS BIGINT)\nORDER BY table_name")

  /** The reference's ACTUAL topology in one gate (main.rs:49-51:
    * tiberius MSSQL source → MySQL target): MSSQL-dialect shim source
    * AND MySQL-dialect shim target in the same pipeline, with
    * snake_case formatting ON. One oracle row covers, live on both
    * strict wires at once: the INFORMATION_SCHEMA probe shapes
    * (extractor.rs:29-31,54-83), CamelCase → snake_case table and
    * column renames WITH the FK-reference rename
    * (table_schema_mapper.rs:99-107), byte-bounded batched inserts,
    * the FK toggle + packet probe (inserter.rs:88-119), and the
    * constraint-DDL pass verified against the target catalog. The
    * query REQUIRES every probe/toggle counter to have fired and the
    * renamed FK to point at region_dim(region_key) — a silent
    * fallback or an unrenamed reference fails before any row compare.
    */
  private def pipelineFullWire(s: SparkSession, dir: String): DataFrame = {
    import graft.engine._
    import graft.mapping.TypeRegistry
    val nonce = java.util.UUID.randomUUID.toString.replace("-", "")
    val srcRest = s"memory:migfwsrc_$nonce;create=true"
    val srcUrl = MssqlModeEngine.url(srcRest)
    val dstRest = s"memory:migfwdst_$nonce;create=true"
    val dstUrl = MySqlModeEngine.url(dstRest)
    MssqlModeEngine.resetCounters()
    MySqlModeEngine.resetCounters()

    // CamelCase T-SQL source: the rename surface must have something
    // to rename (the lowercase fixture tables would make snake_case a
    // no-op and the FK rename unobservable)
    val c0 = java.sql.DriverManager.getConnection(srcUrl)
    try {
      val st = c0.createStatement()
      try {
        st.execute("CREATE TABLE [RegionDim] (" +
          "[RegionKey] BIGINT NOT NULL PRIMARY KEY, " +
          "[RegionName] VARCHAR(64) DEFAULT 'none')")
        st.execute("CREATE TABLE [NationDim] (" +
          "[NationKey] BIGINT NOT NULL PRIMARY KEY, " +
          "[NationName] VARCHAR(64) UNIQUE, " +
          "[RegionKey] BIGINT REFERENCES [RegionDim]([RegionKey]))")
        st.execute("CREATE TABLE [SupplierFacts] (" +
          "[SuppKey] BIGINT NOT NULL PRIMARY KEY, " +
          "[SupplierName] NVARCHAR(64), " +
          "[NationKey] BIGINT REFERENCES [NationDim]([NationKey]), " +
          "[AcctBal] FLOAT CHECK ([AcctBal] > -10000))")
      } finally st.close()
    } finally c0.close()
    val props = new java.util.Properties
    Tables(s, dir, "region")
      .select(col("r_regionkey").as("RegionKey"),
        col("r_name").as("RegionName"))
      .write.mode("append").jdbc(srcUrl, "[RegionDim]", props)
    Tables(s, dir, "nation")
      .select(col("n_nationkey").as("NationKey"),
        col("n_name").as("NationName"), col("n_regionkey").as("RegionKey"))
      .write.mode("append").jdbc(srcUrl, "[NationDim]", props)
    Tables(s, dir, "supplier")
      .select(col("s_suppkey").as("SuppKey"),
        col("s_name").as("SupplierName"), col("s_nationkey").as("NationKey"),
        col("s_acctbal").as("AcctBal"))
      .write.mode("append").jdbc(srcUrl, "[SupplierFacts]", props)

    val migrator = new Migrator(s, new MssqlSchemaSource(srcUrl),
      new JdbcTargetWriter(dstUrl, MySqlFlavor), TypeRegistry.withDefaults(),
      MigrationOptions(maxConcurrentTasks = 3, formatSnakeCase = true,
        createConstraints = true))
    val verified =
      try {
        val results = migrator.run()
        require(MssqlModeEngine.fetchedTables.get() >= 1,
          "fullwire gate: no INFORMATION_SCHEMA.TABLES probe fired")
        require(MssqlModeEngine.infoSchemaProbes.get() >= 3,
          "fullwire gate: INFORMATION_SCHEMA probes did not reach the source")
        require(MySqlModeEngine.packetProbes.get() >= 1,
          "fullwire gate: no @@max_allowed_packet probe reached the target")
        require(MySqlModeEngine.fkOff.get() >= 1 &&
          MySqlModeEngine.fkOn.get() >= 1,
          "fullwire gate: no FOREIGN_KEY_CHECKS toggle reached the target")
        results.map { r =>
          val c = java.sql.DriverManager.getConnection(dstUrl)
          try {
            if (r.tableName == "nation_dim") {
              // the M4 FK rename must have LANDED: nation_dim's FK
              // references region_dim(region_key), both snake_cased
              val rs = c.getMetaData.getImportedKeys(null, null, "nation_dim")
              var ok = false
              try while (rs.next())
                ok ||= rs.getString("PKTABLE_NAME") == "region_dim" &&
                  rs.getString("PKCOLUMN_NAME") == "region_key"
              finally rs.close()
              require(ok, "fullwire gate: FK on nation_dim does not " +
                "reference region_dim(region_key) — rename not applied")
            }
            val st = c.createStatement()
            try {
              val rs = st.executeQuery(
                s"SELECT COUNT(*) FROM `${r.tableName}`")
              try {
                rs.next()
                (r.tableName, r.created, rs.getLong(1),
                  targetConstraintCount(c, r.tableName))
              } finally rs.close()
            } finally st.close()
          } finally c.close()
        }
      } finally {
        for (u <- Seq(s"jdbc:derby:$srcRest", s"jdbc:derby:$dstRest"))
          try java.sql.DriverManager.getConnection(
            u.replace(";create=true", ";drop=true"))
          catch { case _: java.sql.SQLException => () } // drop always "fails"
      }
    import s.implicits._
    verified.toDF("table_name", "created", "rows_migrated", "n_constraints")
      .orderBy(col("table_name"))
  }

  // target-side expectations after snake_case: region_dim PK+DEFAULT=2;
  // nation_dim PK+UNIQUE+FK=3; supplier_facts PK+FK+CHECK=3
  private val pipelineFullWireSql =
    Seq(("nation_dim", "nation", 3), ("region_dim", "region", 2),
      ("supplier_facts", "supplier", 3)).map { case (t, src, n) =>
      s"SELECT '$t' AS table_name, TRUE AS created, " +
        s"count(*) AS rows_migrated, CAST($n AS BIGINT) AS n_constraints FROM $src"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name")

  /** End-to-end decode parity for the MSSQL-only types: migrate the
    * `[quirks]` table alone over the T-SQL wire and read the TARGET
    * values back — tinyint passthrough (format.rs:34), rowversion as
    * the modification counter it is (type_registry.rs:83-89 →
    * unsigned bigint), datetimeoffset converted to the UTC instant
    * (format.rs:140-161: time minus offset), money at DECIMAL(19,4),
    * uniqueidentifier as CHAR(36). The oracle is the literal expected
    * table — any drift in the decode/convert/render chain reds the
    * hash.
    */
  private def mssqlQuirks(s: SparkSession, dir: String): DataFrame =
    quirksThroughTarget(s, dir,
      nonce => s"jdbc:derby:memory:migmqdst_$nonce;create=true",
      graft.engine.AnsiFlavor, """"quirks"""")

  /** The SAME decode-parity gate with the PRODUCTION target dialect:
    * [quirks] migrates mssql-shim → MYSQL-shim, so the MySQL
    * renderings of the full type surface execute on a live strict
    * wire — 0xHEX binary literals (format.rs:17), QUOTED decimal
    * literals narrowing into DECIMAL columns (format_numeric_value,
    * format.rs:42-55 — MySQL's coercion, which the shim emulates with
    * catalog-typed casts), backslash-escaped strings, backtick
    * identifiers. Same oracle: values must be byte-identical to the
    * ANSI-target run.
    */
  private def mssqlQuirksMysql(s: SparkSession, dir: String): DataFrame =
    quirksThroughTarget(s, dir,
      nonce => graft.engine.MySqlModeEngine.url(
        s"memory:migmqmy_$nonce;create=true"),
      graft.engine.MySqlFlavor, "`quirks`")

  private def quirksThroughTarget(s: SparkSession, dir: String,
      mkDstUrl: String => String, flavor: graft.engine.SqlFlavor,
      dbtable: String): DataFrame = {
    import graft.engine._
    import graft.mapping.TypeRegistry
    val nonce = java.util.UUID.randomUUID.toString.replace("-", "")
    val srcRest = s"memory:migmqsrc_$nonce;create=true"
    val srcUrl = MssqlModeEngine.url(srcRest)
    val dstUrl = mkDstUrl(nonce)
    seedMssqlSource(s, dir, srcUrl)
    val migrator = new Migrator(s, new MssqlSchemaSource(srcUrl),
      new JdbcTargetWriter(dstUrl, flavor), TypeRegistry.withDefaults(),
      MigrationOptions(maxConcurrentTasks = 1,
        whitelistedTables = Seq("quirks")))
    try {
      migrator.run()
      // the tinyint/bit target columns are SMALLINT (registry tinyint
      // → Derby SMALLINT) but Spark's JDBC reader widens SMALLINT to
      // IntegerType by default — declare the canonical width
      // (SURVEY §1.2: tinyint → ShortType) so the read-back carries
      // the type the whole decode chain preserved
      val out = s.read
        .option("customSchema", "q_tiny SMALLINT, q_bit SMALLINT")
        .jdbc(dstUrl, dbtable, new java.util.Properties)
        .select(col("q_id"), col("q_tiny"), col("q_bit"), col("q_rv"),
          col("q_dto"), col("q_dt"), col("q_sdt"),
          // DECIMAL and BINARY outputs are rendered to canonical text
          // here: decimals as their exact scale-padded string (any
          // precision drift in the chain still reds the hash), and
          // binaries as the reference's own 0xhex rendering
          // (format.rs:17) — the raw types are pinned by ScalaTest
          // (MssqlModeSpec), the verified OUTPUT stays in the
          // portable type envelope
          col("q_money").cast("string").as("q_money"),
          col("q_smoney").cast("string").as("q_smoney"),
          col("q_guid"),
          concat(lit("0x"), lower(hex(col("q_bin")))).as("q_bin"),
          concat(lit("0x"), lower(hex(col("q_vbin")))).as("q_vbin"),
          col("q_note"), col("q_text"), col("q_char"), col("q_nchar"),
          col("q_ntext"), col("q_xml"),
          concat(lit("0x"), lower(hex(col("q_img")))).as("q_img"),
          col("q_date"), col("q_dt2"),
          // float widened to double: binary32 values are exact in
          // binary64, and DOUBLE is the driver-proven float envelope
          col("q_real").cast("double").as("q_real"),
          col("q_dec").cast("string").as("q_dec"), col("q_time"))
        .orderBy(col("q_id"))
      // materialize to local rows BEFORE the finally drops the
      // database: the returned plan must not re-scan the dropped
      // target when the harness writes it (5 rows — driver-safe)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*),
        out.schema)
    } finally {
      val dstDerby =
        if (dstUrl.startsWith(graft.engine.MySqlModeEngine.UrlPrefix))
          "jdbc:derby:" + dstUrl.stripPrefix(
            graft.engine.MySqlModeEngine.UrlPrefix)
        else dstUrl
      for (u <- Seq(s"jdbc:derby:$srcRest", dstDerby))
        try java.sql.DriverManager.getConnection(
          u.replace(";create=true", ";drop=true"))
        catch { case _: java.sql.SQLException => () } // drop always "fails"
    }
  }

  // DECIMAL columns are pinned as their exact scale-padded strings and
  // BINARY columns as the reference's 0xhex rendering (format.rs:17) —
  // the driver's hash can only verify the portable type envelope
  // (no DECIMAL/BLOB outputs); the raw wire types are pinned by
  // MssqlModeSpec instead.
  private val mssqlQuirksSql =
    """SELECT * FROM (VALUES
      |  (1, CAST(0 AS SMALLINT), CAST(1 AS SMALLINT), CAST(1 AS BIGINT),
      |   TIMESTAMP '2021-03-04 03:06:07.123',
      |   TIMESTAMP '2021-03-04 05:06:07.123',
      |   TIMESTAMP '2021-03-04 05:06:00',
      |   '12.3456', '0.5678',
      |   'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11',
      |   '0xdeadbeef', '0x00ff',
      |   'O''Brien', 'not a literal: 0x00 and ''quotes'' survive',
      |   'ab ', 'é ', 'long ntext body', '<a b="c">x</a>',
      |   '0x89504e47', DATE '2021-01-02',
      |   TIMESTAMP '2021-03-04 05:06:07.123456', CAST(1.5 AS DOUBLE),
      |   '12345.678', '12:34:56.1234567'),
      |  (2, CAST(127 AS SMALLINT), CAST(0 AS SMALLINT), CAST(2 AS BIGINT),
      |   TIMESTAMP '2021-01-01 01:00:00',
      |   TIMESTAMP '2021-03-04 05:06:07.126',
      |   TIMESTAMP '2021-03-04 05:07:00',
      |   '-0.0001', '-1.0001',
      |   '00000000-0000-0000-0000-000000000000',
      |   '0x00000000', '0x0123456789abcdef',
      |   'back\slash', 'plain body',
      |   'xyz', 'ok', 'two', '<r/>', '0x00', DATE '1999-12-31',
      |   TIMESTAMP '2000-01-01 00:00:00', CAST(-2.25 AS DOUBLE),
      |   '-0.001', '00:00:00'),
      |  (3, CAST(42 AS SMALLINT), CAST(1 AS SMALLINT), CAST(3 AS BIGINT),
      |   TIMESTAMP '2022-01-15 06:15:00.25',
      |   TIMESTAMP '2021-03-04 05:06:08',
      |   TIMESTAMP '2021-01-01 00:00:00',
      |   '99999.9999', '214748.3647',
      |   'ffffffff-ffff-ffff-ffff-ffffffffffff',
      |   '0xcafebabe', '0x80',
      |   'café', 'year rolls over at 23:59:45',
      |   'a  ', 'b ', 'three', '<x y="2"/>', '0xffffffff',
      |   DATE '2038-01-19', TIMESTAMP '2021-12-31 23:59:59.999999',
      |   CAST(3.75 AS DOUBLE), '99999.999',
      |   '23:59:59.9999999'),
      |  (4, CAST(16 AS SMALLINT), CAST(0 AS SMALLINT), CAST(4 AS BIGINT),
      |   TIMESTAMP '2019-06-01 00:00:00.5',
      |   TIMESTAMP '2019-06-01 00:00:00',
      |   TIMESTAMP '2019-06-01 00:00:00',
      |   '0.5000', '0.0001',
      |   '12345678-1234-1234-1234-123456789abc',
      |   '0x0102030a', '0xff',
      |   'plain', 'x',
      |   'zz ', 'cd', 'four', '<z/>', '0x1f8b', DATE '1970-01-01',
      |   TIMESTAMP '1970-01-01 00:00:00.000001', CAST(0.125 AS DOUBLE),
      |   '0.001', '12:00:00'),
      |  (5, CAST(NULL AS SMALLINT), CAST(NULL AS SMALLINT), CAST(5 AS BIGINT),
      |   CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
      |   CAST(NULL AS TIMESTAMP),
      |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
      |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
      |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
      |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
      |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
      |   CAST(NULL AS VARCHAR), CAST(NULL AS DATE), CAST(NULL AS TIMESTAMP),
      |   CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
      |   CAST(NULL AS VARCHAR))
      |) AS t(q_id, q_tiny, q_bit, q_rv, q_dto, q_dt, q_sdt, q_money,
      |       q_smoney, q_guid, q_bin, q_vbin, q_note, q_text,
      |       q_char, q_nchar, q_ntext, q_xml, q_img, q_date, q_dt2,
      |       q_real, q_dec, q_time)
      |ORDER BY q_id""".stripMargin

  /** INCREMENTAL migration by high-watermark bookmark — the follow-up
    * extraction every one-shot migrator grows into: after the initial
    * full load, only rows whose monotonically increasing key exceeds
    * the bookmark recorded from the TARGET are pulled on the next run.
    * Exercised over the live JDBC boundary (embedded Derby as the
    * source): a 10% orders sample's "historical" half is seeded and
    * fully extracted (bookmark = max key seen); the remaining half is
    * then appended to the source as new arrivals, and the incremental
    * pass reads only `key > bookmark` — the predicate ships INTO the
    * source engine via JDBC filter pushdown, which is the entire point
    * at scale: the second pass costs O(new rows), not O(table). The
    * gate checks per-status initial/incremental/total counts, so a
    * bookmark off by one row (missed arrival or re-extracted
    * duplicate) fails the hash.
    */
  private def incrementalWatermark(s: SparkSession, dir: String): DataFrame = {
    val nonce = java.util.UUID.randomUUID.toString.replace("-", "")
    val srcUrl = s"jdbc:derby:memory:miginc_$nonce;create=true"
    val props = new java.util.Properties
    val sample = Tables(s, dir, "orders")
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val splitKey = sample.agg((max(col("o_orderkey")) / 2).cast("long"))
      .collect()(0).getLong(0)
    try {
      // initial full load into the source, then the first extraction
      sample.filter(col("o_orderkey") <= splitKey)
        .write.jdbc(srcUrl, """"orders_inc"""", props)
      val firstPass = s.read.jdbc(srcUrl, """"orders_inc"""", props)
      // materialize NOW (localCheckpoint is eager): the plan is lazy,
      // and a deferred scan would re-read the source AFTER the
      // arrivals below land, silently counting them as "initial"
      val initialCounts = firstPass.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_initial"))
        .localCheckpoint()
      // the bookmark is recorded from what the TARGET received — the
      // only self-consistent place (a source-side clock can run ahead
      // of what the extract actually shipped)
      val bookmark = firstPass.agg(max(col("o_orderkey")))
        .collect()(0).getLong(0)
      // new rows arrive at the source while the migrator is away
      sample.filter(col("o_orderkey") > splitKey)
        .write.mode("append").jdbc(srcUrl, """"orders_inc"""", props)
      // incremental pass: only key > bookmark, pushed into the source
      val incrementalCounts = s.read.jdbc(srcUrl, """"orders_inc"""", props)
        .filter(col("o_orderkey") > bookmark)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_incremental"))
      initialCounts.join(incrementalCounts, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          coalesce(col("n_initial"), lit(0L)).as("n_initial"),
          coalesce(col("n_incremental"), lit(0L)).as("n_incremental"),
          (coalesce(col("n_initial"), lit(0L)) +
            coalesce(col("n_incremental"), lit(0L))).as("n_total"))
        .localCheckpoint() // materialize before the database is dropped
        .orderBy(col("o_orderstatus"))
    } finally {
      try java.sql.DriverManager.getConnection(
        srcUrl.replace(";create=true", ";drop=true"))
      catch { case _: java.sql.SQLException => () } // drop always "fails"
    }
  }

  /** Incremental extraction by ROWVERSION bookmark — the MSSQL-native
    * change-tracking pattern (the reference's rowversion column,
    * mssql_type.rs:32-35, exists exactly for this): after the initial
    * full extraction, record the high-water counter; the next pass
    * pulls only `[rv] > bookmark`, which captures NEW rows AND
    * IN-PLACE UPDATES (the server bumps rowversion on every write —
    * emulated by the shim with per-row sequence draws). The predicate
    * ships into the source over JDBC pushdown, so the incremental
    * pass costs O(changed rows), not O(table) — at 100 TB that IS the
    * feature. The oracle pins the exact captured change set including
    * the updated rows' new values and their post-update counters.
    */
  private def incrementalRowversion(s: SparkSession, dir: String): DataFrame = {
    import graft.engine._
    val nonce = java.util.UUID.randomUUID.toString.replace("-", "")
    val srcRest = s"memory:migrvinc_$nonce;create=true"
    val srcUrl = MssqlModeEngine.url(srcRest)
    try {
      val c = java.sql.DriverManager.getConnection(srcUrl)
      try {
        val st = c.createStatement()
        st.execute("CREATE TABLE [account] (" +
          "[account_id] INT NOT NULL PRIMARY KEY, " +
          "[owner] VARCHAR(40), [balance] DECIMAL(12,2), " +
          "[rv] ROWVERSION)")
        st.execute("INSERT INTO [account] " +
          "([account_id],[owner],[balance]) VALUES " +
          "(1,'alice',100.00), (2,'bob',150.00), (3,'carol',0.00), " +
          "(4,'dan',-25.50), (5,'eve',900.00)")
        st.close()
      } finally c.close()
      val src = new MssqlSchemaSource(srcUrl)
      // initial full extraction; the bookmark is the max counter SEEN
      // (a driver-side scalar — the one collect a bookmark needs)
      val bookmark = src.read(s, "account")
        .agg(max(col("rv"))).collect()(0).getLong(0)
      // source keeps moving: two arrivals, two in-place updates
      val c2 = java.sql.DriverManager.getConnection(srcUrl)
      try {
        val st = c2.createStatement()
        st.execute("INSERT INTO [account] " +
          "([account_id],[owner],[balance]) VALUES " +
          "(6,'frank',10.00), (7,'grace',20.00)")
        st.execute("UPDATE [account] SET [balance] = [balance] + 100.00 " +
          "WHERE [account_id] = 2")
        st.execute("UPDATE [account] SET [owner] = 'eve-2' " +
          "WHERE [account_id] = 5")
        st.close()
      } finally c2.close()
      val incremental = src.read(s, "account")
        .filter(col("rv") > bookmark)
        // DECIMAL(12,2) rendered as its exact scale-padded string:
        // the driver's hash verifies only the portable type envelope
        // (no DECIMAL outputs) and a string pin still reds on any
        // precision drift ('250.0' ≠ '250.00'); the raw wire type is
        // pinned by MssqlModeSpec
        .select(col("account_id"), col("owner"),
          col("balance").cast("string").as("balance"), col("rv"))
        .orderBy(col("rv"))
      s.createDataFrame(
        java.util.Arrays.asList(incremental.collect(): _*),
        incremental.schema)
    } finally {
      try java.sql.DriverManager.getConnection(
        s"jdbc:derby:$srcRest".replace(";create=true", ";drop=true"))
      catch { case _: java.sql.SQLException => () } // drop always "fails"
    }
  }

  // rv 1-5 are the seed rows; 6,7 the arrivals; 8,9 the two updates'
  // per-row bumps — the change set is exactly rv > 5
  private val incrementalRowversionSql =
    """SELECT * FROM (VALUES
      |  (6, 'frank', '10.00', CAST(6 AS BIGINT)),
      |  (7, 'grace', '20.00', CAST(7 AS BIGINT)),
      |  (2, 'bob', '250.00', CAST(8 AS BIGINT)),
      |  (5, 'eve-2', '900.00', CAST(9 AS BIGINT))
      |) AS t(account_id, owner, balance, rv)
      |ORDER BY rv""".stripMargin

  private val incrementalWatermarkSql =
    """WITH sample AS (
      |  SELECT o_orderkey, o_orderstatus FROM orders
      |  WHERE o_orderkey % 10 = 0),
      |k AS (SELECT max(o_orderkey) // 2 AS k FROM sample)
      |SELECT o_orderstatus,
      |  CAST(sum(CASE WHEN o_orderkey <= k THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_initial,
      |  CAST(sum(CASE WHEN o_orderkey > k THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_incremental,
      |  count(*) AS n_total
      |FROM sample, k GROUP BY 1 ORDER BY 1""".stripMargin

  /** Source/sink format fidelity — the engine's non-parquet lake
    * formats, proven by round-trip: the documents table is WRITTEN to
    * ORC, CSV and JSON and READ back (explicit schema on read — no
    * inference drift), and each format must reproduce the identical
    * per-format row count, id sum, char total, and text-content
    * checksum (the cross-engine md5-bucket sum, so a single corrupted
    * character anywhere fails the hash gate). CSV uses RFC 4180
    * quoting (quote-escape = double quote) — the fixture text is
    * single-line, the punctuation/quote content is what the checksum
    * guards. The oracle computes the expected quadruple straight from
    * the parquet table: format transport must be invisible.
    *
    * Scale: each leg is a straight columnar write + scan, the
    * aggregate is one partial-aggregated pass per leg — format choice
    * changes IO bytes, never the plan shape.
    */
  private def formatRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // the three format copies are pure functions of the fixture —
    // staged once per JVM (graft.StagedFixture); the read-back legs
    // and checksums run per invocation
    val tmp = graft.StagedFixture.dir(graft.StagedFixture.key("formats", dir), "graft_formats") {
      t =>
        docs.write.mode("overwrite").orc(s"$t/orc")
        docs.write.mode("overwrite").option("header", "true")
          .option("escape", "\"").csv(s"$t/csv")
        docs.write.mode("overwrite").json(s"$t/json")
    }
    def checksum(df: DataFrame, format: String): DataFrame =
      df.agg(
        count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 6), 16, 10).cast("long"))
          .as("sum_text_bucket"))
        .select(lit(format).as("format"), col("n_rows"),
          col("sum_doc_id"), col("sum_chars"), col("sum_text_bucket"))
    val orc = s.read.schema(docs.schema).orc(s"$tmp/orc")
    val csv = s.read.schema(docs.schema).option("header", "true")
      .option("escape", "\"").csv(s"$tmp/csv")
    val json = s.read.schema(docs.schema).json(s"$tmp/json")
    checksum(csv, "csv")
      .unionByName(checksum(json, "json"))
      .unionByName(checksum(orc, "orc"))
      .orderBy(col("format"))
  }

  private val formatRoundtripSql =
    """WITH agg AS (
      |  SELECT count(*) AS n_rows,
      |    CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
      |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |    CAST(sum(CAST(('0x' || substring(md5(text), 1, 6)) AS BIGINT))
      |      AS BIGINT) AS sum_text_bucket
      |  FROM documents)
      |SELECT format, n_rows, sum_doc_id, sum_chars, sum_text_bucket
      |FROM (VALUES ('csv'), ('json'), ('orc')) t(format), agg
      |ORDER BY format""".stripMargin

  /** Parquet schema evolution — the lake behavior every long-lived
    * ingest hits: an old writer's files lack a column a new writer
    * added, and a `mergeSchema` read must unify the footers and
    * null-backfill the missing column, never misalign or drop rows.
    * Staged as two generations (even docs written WITHOUT `lang`, odd
    * docs with it) under one root; the gate checks per-generation row
    * counts, null backfill, and that the surviving columns' content
    * checksums are unharmed.
    */
  private def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // the two writer generations are a pure function of the fixture —
    // staged once per JVM; the mergeSchema read under test runs fresh
    // per invocation
    val tmp = graft.StagedFixture.dir(graft.StagedFixture.key("evolve", dir), "graft_evolve") { t =>
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$t/gen1")
      docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("text"), col("lang"))
        .write.mode("overwrite").parquet(s"$t/gen2")
    }
    val merged = s.read.option("mergeSchema", "true")
      .option("recursiveFileLookup", "true").parquet(tmp)
    merged
      .groupBy(pmod(col("doc_id"), lit(2)).as("generation"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_null_lang"),
        sum(conv(substring(md5(col("text")), 1, 6), 16, 10).cast("long"))
          .as("sum_text_bucket"))
      .orderBy(col("generation"))
  }

  private val schemaEvolutionSql =
    """SELECT doc_id % 2 AS generation, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_null_lang,
      |  CAST(sum(CAST(('0x' || substring(md5(text), 1, 6)) AS BIGINT))
      |    AS BIGINT) AS sum_text_bucket
      |FROM documents GROUP BY 1 ORDER BY generation""".stripMargin

  /** Hive-partitioned lake round-trip — `partitionBy` write, partition
    * discovery on read, and PRUNING at the scan (StorageSpec asserts
    * the PartitionFilters on this exact layout): events land bucketed
    * by type, the read filters one type, and the per-type aggregate
    * must match computing the same thing from the unpartitioned
    * fixture.
    */
  private def partitionedLake(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    // the partitioned layout is a pure function of the fixture —
    // staged once per JVM; the discovery + pruned read under test
    // (StorageSpec asserts the PartitionFilters) runs per invocation
    val tmp = graft.StagedFixture.dir(graft.StagedFixture.key("partlake", dir), "graft_partlake") {
      t =>
        ev.select(col("event_id"), col("user_id"), col("value"),
            col("event_type"))
          .write.mode("overwrite").partitionBy("event_type").parquet(t)
    }
    s.read.parquet(tmp)
      .filter(col("event_type") === "purchase")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double")
          .as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  private val partitionedLakeSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY event_type""".stripMargin

  /** Bucketed-table co-located join — the lake layout that removes the
    * shuffle from every future join on the bucket key. Orders and
    * customer are written ONCE as bucketed+sorted tables (8 buckets on
    * custkey); the revenue-by-segment join then runs with NO exchange
    * on either side: the scan exposes the bucket hash-partitioning and
    * SortMergeJoin consumes both scans directly (PlanSpec asserts zero
    * exchanges under the join — a cheap in-partition Sort remains
    * because Spark 3+ dropped per-bucket sort-order propagation from
    * bucketed scans). At 100 TB this is THE join
    * strategy for recurring fact-dim joins too big to broadcast —
    * the shuffle is paid once at layout time, amortized over every
    * downstream run; broadcast stays the answer for genuinely small
    * dims (the engine's dimension joins), bucketing for the big-big
    * case. The post-join segment rollup still shuffles — 5 groups.
    *
    * Mechanics worth the demo: both sides must agree on bucket COUNT
    * and KEY; `spark.table` (catalog metadata) carries the bucket
    * spec — a plain parquet path read would not. Tables are external
    * (explicit path) in a per-invocation temp dir, dropped after
    * materialization.
    */
  /** Stages the bucketed tables (once per JVM — bucketing IS the
    * pay-layout-once strategy, so re-writing it per invocation both
    * misstated the economics and churned the bench) and returns the
    * co-located join DF un-materialized (PlanSpec inspects its
    * physical plan). The pre-write `repartition(8, key)` aligns write
    * partitioning with the bucket spec so each bucket lands in ONE
    * file per table — no small-file fan-out (tasks × buckets files)
    * from the bucketed write. Catalog names carry a fixture content
    * stamp (SHA-256 prefix over file paths/sizes/mtimes — NOT
    * String.hashCode, whose 32 bits can birthday-collide across
    * fixtures and silently repoint a shared name at the wrong data);
    * two fixtures staged in one JVM (ScaleCurve) therefore never
    * collide, and a regenerated fixture gets fresh names. The catalog
    * entries live in the session catalog; the filesystem memo outlives
    * any one SparkSession, so the entries are re-registered from the
    * staged path whenever the current session's catalog lacks them
    * (a fresh session in the same JVM starts with an empty in-memory
    * catalog while the memo still returns). Catalog mutation is
    * serialized on a JVM lock: same-key concurrent first callers may
    * both run the memo's build, and unserialized DROP/CREATE on the
    * shared names would race.
    */
  private val bucketedCatalogLock = new Object
  private[graft] def stageBucketedJoin(
      s: SparkSession, dir: String): DataFrame = {
    val h = graft.StagedFixture.contentStamp(dir)
    val (ordersTbl, customerTbl) =
      (s"graft_bkt_orders_$h", s"graft_bkt_customer_$h")
    val staged = graft.StagedFixture.dir(
      graft.StagedFixture.key("bucketed", dir), "graft_bucketed") { t =>
      def stage(name: String, df: DataFrame, key: String): Unit =
        bucketedCatalogLock.synchronized {
          s.sql(s"DROP TABLE IF EXISTS $name")
          df.repartition(8, col(key)).write.mode("overwrite")
            .option("path", s"$t/$name")
            .bucketBy(8, key).sortBy(key)
            .format("parquet").saveAsTable(name)
        }
      stage(ordersTbl, Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice")), "o_custkey")
      stage(customerTbl, Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")), "c_custkey")
    }
    bucketedCatalogLock.synchronized {
      for ((tbl, key) <- Seq((ordersTbl, "o_custkey"),
          (customerTbl, "c_custkey"))
        if !s.catalog.tableExists(tbl)) {
        // schema from the parquet footer; the bucket spec must match
        // the write above or the no-exchange plan contract breaks
        val ddl = s.read.parquet(s"$staged/$tbl").schema.toDDL
        s.sql(s"CREATE TABLE $tbl ($ddl) USING parquet " +
          s"CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS " +
          s"LOCATION '$staged/$tbl'")
      }
    }
    s.table(ordersTbl)
      .join(s.table(customerTbl).hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  private def bucketedJoin(s: SparkSession, dir: String): DataFrame =
    stageBucketedJoin(s, dir)

  private val bucketedJoinSql =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
      |    AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** CDC log compaction — the MERGE a long-lived lake table runs to
    * fold a change stream (upserts + deletes, each stamped with a
    * monotone version) into the snapshot: per key the LATEST version
    * wins, a winning delete drops the row. The change log here is
    * synthesized deterministically from the snapshot itself (updates
    * at v2/v5, deletes at v3, re-inserts at v4 — including the
    * deleted-then-re-inserted and updated-after-delete orderings that
    * break naive "apply ops in arrival order" merges); output is the
    * post-merge per-status rollup.
    *
    * Scale shape: ONE shuffle — union log + snapshot, hash-partition
    * by key, per-key max-version pick (window over the key, no global
    * sort). This is merge-on-read compaction; with the snapshot
    * bucketed by key (mig_bucketed_join's layout) even that shuffle
    * only moves the delta. The copy-on-write alternative (anti-join
    * base against delta keys + union) trades read cost for write
    * amplification — same key-partitioned join shape either way.
    */
  private def cdcMerge(s: SparkSession, dir: String): DataFrame = {
    def snap(v: Long, op: String) = Tables(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        col("o_totalprice").as("price"),
        lit(v).as("version"), lit(op).as("op"))
    val log = snap(1L, "U")
      .unionByName(snap(2L, "U").filter(col("k") % 10 === 0)
        .withColumn("price", col("price") + 1000.0))
      .unionByName(snap(3L, "D").filter(col("k") % 17 === 0))
      .unionByName(snap(4L, "U").filter(col("k") % 34 === 0)
        .withColumn("price", lit(42.0)))
      .unionByName(snap(5L, "U").filter(col("k") % 20 === 0)
        .withColumn("price", col("price") + 5000.0))
    val w = Window.partitionBy(col("k")).orderBy(col("version").desc)
    log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .groupBy(col("st"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("k")).as("sum_keys"),
        sum(col("price").cast(DecimalType(18, 2))).cast("double")
          .as("sum_price"))
      .orderBy(col("st"))
  }

  private[queries] val cdcMergeSql =
    """WITH log AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS price,
      |    1 AS version, 'U' AS op FROM orders
      |  UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0,
      |    2, 'U' FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice,
      |    3, 'D' FROM orders WHERE o_orderkey % 17 = 0
      |  UNION ALL SELECT o_orderkey, o_orderstatus, 42.0,
      |    4, 'U' FROM orders WHERE o_orderkey % 34 = 0
      |  UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice + 5000.0,
      |    5, 'U' FROM orders WHERE o_orderkey % 20 = 0),
      |merged AS (
      |  SELECT * FROM log
      |  QUALIFY row_number() OVER (PARTITION BY k ORDER BY version DESC) = 1)
      |SELECT st, count(*) AS n_rows,
      |  CAST(sum(k) AS BIGINT) AS sum_keys,
      |  CAST(sum(CAST(price AS DECIMAL(18, 2))) AS DOUBLE) AS sum_price
      |FROM merged WHERE op <> 'D'
      |GROUP BY st ORDER BY st""".stripMargin

  /** Z-order (Morton-curve) clustering layout + data-skipping
    * effectiveness report — the multi-dimensional file-skipping story
    * for a 100 TB lake. Rows are mapped to a 16-bit × 16-bit grid over
    * (l_orderkey, l_partkey) by proportional scaling, the two
    * coordinates are bit-interleaved into a Morton code `z` (the
    * classic parallel-prefix spread: <<8/<<4/<<2/<<1 with the
    * 0x00FF00FF/0x0F0F0F0F/0x33333333/0x55555555 masks), and the file
    * layout is 32 equal-width z-ranges (`z DIV 2^27`) — exactly what
    * `repartitionByRange(32, $"z").sortWithinPartitions($"z")` +
    * parquet min/max footer stats gives at scale, but with
    * deterministic fixed-width boundaries instead of the range
    * partitioner's sampled ones so the oracle can reproduce them.
    *
    * The report: for each layout (zorder vs linear-by-orderkey) and
    * each dimension, how many of the 32 files does an equal-width
    * 1/16-domain slab predicate touch on average (computed from
    * per-file min/max envelopes — the same pruning a reader does from
    * parquet footers). Z-order bounds BOTH dimensions at O(√F)-ish
    * (here 8 of 32 for x, 4 of 32 for y) where the linear layout is
    * perfect on its sort key and useless (32/32) on the other — the
    * quantitative argument for Morton layout under mixed predicates.
    *
    * Scale notes: one wide scan computes the grid + both file ids; the
    * per-file envelope is a 32-group partial-agg'd groupBy; everything
    * after is 32-row arithmetic. The 2-row scalar max() sides are
    * broadcast. Exactness: all integer bit arithmetic; the only double
    * is pairs/16 (a power of two — exact in IEEE).
    */
  private def zorder(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").cast("long").as("ok"),
        col("l_partkey").cast("long").as("pk"))
    val mx = li.agg((max(col("ok")) + 1L).as("mo"),
      (max(col("pk")) + 1L).as("mp"))
    val g = li.crossJoin(broadcast(mx))
      .select(expr("ok * 65536 DIV mo").as("x"),
        expr("pk * 65536 DIV mp").as("y"))
    def spread(c: Column): Column = {
      val a = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
      val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val d = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
      d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
    }
    val withFiles = g
      .withColumn("z", spread(col("x"))
        .bitwiseOR(shiftleft(spread(col("y")), 1)))
      .withColumn("zfile", expr("z DIV 134217728")) // 2^32 / 32 files
      .withColumn("lfile", expr("x DIV 2048")) // linear-by-x, 32 files
    def fileStats(fileCol: String): DataFrame = withFiles
      .groupBy(col(fileCol).as("f"))
      .agg(min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .localCheckpoint() // 32 rows; stop recomputing the full scan
    val slabs = broadcast(s.range(16).select(col("id").as("slab")))
    def summarize(stats: DataFrame, layout: String, dim: String)
        : DataFrame = {
      val (mn, mxc) =
        if (dim == "x") (col("min_x"), col("max_x"))
        else (col("min_y"), col("max_y"))
      val hits = stats.crossJoin(slabs)
        .filter(mxc >= col("slab") * 4096L &&
          mn <= col("slab") * 4096L + 4095L)
        .agg(count(lit(1)).as("pairs"))
      stats.agg(count(lit(1)).as("n_files")).crossJoin(hits)
        .select(lit(layout).as("layout"), lit(dim).as("dim"),
          col("n_files"),
          (col("pairs").cast("double") / 16.0).as("avg_files_touched"))
    }
    val zs = fileStats("zfile")
    val ls = fileStats("lfile")
    summarize(zs, "zorder", "x")
      .unionByName(summarize(zs, "zorder", "y"))
      .unionByName(summarize(ls, "linear", "x"))
      .unionByName(summarize(ls, "linear", "y"))
      .orderBy(col("layout"), col("dim"))
  }

  private val zorderSql =
    """WITH mx AS (SELECT max(l_orderkey)+1 AS mo, max(l_partkey)+1 AS mp
      |  FROM lineitem),
      |g AS (SELECT (l_orderkey*65536)//mo AS x, (l_partkey*65536)//mp AS y
      |  FROM lineitem, mx),
      |s1 AS (SELECT x, y, (x|(x<<8))&16711935 AS xa,
      |  (y|(y<<8))&16711935 AS ya FROM g),
      |s2 AS (SELECT x, y, (xa|(xa<<4))&252645135 AS xb,
      |  (ya|(ya<<4))&252645135 AS yb FROM s1),
      |s3 AS (SELECT x, y, (xb|(xb<<2))&858993459 AS xc,
      |  (yb|(yb<<2))&858993459 AS yc FROM s2),
      |s4 AS (SELECT x, y, (xc|(xc<<1))&1431655765 AS xd,
      |  (yc|(yc<<1))&1431655765 AS yd FROM s3),
      |f AS (SELECT x, y, (xd|(yd<<1))//134217728 AS zfile,
      |  x//2048 AS lfile FROM s4),
      |zs AS (SELECT zfile AS fid, min(x) AS min_x, max(x) AS max_x,
      |  min(y) AS min_y, max(y) AS max_y FROM f GROUP BY 1),
      |ls AS (SELECT lfile AS fid, min(x) AS min_x, max(x) AS max_x,
      |  min(y) AS min_y, max(y) AS max_y FROM f GROUP BY 1),
      |slabs AS (SELECT i AS slab FROM range(0,16) t(i))
      |SELECT 'zorder' AS layout, 'x' AS dim,
      |  (SELECT count(*) FROM zs) AS n_files,
      |  CAST((SELECT count(*) FROM zs, slabs
      |    WHERE max_x >= slab*4096 AND min_x <= slab*4096+4095)
      |    AS DOUBLE)/16.0 AS avg_files_touched
      |UNION ALL SELECT 'zorder', 'y', (SELECT count(*) FROM zs),
      |  CAST((SELECT count(*) FROM zs, slabs
      |    WHERE max_y >= slab*4096 AND min_y <= slab*4096+4095)
      |    AS DOUBLE)/16.0
      |UNION ALL SELECT 'linear', 'x', (SELECT count(*) FROM ls),
      |  CAST((SELECT count(*) FROM ls, slabs
      |    WHERE max_x >= slab*4096 AND min_x <= slab*4096+4095)
      |    AS DOUBLE)/16.0
      |UNION ALL SELECT 'linear', 'y', (SELECT count(*) FROM ls),
      |  CAST((SELECT count(*) FROM ls, slabs
      |    WHERE max_y >= slab*4096 AND min_y <= slab*4096+4095)
      |    AS DOUBLE)/16.0
      |ORDER BY layout, dim""".stripMargin

  /** Column profiling — the pre-migration data-quality scan every
    * warehouse move starts with: per source column, row/non-null/
    * distinct counts plus min/max rendered through the SAME
    * deterministic casts the literal renderer uses (decimal text for
    * doubles, formatted text for timestamps), so drift between two
    * profile runs is a value diff, not a formatting diff.
    *
    * Scale shape: TWO global folds over the scan, then a 1-row × 1-row
    * join. Counts and min/max go in one ungrouped aggregation — with
    * no grouping keys the SortAggregate that string min/max forces
    * needs NO sort, it is a straight partial/final fold. The six
    * `count(DISTINCT …)`s go in a SEPARATE aggregation: alone they
    * plan as Expand (6× fan-out) + hash aggregation keyed on
    * (gid, value) with purely mutable long buffers. Mixing the two in
    * one agg is the trap: the immutable string-min/max buffer demotes
    * the whole Expand pass to SortAggregate — a full 7-key sort of 6n
    * wide rows (measured 4.0 s vs 0.6 s at sf0.1, and the sort is the
    * part that grows super-linearly at 100 TB). The single result row
    * is unpivoted driver-free with `stack`; nothing is per-column
    * re-scanned.
    */
  private def profile(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    def mm(c: Column): Column = c.cast("string")
    def mmDec(c: Column): Column = c.cast(DecimalType(12, 2)).cast("string")
    def mmTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")
    val basic = o.agg(
      count(lit(1)).as("n_rows"),
      count(col("o_orderkey")).as("nn1"),
      mm(min(col("o_orderkey"))).as("mn1"), mm(max(col("o_orderkey"))).as("mx1"),
      count(col("o_custkey")).as("nn2"),
      mm(min(col("o_custkey"))).as("mn2"), mm(max(col("o_custkey"))).as("mx2"),
      count(col("o_orderstatus")).as("nn3"),
      min(col("o_orderstatus")).as("mn3"), max(col("o_orderstatus")).as("mx3"),
      count(col("o_totalprice")).as("nn4"),
      mmDec(min(col("o_totalprice"))).as("mn4"),
      mmDec(max(col("o_totalprice"))).as("mx4"),
      count(col("o_orderdate")).as("nn5"),
      mmTs(min(col("o_orderdate"))).as("mn5"),
      mmTs(max(col("o_orderdate"))).as("mx5"),
      count(col("o_orderpriority")).as("nn6"),
      min(col("o_orderpriority")).as("mn6"),
      max(col("o_orderpriority")).as("mx6"))
    val distincts = o.agg(
      countDistinct(col("o_orderkey")).as("nd1"),
      countDistinct(col("o_custkey")).as("nd2"),
      countDistinct(col("o_orderstatus")).as("nd3"),
      countDistinct(col("o_totalprice")).as("nd4"),
      countDistinct(col("o_orderdate")).as("nd5"),
      countDistinct(col("o_orderpriority")).as("nd6"))
    val one = basic.crossJoin(broadcast(distincts))
    one.select(col("n_rows"), expr(
        """stack(6,
          |  'o_orderkey', nn1, nd1, mn1, mx1,
          |  'o_custkey', nn2, nd2, mn2, mx2,
          |  'o_orderstatus', nn3, nd3, mn3, mx3,
          |  'o_totalprice', nn4, nd4, mn4, mx4,
          |  'o_orderdate', nn5, nd5, mn5, mx5,
          |  'o_orderpriority', nn6, nd6, mn6, mx6)
          |  AS (col_name, n_nonnull, n_distinct, min_repr, max_repr)
          |""".stripMargin))
      .withColumn("n_null", col("n_rows") - col("n_nonnull"))
      .select(col("col_name"), col("n_rows"), col("n_nonnull"),
        col("n_null"), col("n_distinct"), col("min_repr"), col("max_repr"))
      .orderBy(col("col_name"))
  }

  private val profileSql = {
    def block(name: String, mn: String, mx: String) =
      s"""SELECT '$name' AS col_name, count(*) AS n_rows,
         |  count($name) AS n_nonnull,
         |  count(*) - count($name) AS n_null,
         |  count(DISTINCT $name) AS n_distinct,
         |  $mn AS min_repr, $mx AS max_repr FROM orders""".stripMargin
    Seq(
      block("o_orderkey", "CAST(min(o_orderkey) AS VARCHAR)",
        "CAST(max(o_orderkey) AS VARCHAR)"),
      block("o_custkey", "CAST(min(o_custkey) AS VARCHAR)",
        "CAST(max(o_custkey) AS VARCHAR)"),
      block("o_orderstatus", "min(o_orderstatus)", "max(o_orderstatus)"),
      block("o_totalprice",
        "CAST(CAST(min(o_totalprice) AS DECIMAL(12,2)) AS VARCHAR)",
        "CAST(CAST(max(o_totalprice) AS DECIMAL(12,2)) AS VARCHAR)"),
      block("o_orderdate", "strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S')",
        "strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')"),
      block("o_orderpriority", "min(o_orderpriority)",
        "max(o_orderpriority)"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** Per-column (n_distinct, min_repr, max_repr) of any frame, in the
    * profile's two-fold shape: min/max in one ungrouped fold (string
    * min/max's immutable buffer needs no sort there) and the distincts
    * alone so their Expand stays hash-aggregated — see [[profile]]'s
    * Scaladoc for the measured trap this avoids.
    */
  private def statsOf(df: DataFrame,
      specs: Seq[(String, Column => Column)]): DataFrame = {
    val basicAggs = specs.zipWithIndex.flatMap { case ((n, mm), i) =>
      Seq(mm(min(col(n))).as(s"mn$i"), mm(max(col(n))).as(s"mx$i")) }
    val basic = df.agg(basicAggs.head, basicAggs.tail: _*)
    val distinctAggs = specs.zipWithIndex.map { case ((n, _), i) =>
      countDistinct(col(n)).as(s"nd$i") }
    val distincts = df.agg(distinctAggs.head, distinctAggs.tail: _*)
    val stackExpr = s"stack(${specs.length}, " +
      specs.zipWithIndex.map { case ((n, _), i) =>
        s"'$n', nd$i, mn$i, mx$i" }.mkString(", ") +
      ") AS (col_name, n_distinct, min_repr, max_repr)"
    basic.crossJoin(broadcast(distincts)).select(expr(stackExpr))
  }

  /** Schema-drift report — what a re-run of the profiler tells you
    * about a table that evolved since the last migration: per column,
    * added / removed / changed (any of distinct count or rendered
    * extrema moved) / unchanged, with both versions' stats side by
    * side. The evolved fixture drops `o_orderpriority`, adds a
    * deterministic `o_channel`, and nudges a fifth of the prices —
    * one column per drift class plus untouched ones. Two statsOf
    * passes (each two global folds) and a 6×6 full outer join of the
    * per-column summary rows; nothing row-level crosses the join.
    */
  private def schemaDrift(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    def mm(c: Column): Column = c.cast("string")
    def mmDec(c: Column): Column = c.cast(DecimalType(12, 2)).cast("string")
    def mmTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")
    def id(c: Column): Column = c
    val v1Specs: Seq[(String, Column => Column)] = Seq(
      "o_orderkey" -> mm _, "o_custkey" -> mm _, "o_orderstatus" -> id _,
      "o_totalprice" -> mmDec _, "o_orderdate" -> mmTs _,
      "o_orderpriority" -> id _)
    val v2 = o.drop("o_orderpriority")
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice")))
      .withColumn("o_channel",
        when(col("o_orderkey") % 3 === 0, "web")
          .when(col("o_orderkey") % 3 === 1, "store")
          .otherwise("app"))
    val v2Specs: Seq[(String, Column => Column)] =
      v1Specs.filterNot(_._1 == "o_orderpriority") :+
        ("o_channel" -> (id _): (String, Column => Column))
    val p1 = statsOf(o, v1Specs)
    val p2 = statsOf(v2, v2Specs)
    p1.as("a").join(p2.as("b"), Seq("col_name"), "full_outer")
      .select(col("col_name"),
        when(col("a.n_distinct").isNull, "added")
          .when(col("b.n_distinct").isNull, "removed")
          .when(col("a.n_distinct") =!= col("b.n_distinct") ||
            col("a.min_repr") =!= col("b.min_repr") ||
            col("a.max_repr") =!= col("b.max_repr"), "changed")
          .otherwise("unchanged").as("status"),
        col("a.n_distinct").as("nd_old"), col("b.n_distinct").as("nd_new"),
        col("a.min_repr").as("min_old"), col("b.min_repr").as("min_new"),
        col("a.max_repr").as("max_old"), col("b.max_repr").as("max_new"))
      .orderBy(col("col_name"))
  }

  private val schemaDriftSql = {
    def block(src: String, name: String, mn: String, mx: String) =
      s"""SELECT '$name' AS col_name, count(DISTINCT $name) AS n_distinct,
         |  $mn AS min_repr, $mx AS max_repr FROM $src""".stripMargin
    def plain(src: String, name: String) =
      block(src, name, s"min($name)", s"max($name)")
    def num(src: String, name: String) =
      block(src, name, s"CAST(min($name) AS VARCHAR)",
        s"CAST(max($name) AS VARCHAR)")
    def dec(src: String, name: String) =
      block(src, name,
        s"CAST(CAST(min($name) AS DECIMAL(12,2)) AS VARCHAR)",
        s"CAST(CAST(max($name) AS DECIMAL(12,2)) AS VARCHAR)")
    def ts(src: String, name: String) =
      block(src, name, s"strftime(min($name), '%Y-%m-%d %H:%M:%S')",
        s"strftime(max($name), '%Y-%m-%d %H:%M:%S')")
    val p1 = Seq(num("orders", "o_orderkey"), num("orders", "o_custkey"),
      plain("orders", "o_orderstatus"), dec("orders", "o_totalprice"),
      ts("orders", "o_orderdate"), plain("orders", "o_orderpriority"))
      .mkString("\nUNION ALL\n")
    val p2 = Seq(num("v2", "o_orderkey"), num("v2", "o_custkey"),
      plain("v2", "o_orderstatus"), dec("v2", "o_totalprice"),
      ts("v2", "o_orderdate"), plain("v2", "o_channel"))
      .mkString("\nUNION ALL\n")
    s"""WITH v2 AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus,
       |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
       |         ELSE o_totalprice END AS o_totalprice,
       |    o_orderdate,
       |    CASE WHEN o_orderkey % 3 = 0 THEN 'web'
       |         WHEN o_orderkey % 3 = 1 THEN 'store'
       |         ELSE 'app' END AS o_channel
       |  FROM orders),
       |p1 AS ($p1),
       |p2 AS ($p2)
       |SELECT COALESCE(a.col_name, b.col_name) AS col_name,
       |  CASE WHEN a.n_distinct IS NULL THEN 'added'
       |       WHEN b.n_distinct IS NULL THEN 'removed'
       |       WHEN a.n_distinct <> b.n_distinct
       |         OR a.min_repr <> b.min_repr
       |         OR a.max_repr <> b.max_repr THEN 'changed'
       |       ELSE 'unchanged' END AS status,
       |  a.n_distinct AS nd_old, b.n_distinct AS nd_new,
       |  a.min_repr AS min_old, b.min_repr AS min_new,
       |  a.max_repr AS max_old, b.max_repr AS max_new
       |FROM p1 a FULL JOIN p2 b ON a.col_name = b.col_name
       |ORDER BY col_name""".stripMargin
  }

  /** Slowly-changing-dimension Type 2 build — the standard warehouse
    * shape a migration lands change history into: collapse each
    * customer's order-priority stream to its change points, then stamp
    * every version with [valid_from, valid_to) and an is_current flag.
    * Two windows over the same (custkey | orderdate, orderkey)
    * partitioning — Catalyst reuses one sort+shuffle for both, so the
    * whole build is a single exchange of the filtered slice no matter
    * how long the history grows; no self-join against "the previous
    * version" (the O(n²) way SCD2 is often written).
    */
  /** Pre-migration constraint validation — the data-quality gate a
    * migrator runs BEFORE declaring constraints on the target (the
    * reference's constraints pass fails loudly on violating data;
    * this query finds the violations first): FK orphans
    * (orders.o_custkey → customer, lineitem.l_partkey → part),
    * PK duplicates, and NOT NULL checks, each as one row with the
    * violation count and the smallest offending key. Every check is a
    * broadcast-dim anti join or a single aggregation — the fact tables
    * are scanned once per check and never joined to each other. The
    * fixture is referentially intact, so all counts are 0 — exactly
    * what the gate must PROVE (a "no rows means nothing ran" bug would
    * show as a missing row, not a zero).
    */
  private def constraintCheck(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables(s, dir, "orders")
    val lineitem = Tables(s, dir, "lineitem")
    def report(name: String, viol: DataFrame): DataFrame =
      viol.agg(count(lit(1)).as("n_violations"),
          min(col("k")).as("min_offender"))
        .select(lit(name).as("constraint_name"), col("n_violations"),
          col("min_offender"))
    val fkCust = report("fk_orders_custkey",
      orders.select(col("o_custkey").as("k"))
        .join(broadcast(Tables(s, dir, "customer")
          .select(col("c_custkey").as("k"))), Seq("k"), "left_anti"))
    val fkPart = report("fk_lineitem_partkey",
      lineitem.select(col("l_partkey").as("k"))
        .join(broadcast(Tables(s, dir, "part")
          .select(col("p_partkey").as("k"))), Seq("k"), "left_anti"))
    val pkDup = report("pk_orders_orderkey",
      orders.groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1))
    val nn = report("nn_orders_orderdate",
      orders.filter(col("o_orderdate").isNull)
        .select(col("o_orderkey").as("k")))
    fkCust.unionByName(fkPart).unionByName(pkDup).unionByName(nn)
      .orderBy(col("constraint_name"))
  }

  private val constraintCheckSql =
    """SELECT 'fk_orders_custkey' AS constraint_name,
      |  count(*) AS n_violations, min(k) AS min_offender
      |FROM (SELECT o_custkey AS k FROM orders
      |      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
      |UNION ALL
      |SELECT 'fk_lineitem_partkey', count(*), min(k)
      |FROM (SELECT l_partkey AS k FROM lineitem
      |      WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
      |UNION ALL
      |SELECT 'pk_orders_orderkey', count(*), min(k)
      |FROM (SELECT o_orderkey AS k FROM orders
      |      GROUP BY o_orderkey HAVING count(*) > 1)
      |UNION ALL
      |SELECT 'nn_orders_orderdate', count(*), min(k)
      |FROM (SELECT o_orderkey AS k FROM orders
      |      WHERE o_orderdate IS NULL)
      |ORDER BY constraint_name""".stripMargin

  /** Point-in-time SCD2 lookup — the query the Type-2 dimension exists
    * FOR: enrich each fact row with the dimension version valid at its
    * timestamp. Runs through the custom [[graft.plans.AsOfJoin]]
    * operator (per customer, latest version whose valid_from ≤ the
    * order instant), the second production context exercising that
    * exec; DuckDB's native ASOF JOIN is the oracle. Same-instant
    * version changes are collapsed to the last one per (customer,
    * instant) on BOTH engines, so the as-of has no cross-engine tie
    * at any scale. Scale shape: the as-of is one sort-merge pass per
    * key partition — no validity-interval range join, no valid_to
    * needed at all.
    */
  private def scd2Lookup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wTie = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val dim = Tables(s, dir, "orders")
      .filter(col("o_custkey") % 100 === 0)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderpriority"))
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
      .withColumn("tie_rn", row_number().over(wTie))
      .filter(col("tie_rn") === 1)
      .select(col("o_custkey").as("d_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("valid_from_us"),
        col("o_orderpriority").as("priority"))
    val facts = Tables(s, dir, "orders")
      .filter(col("o_custkey") % 100 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("order_us"),
        col("o_totalprice"))
    graft.plans.AsOfJoin.join(s, facts, dim,
        "o_custkey", "d_custkey", "order_us", "valid_from_us")
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("sum_price"))
      .orderBy(col("priority"))
  }

  private val scd2LookupSql =
    """WITH h AS (
      |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
      |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders WHERE o_custkey % 100 = 0),
      |dim AS (
      |  SELECT o_custkey AS d_custkey, o_orderdate AS valid_from,
      |    o_orderpriority AS priority
      |  FROM (SELECT * FROM h
      |        WHERE prev IS NULL OR prev <> o_orderpriority)
      |  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
      |    ORDER BY o_orderkey DESC) = 1),
      |facts AS (
      |  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
      |  FROM orders WHERE o_custkey % 100 = 0)
      |SELECT priority, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM facts ASOF JOIN dim
      |  ON facts.o_custkey = dim.d_custkey
      | AND facts.o_orderdate >= dim.valid_from
      |GROUP BY priority ORDER BY priority""".stripMargin

  private def scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(s, dir, "orders")
      .filter(col("o_custkey") % 100 === 0)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderpriority"))
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to_ts", lead(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("version"),
        col("o_orderpriority").as("priority"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
          .as("valid_from"),
        date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("valid_to"),
        col("valid_to_ts").isNull.as("is_current"))
      .orderBy(col("o_custkey"), col("version"))
  }

  private val scd2Sql =
    """WITH h AS (
      |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
      |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders WHERE o_custkey % 100 = 0),
      |c AS (SELECT * FROM h
      |  WHERE prev IS NULL OR prev <> o_orderpriority),
      |v AS (
      |  SELECT o_custkey, o_orderpriority,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS version,
      |    o_orderdate AS vf,
      |    lead(o_orderdate) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS vt
      |  FROM c)
      |SELECT o_custkey, version, o_orderpriority AS priority,
      |  strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
      |  strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
      |  vt IS NULL AS is_current
      |FROM v ORDER BY o_custkey, version""".stripMargin

  /** Post-migration reconciliation (data-diff): did the target end up
    * with exactly the source's rows? The fixture derives a "migrated"
    * orders table with three deterministic defect classes seeded by a
    * salted hash — dropped rows, a price corruption, and spurious
    * re-keyed inserts — and the diff classifies every key as
    * identical / changed / missing_in_target / extra_in_target via
    * per-row checksums over the SAME deterministic renderings the
    * profiler uses.
    *
    * Scale shape (the part that matters at 100 TB): the row-level
    * outer join never touches the full tables. Both sides first
    * roll up to 256 per-bucket (count, checksum-sum) rows — one
    * map-side-combined aggregation each — and only buckets whose
    * summaries disagree are drilled: the row diff full-outer-joins
    * the two sides SEMI-JOINED to the differing-bucket list (a
    * broadcast of ≤256 ints). A clean terabyte costs two scans and a
    * 256-row compare; the expensive join is proportional to the
    * damage, not the data. Identical-row count comes from clean-bucket
    * totals plus drilled matches (checksum-level reconciliation —
    * the same contract every Merkle-tree diff tool ships).
    */
  private def dataDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    // defect seeding: first 6 md5 hex digits of the salted key, mod 500
    def defectClass(key: Column): Column =
      conv(substring(md5(concat(lit("diff:"), key.cast("string"))), 1, 6),
        16, 10).cast("long") % 500
    val src = o.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))
    // one narrow scan builds the whole defected target: class 0 rows
    // emit no key (lost), class 2 rows emit their key twice (original
    // + re-keyed spurious insert), class 1 rows keep their key with a
    // corrupted price — explode instead of a union that re-scans
    val dc = defectClass(col("o_orderkey"))
    val tgt = src.withColumn("dc", dc)
      .withColumn("o_totalprice", // class 1: corrupted value
        when(col("dc") === 1, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderkey", explode(
        when(col("dc") === 0, array().cast("array<bigint>"))
          .when(col("dc") === 2,
            array(col("o_orderkey"), col("o_orderkey") + 10000000L))
          .otherwise(array(col("o_orderkey")))))
      .drop("dc")
    dataDiffClassify(src, tgt)
  }

  /** Factored core of mig_data_diff over any two orders-shaped frames
    * — driven by DataDiffSpec against a naive full-join reference on
    * corpora with randomly injected defects.
    */
  private[graft] def dataDiffClassify(src: DataFrame,
      tgt: DataFrame): DataFrame = {
    // deterministic row checksum: 15 md5 hex digits (60 bits) of the
    // rendered row; bucket sums go through mod 2^40 so a 256-bucket
    // sum can never overflow BIGINT on either engine
    def withHash(df: DataFrame): DataFrame = df.withColumn("rh",
      pmod(conv(substring(md5(concat_ws("|",
        col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
        col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(12, 2)).cast("string"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
        col("o_orderpriority"))), 1, 15), 16, 10).cast("long"),
        lit(1099511627776L)))
      .withColumn("bkt", pmod(col("o_orderkey"), lit(256)))
    val sh = withHash(src)
    val th = withHash(tgt)
    def buckets(df: DataFrame): DataFrame = df.groupBy(col("bkt"))
      .agg(count(lit(1)).as("n"), sum(col("rh")).as("cks"))
    // 256-row summaries, materialized once so neither side re-scans
    // for the clean-bucket total (at 100 TB each is one aggregation
    // pass over its table; everything downstream reads 256 rows).
    // The two sides are independent single-table passes — run them as
    // concurrent jobs (guide §2.6) instead of serializing two eager
    // checkpoints
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val sbF = Future { buckets(sh).localCheckpoint() }
    val tb =
      try buckets(th).localCheckpoint()
      catch {
        case e: Throwable =>
          // drain the source side before the primary failure propagates
          try { Await.ready(sbF, Duration.Inf); () }
          catch { case _: Throwable => () }
          throw e
      }
    val sb = Await.result(sbF, Duration.Inf)
    val dirty = sb.as("sb")
      .join(tb.as("tb"), Seq("bkt"), "full_outer")
      .filter(coalesce(col("sb.n"), lit(-1L)) =!=
          coalesce(col("tb.n"), lit(-2L)) ||
        coalesce(col("sb.cks"), lit(-1L)) =!=
          coalesce(col("tb.cks"), lit(-2L)))
      .select(col("bkt"), coalesce(col("sb.n"), lit(0L)).as("sn"))
    val cleanSrcRows = sb.join(broadcast(dirty), Seq("bkt"), "left_anti")
      .agg(coalesce(sum(col("n")), lit(0L)).as("clean_n"))
    // drill ONLY dirty buckets
    val sd = sh.join(broadcast(dirty.select(col("bkt"))), Seq("bkt"))
    val td = th.join(broadcast(dirty.select(col("bkt"))), Seq("bkt"))
    val rowDiff = sd.select(col("o_orderkey"), col("rh").as("srh"))
      .join(td.select(col("o_orderkey"), col("rh").as("trh")),
        Seq("o_orderkey"), "full_outer")
      .withColumn("class",
        when(col("srh").isNull, "extra_in_target")
          .when(col("trh").isNull, "missing_in_target")
          .when(col("srh") =!= col("trh"), "changed")
          .otherwise("identical_drilled"))
    // ONE per-class aggregation over the drill join: the old shape put
    // the whole drill subtree under BOTH branches of the final union
    // (defect classes + identical total), so the expensive full-outer
    // join executed twice per action (§2.4: the exchanges were reused,
    // the join was not). Instead of a second pass, the clean-bucket
    // total rides in as a SEED ROW under the identical_drilled class
    // and one tiny re-aggregation renames/merges it — the drill tree
    // appears exactly once in the plan (and stays visible to the plan
    // spec), and the identical row survives even when every drilled
    // row is a defect (the seed row always exists).
    val perClass = rowDiff
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n_rows"), min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
    val seed = cleanSrcRows.select(
      lit("identical_drilled").as("class"), col("clean_n").as("n_rows"),
      lit(null).cast("long").as("min_key"),
      lit(null).cast("long").as("max_key"))
    perClass.unionByName(seed)
      .withColumn("class", when(col("class") === "identical_drilled",
        "identical").otherwise(col("class")))
      .groupBy(col("class"))
      .agg(sum(col("n_rows")).as("n_rows"),
        min(col("min_key")).as("mk"), max(col("max_key")).as("xk"))
      .select(col("class"), col("n_rows"),
        // the identical row reports no key range (its mass is mostly
        // undrilled clean buckets), exactly as before
        when(col("class") === "identical", lit(null).cast("long"))
          .otherwise(col("mk")).as("min_key"),
        when(col("class") === "identical", lit(null).cast("long"))
          .otherwise(col("xk")).as("max_key"))
      .orderBy(col("class"))
  }

  private val dataDiffSql =
    """WITH src AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    o_orderdate, o_orderpriority FROM orders),
      |seeded AS (
      |  SELECT *, CAST(('0x' || substring(md5('diff:' ||
      |    CAST(o_orderkey AS VARCHAR)), 1, 6)) AS BIGINT) % 500 AS dc
      |  FROM src),
      |tgt AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CASE WHEN dc = 1 THEN o_totalprice + 1.0 ELSE o_totalprice END
      |      AS o_totalprice,
      |    o_orderdate, o_orderpriority
      |  FROM seeded WHERE dc <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
      |    o_totalprice, o_orderdate, o_orderpriority
      |  FROM seeded WHERE dc = 2),
      |sh AS (
      |  SELECT o_orderkey, CAST(('0x' || substring(md5(
      |    CAST(o_orderkey AS VARCHAR) || '|' ||
      |    CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) || '|' ||
      |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '|' ||
      |    o_orderpriority), 1, 15)) AS BIGINT) % 1099511627776 AS rh
      |  FROM src),
      |th AS (
      |  SELECT o_orderkey, CAST(('0x' || substring(md5(
      |    CAST(o_orderkey AS VARCHAR) || '|' ||
      |    CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) || '|' ||
      |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '|' ||
      |    o_orderpriority), 1, 15)) AS BIGINT) % 1099511627776 AS rh
      |  FROM tgt),
      |diff AS (
      |  SELECT COALESCE(sh.o_orderkey, th.o_orderkey) AS k,
      |    CASE WHEN sh.o_orderkey IS NULL THEN 'extra_in_target'
      |         WHEN th.o_orderkey IS NULL THEN 'missing_in_target'
      |         WHEN sh.rh <> th.rh THEN 'changed'
      |         ELSE 'identical' END AS class
      |  FROM sh FULL JOIN th ON sh.o_orderkey = th.o_orderkey)
      |SELECT class, count(*) AS n_rows,
      |  CASE WHEN class = 'identical' THEN NULL ELSE min(k) END
      |    AS min_key,
      |  CASE WHEN class = 'identical' THEN NULL ELSE max(k) END
      |    AS max_key
      |FROM diff GROUP BY class ORDER BY class""".stripMargin

  /** Small-file compaction planner — the lake-maintenance pass that
    * turns a fragmented partition into target-sized rewrite groups.
    * The file inventory is modeled deterministically from lineitem
    * (one "file" per (ship-month, returnflag+linestatus) at 64 B/row
    * — the stand-in for a real `listFiles` catalog scan); within each
    * month-partition, files are ordered largest-first and greedily
    * packed by running-byte-sum into 32 KiB groups: group =
    * (cumulative_bytes − 1) div target, the next-fit plan a
    * compaction job hands to its rewrite tasks.
    *
    * Scale shape: the inventory aggregate collapses to one row per
    * file BEFORE the window (map-side combine), and the packing
    * window partitions by month — at 100 TB each partition holds its
    * own file list (thousands of rows, not data rows), so the sort is
    * tiny and fully parallel across partitions. No data movement —
    * this plans the rewrite; it does not perform it.
    */
  private def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val target = 32768L
    val files = Tables(s, dir, "lineitem")
      .groupBy(
        expr("year(l_shipdate) * 12 + month(l_shipdate)").as("pmonth"),
        concat(col("l_returnflag"), col("l_linestatus")).as("fk"))
      .agg((count(lit(1)) * 64L).as("bytes"))
    val w = Window.partitionBy(col("pmonth"))
      .orderBy(col("bytes").desc, col("fk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("cum", sum(col("bytes")).over(w))
      .withColumn("grp", expr(s"(cum - 1) div $target"))
      .groupBy(col("pmonth"), col("grp"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("group_bytes"),
        max(col("bytes")).as("largest_file"))
      .orderBy(col("pmonth"), col("grp"))
  }

  private val compactionPlanSql =
    """WITH files AS (
      |  SELECT year(l_shipdate) * 12 + month(l_shipdate) AS pmonth,
      |    l_returnflag || l_linestatus AS fk,
      |    count(*) * 64 AS bytes
      |  FROM lineitem GROUP BY pmonth, fk),
      |packed AS (
      |  SELECT pmonth, bytes,
      |    (CAST(sum(bytes) OVER (PARTITION BY pmonth
      |       ORDER BY bytes DESC, fk
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |       - 1) // 32768 AS grp
      |  FROM files)
      |SELECT pmonth, grp, count(*) AS n_files,
      |  CAST(sum(bytes) AS BIGINT) AS group_bytes,
      |  max(bytes) AS largest_file
      |FROM packed GROUP BY pmonth, grp
      |ORDER BY pmonth, grp""".stripMargin

  /** Partition-key skew report — the sizing table read BEFORE choosing
    * a migration/lake partition column: for each candidate key over
    * the events table (event_type, a 10-way user shard, calendar day),
    * the partition count, the largest partition, and the max/mean skew
    * factor. A candidate with skew ≫ 1 hands one writer task most of
    * the table; this report is why `mig_partitioned_lake` partitions
    * by the key it does.
    *
    * Scale shape: three map-side-combined aggregates (each collapses
    * to its key cardinality before the shuffle) unioned into a
    * candidates-sized frame. Skew = max·n_parts/total is exact integer
    * arithmetic until one deterministic double division.
    */
  private def partitionSkew(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    def profile(name: String, key: Column): DataFrame =
      ev.groupBy(key.as("k")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_partitions"), sum(col("n")).as("total"),
          max(col("n")).as("max_rows"))
        .select(lit(name).as("candidate"), col("n_partitions"),
          col("max_rows"),
          ((col("max_rows") * col("n_partitions")).cast("double") /
            col("total")).as("skew"))
    profile("event_type", col("event_type"))
      .unionAll(profile("user_shard_10", expr("user_id % 10")))
      .unionAll(profile("day", expr("unix_micros(ts) div 86400000000")))
      .orderBy(col("candidate"))
  }

  private val partitionSkewSql = {
    def one(name: String, key: String) =
      s"""SELECT '$name' AS candidate, count(*) AS n_partitions,
         |  max(n) AS max_rows,
         |  CAST(max(n) * count(*) AS DOUBLE)
         |    / CAST(sum(n) AS BIGINT) AS skew
         |FROM (SELECT $key AS k, count(*) AS n
         |      FROM events GROUP BY k)""".stripMargin
    s"""${one("event_type", "event_type")}
       |UNION ALL
       |${one("user_shard_10", "user_id % 10")}
       |UNION ALL
       |${one("day", "epoch_us(ts) // 86400000000")}
       |ORDER BY candidate""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("mig_partition_skew", partitionSkew, Some(partitionSkewSql)),
    QueryDef("mig_compaction_plan", compactionPlan, Some(compactionPlanSql)),
    QueryDef("mig_data_diff", dataDiff, Some(dataDiffSql)),
    QueryDef("mig_profile", profile, Some(profileSql)),
    QueryDef("mig_schema_drift", schemaDrift, Some(schemaDriftSql)),
    QueryDef("mig_scd2", scd2, Some(scd2Sql)),
    QueryDef("mig_scd2_lookup", scd2Lookup, Some(scd2LookupSql)),
    QueryDef("mig_constraint_check", constraintCheck, Some(constraintCheckSql)),
    QueryDef("mig_zorder", zorder, Some(zorderSql)),
    QueryDef("mig_cdc_merge", cdcMerge, Some(cdcMergeSql)),
    QueryDef("mig_bucketed_join", bucketedJoin, Some(bucketedJoinSql)),
    QueryDef("mig_format_roundtrip", formatRoundtrip,
      Some(formatRoundtripSql)),
    QueryDef("mig_schema_evolution", schemaEvolution,
      Some(schemaEvolutionSql)),
    QueryDef("mig_partitioned_lake", partitionedLake,
      Some(partitionedLakeSql)),
    QueryDef("mig_pipeline", pipeline, Some(pipelineSql)),
    QueryDef("mig_pipeline_jdbc", pipelineJdbc, Some(pipelineJdbcSql)),
    QueryDef("mig_pipeline_mysqlmode", pipelineMySqlMode, Some(pipelineJdbcSql)),
    QueryDef("mig_pipeline_mssqlmode", pipelineMssqlMode,
      Some(pipelineMssqlSql)),
    QueryDef("mig_pipeline_fullwire", pipelineFullWire,
      Some(pipelineFullWireSql)),
    QueryDef("mig_mssql_quirks", mssqlQuirks, Some(mssqlQuirksSql)),
    QueryDef("mig_mssql_quirks_mysql", mssqlQuirksMysql,
      Some(mssqlQuirksSql)),
    QueryDef("mig_incremental_rowversion", incrementalRowversion,
      Some(incrementalRowversionSql)),
    QueryDef("mig_incremental_watermark", incrementalWatermark,
      Some(incrementalWatermarkSql)),
    QueryDef("mig_literal_render", literalRender, Some(literalRenderSql)),
    QueryDef("mig_typed_cast", typedCast, Some(typedCastSql)),
    QueryDef("mig_table_inventory", tableInventory, Some(tableInventorySql)),
    QueryDef("mig_batch_plan", batchPlan, Some(batchPlanSql)))
}
