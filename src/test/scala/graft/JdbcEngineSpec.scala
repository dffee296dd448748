package graft

import java.sql.DriverManager

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine._
import graft.mapping.TypeRegistry
import graft.types.{Constraint, MssqlType}

/** End-to-end migration over live JDBC endpoints: embedded Derby as
  * both source and target (the container has no MSSQL/MySQL server;
  * Derby ships with Spark). This is the production wire path the
  * reference exists for (extract/extractor.rs:25-128 →
  * insert/inserter.rs:33-200) driven through the real `Migrator`:
  * metadata probe → type mapping → CREATE TABLE → packet-bounded
  * batched INSERTs in FK-toggled transactions → constraint pass.
  */
class JdbcEngineSpec extends AnyFunSuite {

  private val srcUrl = "jdbc:derby:memory:graft_jdbc_src;create=true"
  private val dstUrl = "jdbc:derby:memory:graft_jdbc_dst;create=true"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Seed the Derby source with a mini star schema (PK + FK metadata
    * so the schema probe has real constraints to find) from the
    * sf0.001 fixture rows.
    */
  private lazy val seeded: Map[String, Long] = {
    val c = DriverManager.getConnection(srcUrl)
    val st = c.createStatement()
    // rerun-tolerant: Derby has no DROP IF EXISTS
    for (t <- Seq("SUPPLIER", "NATION"))
      try st.execute(s"DROP TABLE $t") catch { case _: java.sql.SQLException => () }
    st.execute(
      """CREATE TABLE NATION (
        |  N_NATIONKEY BIGINT NOT NULL PRIMARY KEY,
        |  N_NAME VARCHAR(25) NOT NULL,
        |  N_REGIONKEY BIGINT NOT NULL,
        |  N_COMMENT VARCHAR(200))""".stripMargin)
    st.execute(
      """CREATE TABLE SUPPLIER (
        |  S_SUPPKEY BIGINT NOT NULL PRIMARY KEY,
        |  S_NAME VARCHAR(40) NOT NULL,
        |  S_NATIONKEY BIGINT NOT NULL REFERENCES NATION (N_NATIONKEY),
        |  S_ACCTBAL DOUBLE)""".stripMargin)

    val fx = "/root/testdata/sf0.001"
    // n_comment is synthesized (not in the sf0.001 fixture) with an
    // embedded single quote so literal escaping is exercised on the wire
    val nation = Tables(spark, fx, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
        concat(col("n_name"), lit("'s comment")).as("n_comment")).collect()
    val ps = c.prepareStatement("INSERT INTO NATION VALUES (?, ?, ?, ?)")
    nation.foreach { r =>
      ps.setLong(1, r.getAs[Number](0).longValue); ps.setString(2, r.getString(1))
      ps.setLong(3, r.getAs[Number](2).longValue); ps.setString(4, r.getString(3))
      ps.addBatch()
    }
    ps.executeBatch(); ps.close()

    val supplier = Tables(spark, fx, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal")).collect()
    val ps2 = c.prepareStatement("INSERT INTO SUPPLIER VALUES (?, ?, ?, ?)")
    supplier.foreach { r =>
      ps2.setLong(1, r.getAs[Number](0).longValue); ps2.setString(2, r.getString(1))
      ps2.setLong(3, r.getAs[Number](2).longValue)
      ps2.setDouble(4, r.getAs[Number](3).doubleValue)
      ps2.addBatch()
    }
    ps2.executeBatch(); ps2.close()
    st.close(); c.close()
    Map("NATION" -> nation.length.toLong, "SUPPLIER" -> supplier.length.toLong)
  }

  test("schema probe finds tables, types and key constraints") {
    seeded
    val source = new JdbcSchemaSource(srcUrl)
    assert(source.fetchTables() == Seq("NATION", "SUPPLIER"))

    val nation = source.getTableSchema("NATION")
    assert(nation.map(_.columnName) ==
      Seq("N_NATIONKEY", "N_NAME", "N_REGIONKEY", "N_COMMENT"))
    assert(nation.head.dataType == MssqlType.BigInt)
    assert(nation.head.constraints.contains(Constraint.PrimaryKey))
    assert(!nation.head.isNullable && nation.last.isNullable)
    assert(nation(1).dataType == MssqlType.Varchar &&
      nation(1).characterMaximumLength.contains(25))

    val supplier = source.getTableSchema("SUPPLIER")
    assert(supplier.find(_.columnName == "S_NATIONKEY").get.constraints
      .contains(Constraint.ForeignKey("NATION", "N_NATIONKEY")))
    assert(supplier.find(_.columnName == "S_ACCTBAL").get.dataType ==
      MssqlType.Float)
  }

  test("schema probe reads UNIQUE/CHECK/DEFAULT live, with the " +
    "extractor's single-slot precedence") {
    val url = "jdbc:derby:memory:graft_jdbc_cons;create=true"
    val c = DriverManager.getConnection(url)
    val st = c.createStatement()
    try st.execute("DROP TABLE WIDGETS") catch { case _: java.sql.SQLException => () }
    st.execute(
      """CREATE TABLE WIDGETS (
        |  W_ID BIGINT NOT NULL PRIMARY KEY,
        |  W_SKU VARCHAR(20) NOT NULL UNIQUE,
        |  W_GRADE INTEGER CHECK (W_GRADE BETWEEN 0 AND 5),
        |  W_STATE VARCHAR(10) DEFAULT 'new',
        |  W_NOTES VARCHAR(50))""".stripMargin)
    st.close(); c.close()

    val schema = new JdbcSchemaSource(url).getTableSchema("WIDGETS")
    val byName = schema.map(s => s.columnName -> s.constraints).toMap
    assert(byName("W_ID") == Some(Constraint.PrimaryKey))
    assert(byName("W_SKU") == Some(Constraint.Unique))
    assert(byName("W_GRADE") == Some(Constraint.Check("W_GRADE BETWEEN 0 AND 5")))
    assert(byName("W_STATE") == Some(Constraint.Default("'new'")))
    assert(byName("W_NOTES").isEmpty)

    // precedence: a PK column that also carries a DEFAULT keeps only
    // the PK slot (extractor.rs:62-70 CASE order)
    val c2 = DriverManager.getConnection(url)
    val st2 = c2.createStatement()
    try st2.execute("DROP TABLE PRECED") catch { case _: java.sql.SQLException => () }
    st2.execute(
      """CREATE TABLE PRECED (
        |  P_ID BIGINT NOT NULL DEFAULT 0 PRIMARY KEY,
        |  P_ALT VARCHAR(5) DEFAULT 'x' UNIQUE)""".stripMargin)
    st2.close(); c2.close()
    val preced = new JdbcSchemaSource(url).getTableSchema("PRECED")
      .map(s => s.columnName -> s.constraints).toMap
    assert(preced("P_ID") == Some(Constraint.PrimaryKey))
    assert(preced("P_ALT") == Some(Constraint.Unique))
  }

  test("source scan is range-partitioned on the numeric primary key") {
    seeded
    val df = new JdbcSchemaSource(srcUrl, numPartitions = 4)
      .read(spark, "SUPPLIER")
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == seeded("SUPPLIER"))
  }

  test("incremental-watermark filter is PUSHED into the JDBC source") {
    seeded
    // the mig_incremental_watermark contract: the `key > bookmark`
    // predicate must ship into the source engine, so the incremental
    // pass scans O(new rows) server-side — a filter evaluated Spark-
    // side after a full scan would silently cost O(table) per run
    val scan = spark.read.jdbc(srcUrl, "NATION", new java.util.Properties)
      .filter(col("N_NATIONKEY") > 12L)
    val physical = scan.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") &&
      physical.replaceAll("\\s", "").contains("GreaterThan(N_NATIONKEY,12)"),
      s"JDBC scan did not push the watermark predicate:\n${physical.take(600)}")
    assert(scan.count() == 12) // nationkeys 13..24: pushdown changed no rows
  }

  test("full migration over Derby source and target, with constraints") {
    seeded
    val writer = new JdbcTargetWriter(dstUrl, AnsiFlavor)
    val migrator = new Migrator(spark, new JdbcSchemaSource(srcUrl), writer,
      TypeRegistry.withDefaults(),
      MigrationOptions(createConstraints = true, maxConcurrentTasks = 2))
    val results = migrator.run()

    assert(results.map(_.tableName).sorted == Seq("NATION", "SUPPLIER"))
    assert(results.forall(_.created))
    results.foreach { r =>
      assert(r.rowsMigrated == seeded(r.tableName),
        s"${r.tableName}: ${r.rowsMigrated}")
      assert(writer.rowCount(r.tableName) == seeded(r.tableName))
    }

    // values survived the literal-rendered wire format
    val props = new java.util.Properties
    val src = spark.read.jdbc(srcUrl, "SUPPLIER", props)
    val dst = spark.read.jdbc(dstUrl, "SUPPLIER", props)
    def fp(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy(col("S_SUPPKEY"))
        .select(concat_ws("|", df.columns.sorted.map(c => col(c).cast("string")): _*))
        .collect().map(_.getString(0)).toSeq
    assert(fp(dst) == fp(src))

    // the constraint pass recreated the FK on the target
    val c = DriverManager.getConnection(dstUrl)
    val rs = c.getMetaData.getImportedKeys(null, c.getSchema, "SUPPLIER")
    assert(rs.next())
    assert(rs.getString("PKTABLE_NAME") == "NATION")
    assert(rs.getString("FKCOLUMN_NAME") == "S_NATIONKEY")
    rs.close(); c.close()
  }

  test("rows guard and truncate reset against the live target") {
    seeded
    val writer = new JdbcTargetWriter(dstUrl, AnsiFlavor)
    // SUPPLIER: no other table references it, so the truncate works on
    // a target without an FK toggle (MySQL would disable checks instead)
    val opts = MigrationOptions(maxConcurrentTasks = 1,
      whitelistedTables = Seq("SUPPLIER"))
    def migrate(o: MigrationOptions) =
      new Migrator(spark, new JdbcSchemaSource(srcUrl), writer,
        TypeRegistry.withDefaults(), o).run()

    // target already populated by the previous test → K8 guard trips
    val e = intercept[MigrationException.TaskPanicked](migrate(opts))
    assert(e.getMessage.contains("already exists and has rows"))

    // --truncate resets it, and the re-migration lands the same rows
    val results = migrate(opts.copy(truncateTables = true))
    assert(results.map(_.tableName) == Seq("SUPPLIER"))
    assert(!results.head.created) // table survived the truncate
    assert(results.head.rowsMigrated == seeded("SUPPLIER"))
    assert(writer.rowCount("SUPPLIER") == seeded("SUPPLIER"))
  }

  test("a failed auto-commit restore never hides the failed statement") {
    // a target that drops the connection once a transaction fails:
    // Derby behind a Proxy whose setAutoCommit(true) throws after a
    // rollback, as a server that closed the socket would
    val prefix = "jdbc:graft-dropping:"
    val derby = DriverManager.getDriver(dstUrl)
    val dropping = new java.sql.Driver {
      def acceptsURL(url: String): Boolean = url.startsWith(prefix)
      def connect(url: String, info: java.util.Properties): java.sql.Connection =
        if (!acceptsURL(url)) null
        else {
          val c = derby.connect("jdbc:derby:" + url.stripPrefix(prefix), info)
          var rolledBack = false
          java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
            Array(classOf[java.sql.Connection]),
            (_: Any, m: java.lang.reflect.Method, args: Array[AnyRef]) => {
              if (m.getName == "setAutoCommit" && rolledBack &&
                  args(0) == java.lang.Boolean.TRUE)
                throw new java.sql.SQLNonTransientConnectionException(
                  "No current connection.")
              if (m.getName == "rollback") rolledBack = true
              try m.invoke(c, args: _*)
              catch { case e: java.lang.reflect.InvocationTargetException =>
                throw e.getCause }
            }).asInstanceOf[java.sql.Connection]
        }
      def getMajorVersion: Int = 1
      def getMinorVersion: Int = 0
      def jdbcCompliant: Boolean = false
      def getPropertyInfo(url: String, info: java.util.Properties) =
        Array.empty[java.sql.DriverPropertyInfo]
      def getParentLogger: java.util.logging.Logger =
        java.util.logging.Logger.getGlobal
    }
    DriverManager.registerDriver(dropping)
    try {
      val writer = new JdbcTargetWriter(
        prefix + "memory:graft_jdbc_dropping;create=true", AnsiFlavor)
      val bad = "CREATE TABLE BROKEN_T (A NOT_A_TYPE)"
      val e = intercept[RuntimeException](writer.createTable(bad))
      assert(e.getMessage.contains(bad), e.getMessage)
      assert(e.getSuppressed.exists(
        _.getMessage.contains("No current connection")))
    } finally DriverManager.deregisterDriver(dropping)
  }
}
