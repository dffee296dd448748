package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.config._
import graft.engine._
import graft.mapping.{TypeRegistry, UserOverrides}

/** Application entry point for the migration pipeline — the engine's
  * analogue of the reference CLI (src/args.rs, main.rs). Three modes,
  * resolved exactly like the reference (CLI connection args XOR
  * config.toml, never mixed — main.rs:141-176), plus a fixture mode
  * for environments without live databases:
  *
  *   - CLI mode: --source mssql://u:p@h:1433/db --target
  *     mysql://u:p@h:3306/db --tables A,B (config.toml not read);
  *   - config mode: reads config.toml (--config overrides the path);
  *   - fixture mode: --source-dir DIR --target-dir DIR (parquet in,
  *     SQL script out), with --tables as the whitelist.
  *
  * Flags (args.rs parity): -v/--verbose -q/--quiet -d/--drop
  * -c/--constraints -f/--format -p/--parallelism N --max-packet-bytes N
  * [--truncate] [--mappings FILE].
  */
object MigrateMain {

  def main(args: Array[String]): Unit = {
    val parsed = CliArgs.parse(args.toSeq) match {
      case Left(err) => System.err.println(s"ERROR: $err"); sys.exit(2)
      case Right(a) => a
    }
    GraftLog.init(parsed.verbose, parsed.quiet)
    val log = org.apache.logging.log4j.LogManager.getLogger("graft")

    val mode = ConfigResolver.resolve(parsed, f => {
      val p = Paths.get(f)
      if (Files.exists(p)) Some(Files.readString(p)) else None
    }) match {
      case Left(err) => System.err.println(s"ERROR: $err"); sys.exit(2)
      case Right(m) => m
    }

    // mappings.toml column/type overrides (main.rs:123-137: missing
    // file means built-in defaults; a broken file is a hard error)
    val overrides = parsed.mappingsFile match {
      case None => UserOverrides.empty
      case Some(f) => UserOverrides.fromToml(
        Files.readString(Paths.get(f))) match {
        case Left(err) => System.err.println(s"ERROR: mappings file: $err"); sys.exit(2)
        case Right(o) => o
      }
    }

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-migrate")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

    val t0 = System.nanoTime()
    try {
      val (results, migrator) = execute(spark, parsed, mode, overrides, log)
      val secs = (System.nanoTime() - t0) / 1e9
      val total = results.map(_.rowsMigrated).sum
      results.sortBy(_.tableName).foreach { r =>
        // the reference's per-table line: rows, seconds, rows/s
        println(f"  ${r.tableName}%-14s created=${r.created}%-5s " +
          f"${r.rowsMigrated}%d rows in ${r.seconds}%.2f s " +
          f"(${r.rowsMigrated / math.max(r.seconds, 1e-9)}%.0f rows/s)")
      }
      migrator.warnings.foreach(w => println(s"  WARN: $w"))
      println(f"Migrated ${results.size} tables, $total rows in $secs%.2f s " +
        f"(${total / secs}%.0f rows/s)")
    } catch {
      case e: MigrationException =>
        // error-chain report (reference main.rs:37-42 / helpers.rs:3-18)
        System.err.println(s"ERROR: ${e.getMessage}")
        var cause = e.getCause
        while (cause != null) {
          System.err.println(s"       └> ${cause.getMessage}")
          cause = cause.getCause
        }
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }

  /** The resolved run, separated from `main`'s session lifecycle and
    * exit codes so a live spec can drive the full CLI wiring against
    * the dialect shims inside a shared test session.
    *
    * The two system properties `graft.source.jdbcUrl` /
    * `graft.target.jdbcUrl` override the endpoint URLs rendered from
    * the config (logged loudly when used) — the seam for pointing the
    * CLI at any JDBC-compatible engine the standard sqlserver/mysql
    * URL shapes don't reach, the in-JVM strict shims included.
    */
  private[graft] def execute(
      spark: SparkSession,
      parsed: CliArgs,
      mode: ResolvedMode,
      overrides: UserOverrides,
      log: org.apache.logging.log4j.Logger)
      : (Seq[MigrationResult], Migrator) = {
    val (source, writer, packetBytes, whitelist) = mode match {
      case FixtureMode(srcDir, dstDir, tables) =>
        (new ParquetFixtureSource(srcDir, spark): SchemaSource,
          new ScriptTargetWriter(dstDir): TargetWriter,
          parsed.maxPacketBytes.getOrElse(AppConfig.DefaultMaxPacketBytes),
          tables)
      case JdbcMode(cfg) =>
        cfg.warnings.foreach(w => log.warn(w))
        log.info("Using resolved database endpoints")
        val srcUrl = sys.props.get("graft.source.jdbcUrl").map { u =>
          log.warn(s"source endpoint overridden by graft.source.jdbcUrl"); u
        }.getOrElse(ConfigResolver.mssqlJdbcUrl(cfg.mssqlDatabase))
        val dstUrl = sys.props.get("graft.target.jdbcUrl").map { u =>
          log.warn(s"target endpoint overridden by graft.target.jdbcUrl"); u
        }.getOrElse(ConfigResolver.mysqlJdbcUrl(cfg.mysqlDatabase))
        (new JdbcSchemaSource(srcUrl,
            user = Option(cfg.mssqlDatabase.username).filter(_.nonEmpty),
            password = Option(cfg.mssqlDatabase.password).filter(_.nonEmpty))
            : SchemaSource,
          new JdbcTargetWriter(dstUrl,
            user = Option(cfg.mysqlDatabase.username).filter(_.nonEmpty),
            password = Option(cfg.mysqlDatabase.password).filter(_.nonEmpty))
            : TargetWriter,
          cfg.settings.maxPacketBytes,
          cfg.settings.whitelistedTables)
    }
    val migrator = new Migrator(
      spark, source, writer,
      TypeRegistry.withDefaults().withUserOverrides(overrides),
      MigrationOptions(
        maxPacketBytes = packetBytes,
        maxConcurrentTasks = parsed.parallelism,
        formatSnakeCase = parsed.format,
        createConstraints = parsed.constraints,
        dropTables = parsed.drop,
        truncateTables = parsed.truncate,
        whitelistedTables = whitelist))
    (migrator.run(), migrator)
  }
}
