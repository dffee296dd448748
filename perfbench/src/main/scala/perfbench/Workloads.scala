package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.{QueryDef, SessionCache, SparkEntry, Tables}
import graft.engine._
import graft.mapping.TypeRegistry

/** What the harness hands every workload. */
final case class Ctx(spark: SparkSession, cores: Int, fixture: String, work: Path)

/** One timed pass: operations attempted and failed, rows written to the
  * target, and per-operation (construct, action) seconds where the
  * workload has them.
  */
final case class PassResult(ops: Int, failed: Int, rows: Long,
    opTimes: Seq[(String, Double, Double)] = Nil)

trait Workload {
  /** Warm-up; timed as part of set-up. */
  def setup(ctx: Ctx): Unit

  /** Untimed per-pass preparation (fresh target or fixture copy). */
  def prepare(ctx: Ctx, dir: Path): Unit = ()

  def run(ctx: Ctx, dir: Path, traced: Boolean): PassResult

  /** Traced-run layer probes, made after the timed passes. */
  def probe(ctx: Ctx, dir: Path): Seq[(String, Double)] = Nil

  /** Where the checker finds the passes' output (`dirs`, in pass order),
    * as JSON fields.
    */
  def manifest(ctx: Ctx, dirs: Seq[Path]): Seq[(String, String)]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "migrate" => new Migrate
    case "queries" => new QueryMix
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
}

/** All ten fixture tables from [[ParquetFixtureSource]] through
  * [[Migrator]] into a fresh script target per pass: snake_case names,
  * constraints on, the default 1 MiB packet.
  */
final class Migrate extends Workload {
  private val tables = Tables.names

  private def options(ctx: Ctx, only: Seq[String]) = MigrationOptions(
    maxConcurrentTasks = ctx.cores, formatSnakeCase = true,
    createConstraints = true, whitelistedTables = only)

  private def migrate(ctx: Ctx, fixture: String, target: Path, traced: Boolean,
      only: Seq[String] = Nil): Seq[MigrationResult] = {
    val source = new ParquetFixtureSource(fixture, ctx.spark)
    val writer = new ScriptTargetWriter(target.toString)
    if (traced)
      new Migrator(ctx.spark, new TimedSource(source), new TimedWriter(writer),
        TypeRegistry.withDefaults(), options(ctx, only)).run()
    else
      new Migrator(ctx.spark, source, writer, TypeRegistry.withDefaults(),
        options(ctx, only)).run()
  }

  /** Two untimed passes: the first pays class loading, code generation
    * and JIT compilation; the timed passes that follow run warm.
    */
  override def setup(ctx: Ctx): Unit =
    (1 to 2).foreach { i =>
      val target = ctx.work.resolve(s"warm$i")
      Setup.phase(s"warmup$i")(migrate(ctx, ctx.fixture, target, traced = false))
      Workload.deleteTree(target)
    }

  override def run(ctx: Ctx, dir: Path, traced: Boolean): PassResult =
    try {
      val results = migrate(ctx, ctx.fixture, dir.resolve("target"), traced)
      PassResult(tables.size, tables.size - results.size,
        results.map(_.rowsMigrated).sum)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] migration pass failed: $e")
        PassResult(tables.size, tables.size, 0L)
    }

  /** Per-table layers: the source scan into a no-op sink, the literal
    * renderer alone over every row, and each table migrated on its own.
    */
  override def probe(ctx: Ctx, dir: Path): Seq[(String, Double)] = {
    val source = new ParquetFixtureSource(ctx.fixture, ctx.spark)
    val scans = tables.map { t =>
      val t0 = System.nanoTime()
      source.read(ctx.spark, t).write.format("noop").mode("overwrite").save()
      s"engine.scan_s.$t" -> (System.nanoTime() - t0) / 1e9
    }
    RenderClock.nanos.reset()
    tables.foreach { t =>
      source.read(ctx.spark, t).foreachPartition { (it: Iterator[Row]) =>
        val t0 = System.nanoTime()
        it.foreach(r => SqlLiteral.valueTuple(r.toSeq))
        RenderClock.nanos.add(System.nanoTime() - t0)
      }
    }
    val render = "engine.render_s" -> RenderClock.nanos.sum / 1e9
    val perTable = tables.map { t =>
      val t0 = System.nanoTime()
      migrate(ctx, ctx.fixture, dir.resolve(t), traced = false, only = Seq(t))
      s"engine.table_s.$t" -> (System.nanoTime() - t0) / 1e9
    }
    scans ++ Seq(render) ++ perTable
  }

  override def manifest(ctx: Ctx, dirs: Seq[Path]): Seq[(String, String)] = Seq(
    "target_dirs" -> dirs.map(d => Json.str(d.resolve("target").toString)).mkString("[", ",", "]"),
    "source_dir" -> Json.str(ctx.fixture),
    "max_packet" -> MigrationOptions().maxPacketBytes.toString,
    "tables" -> tables.map(Json.str).mkString("[", ",", "]"))
}

/** Set-up phases, printed with their wall time so a slow set-up explains
  * itself.
  */
object Setup {
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally println(f"setup $name%s ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }
}

/** Clock for the render probe: tasks run in this JVM (local mode). */
object RenderClock { val nanos = new LongAdder }

/** A fixed mix of analytics queries from [[SparkEntry.queries]]
  * ([[QueryMix.Names]]), each with an oracle. Every pass runs on its own
  * copy of the fixture after [[SessionCache.invalidate]]: the program's
  * memos are keyed by fixture path, so nothing built in one pass serves
  * the next.
  */
final class QueryMix extends Workload {
  private def copyFixture(from: String, to: Path): Unit = {
    Files.createDirectories(to)
    Tables.names.foreach { t =>
      Files.copy(Paths.get(from, s"$t.parquet"), to.resolve(s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def runAll(ctx: Ctx, dir: Path): PassResult = {
    val fx = dir.resolve("fixture").toString
    val out = dir.resolve("out")
    var failed = 0
    val times = QueryMix.Names.map { name =>
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        Trace.span(s"query.$name") {
          val df = Trace.span("query.construct")(SparkEntry.queries(name)(ctx.spark, fx))
          t1 = System.nanoTime()
          Trace.span("query.action")(df.write.parquet(out.resolve(name).toString))
        }
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] query $name failed: $e")
          failed += 1
      }
      val t2 = System.nanoTime()
      (name, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    PassResult(QueryMix.Names.size, failed, outputRows(out), times)
  }

  /** Rows written, read from the result files' parquet footers. */
  private def outputRows(out: Path): Long = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = new Configuration()
    val files = Files.walk(out)
    try files.iterator().asScala.filter(_.toString.endsWith(".parquet")).map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum
    finally files.close()
  }

  /** One untimed pass over the measured tables, on a fixture copy of its
    * own, so that class loading, code generation and JIT compilation are
    * done before timing starts, and none of its memos serves a timed pass.
    */
  override def setup(ctx: Ctx): Unit = {
    val dir = ctx.work.resolve("warm")
    prepare(ctx, dir)
    Setup.phase("warmup")(runAll(ctx, dir))
    Workload.deleteTree(dir)
  }

  override def prepare(ctx: Ctx, dir: Path): Unit = {
    copyFixture(ctx.fixture, dir.resolve("fixture"))
    SessionCache.invalidate(ctx.spark)
  }

  override def run(ctx: Ctx, dir: Path, traced: Boolean): PassResult =
    runAll(ctx, dir)

  override def manifest(ctx: Ctx, dirs: Seq[Path]): Seq[(String, String)] = {
    val oracle = QueryDef.all.filter(q => QueryMix.Names.contains(q.name))
      .map(q => q.name -> Json.str(q.oracle.get))
    Seq("fixture_dir" -> Json.str(dirs.last.resolve("fixture").toString),
      "out_dir" -> Json.str(dirs.last.resolve("out").toString),
      "oracle" -> Json.obj(oracle))
  }
}

object QueryMix {
  /** One query per family, each with a cheap oracle (perfbench/README.md
    * says how they were chosen).
    */
  val Names = Seq("q01_pricing_summary", "sqlapi_revenue_by_type", "ta_word_topk",
    "dd_exact", "sim_hnsw", "ev_funnel", "evs_user_running_counts", "cp_chunk",
    "mm_blob_meta")

  /** Family of a query name: its prefix, with q01..q37 all in `q`. */
  def family(name: String): String = {
    val p = name.takeWhile(_ != '_')
    if (p.matches("q\\d+")) "q" else p
  }
}
