package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one process.
  *
  * Set-up (session, warm-up) runs first; then whole passes run
  * until `--seconds` have gone by, at least `MinPasses` of them, unless
  * `PassBudgetS` has gone by since the JVM started (so that a run under
  * heavy steal still ends in time, with fewer passes). Every
  * pass prints its wall time, process CPU, GC and JIT compiler time and
  * whole-machine steal.
  * With `--trace 1`, passes alternate untraced and traced, starting
  * untraced (at least `MinPasses` untraced and one fewer traced), so the
  * same run gives the per-layer figures (from traced passes), the tracing
  * overhead (traced minus untraced median wall) and, after the passes, the
  * layer probes. Every pass keeps its output directory, so `run.py` can
  * check each one; the result goes to `<work>/result.json`.
  *
  *   perfbench.Main --workload W --fixture DIR --work DIR
  *                  --cores N --seconds S --trace 0|1
  */
object Main {
  val MinPasses = 3
  val PassBudgetS = 100

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val workload = Workload(opt("workload"))

    val spark = Setup.phase("session")(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftRuntime.silenceKnownBenignWarnings()
    val counters = new SparkCounters
    counters.register(spark)
    val ctx = Ctx(spark, cores, opt("fixture"), work)

    // the caller writes the inputs while this JVM starts up
    val ready = work.resolve("inputs.ready")
    while (!Files.exists(ready)) Thread.sleep(10)
    workload.setup(ctx)
    val setupEndMs = System.currentTimeMillis()

    val passes = Seq.newBuilder[(Boolean, Sample, Sample, PassResult, Map[String, Double])]
    val start = System.nanoTime()
    var k = 0
    val dirs = Seq.newBuilder[Path]
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // a traced run needs one untraced and one traced pass
    def inBudget = k < (if (trace) 2 else 1) ||
      System.currentTimeMillis() - jvmStartMs < PassBudgetS * 1000L
    while (inBudget && (k < MinPasses || (trace && k < 2 * MinPasses - 1) ||
        System.nanoTime() - start < seconds * 1e9)) {
      k += 1
      val traced = trace && k % 2 == 0
      val dir = work.resolve(s"pass$k")
      dirs += dir
      workload.prepare(ctx, dir)
      val run = s"pass$k"
      Trace.beginPass(run)
      counters.reset()
      Trace.enabled = traced
      counters.enabled = traced
      val s0 = Sample.now()
      val r = workload.run(ctx, dir, traced)
      val s1 = Sample.now()
      Trace.endPass(s0.wallNs)
      Trace.enabled = false
      val layers = if (traced) {
        counters.settle()
        layerValues(run, s0, s1, r, counters, spark, cores)
      } else Map.empty[String, Double]
      counters.enabled = false
      passes += ((traced, s0, s1, r, layers))
      println(f"pass $k%d traced=$traced wall_s=${(s1.wallNs - s0.wallNs) / 1e9}%.3f " +
        f"cpu_s=${(s1.cpuNs - s0.cpuNs) / 1e9}%.3f gc_s=${(s1.gcMs - s0.gcMs) / 1e3}%.3f " +
        f"jit_s=${(s1.jitMs - s0.jitMs) / 1e3}%.3f " +
        f"steal_s=${(s1.stealMs - s0.stealMs) / 1e3}%.2f ops=${r.ops} failed=${r.failed} rows=${r.rows}")
      if (r.opTimes.nonEmpty)
        println(s"pass $k queries: " + r.opTimes.map { case (n, c0, a) => f"$n%s=${c0 + a}%.2f" }.mkString(" "))
    }

    val probes = if (trace) workload.probe(ctx, work.resolve("probe")) else Nil
    val all = passes.result()
    val passJson = all.map { case (traced, s0, s1, r, layers) =>
      Json.obj(Seq(
        "traced" -> traced.toString,
        "wall_s" -> Json.num((s1.wallNs - s0.wallNs) / 1e9),
        "cpu_s" -> Json.num((s1.cpuNs - s0.cpuNs) / 1e9),
        "gc_s" -> Json.num((s1.gcMs - s0.gcMs) / 1e3),
        "steal_s" -> Json.num((s1.stealMs - s0.stealMs) / 1e3),
        "ops" -> r.ops.toString, "failed" -> r.failed.toString,
        "rows" -> r.rows.toString,
        "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (n, v) => n -> Json.num(v) })))
    }
    if (trace) Trace.writeJsonl(work.resolve("spans.jsonl"))
    val result = Json.obj(Seq(
      "setup_end_ms" -> setupEndMs.toString,
      "cores" -> cores.toString,
      "passes" -> passJson.mkString("[", ",", "]"),
      "probes" -> Json.obj(probes.map { case (n, v) => n -> Json.num(v) }),
      "manifest" -> Json.obj(workload.manifest(ctx, dirs.result()))))
    Files.write(work.resolve("result.json"), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Per-layer figures of one traced pass. */
  private def layerValues(run: String, s0: Sample, s1: Sample, r: PassResult,
      c: SparkCounters, spark: SparkSession, cores: Int): Map[String, Double] = {
    val wall = (s1.wallNs - s0.wallNs) / 1e9
    val batches = Trace.counter("engine.batches")
    val bytes = Trace.counter("engine.batch_bytes")
    val taskS = c.taskNs.sum / 1e9
    val engine = Map(
      "engine.introspect_s" -> Trace.total(run, "engine.introspect"),
      "engine.ddl_s" -> Trace.total(run, "engine.ddl"),
      "engine.batch_write_s" -> Trace.total(run, "engine.batch_write"),
      "engine.batches" -> batches,
      "engine.batch_mb" -> bytes / 1e6,
      "engine.packet_fill" ->
        (if (batches > 0) bytes / batches / graft.engine.MigrationOptions().maxPacketBytes else 0.0))
    val runtime = Map(
      "spark.jobs" -> c.jobsStarted.sum.toDouble,
      "spark.stages" -> c.stages.sum.toDouble,
      "spark.tasks" -> c.tasks.sum.toDouble,
      "spark.task_s" -> taskS,
      "spark.core_busy" -> taskS / (wall * cores),
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes.sum / 1e6,
      "spark.spill_mb" -> c.spillBytes.sum / 1e6,
      "spark.storage_mb" -> c.storageMb(spark),
      "jvm.gc_s" -> (s1.gcMs - s0.gcMs) / 1e3,
      "jvm.heap_after_gc_mb" -> Sample.heapAfterGcMb(),
      "box.steal_s" -> (s1.stealMs - s0.stealMs) / 1e3)
    val queries = if (r.opTimes.isEmpty) Map.empty[String, Double] else {
      val perQuery = r.opTimes.map { case (n, c0, a) => s"queries.query_s.$n" -> (c0 + a) }
      val perFamily = r.opTimes.groupBy(t => QueryMix.family(t._1)).map {
        case (f, ts) => s"queries.family_s.$f" -> ts.map(t => t._2 + t._3).sum
      }
      Map("queries.construct_s" -> r.opTimes.map(_._2).sum,
        "queries.action_s" -> r.opTimes.map(_._3).sum,
        "queries.catalyst_s" -> c.catalystMs.sum / 1e3) ++ perQuery ++ perFamily
    }
    engine ++ runtime ++ queries
  }
}
