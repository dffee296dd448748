package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Plan-capture tool for the optimization rounds: writes
  * `.explain("formatted")` output for the named queries (or all of
  * them) to `<outDir>/<query>_<suffix>.txt`. Run manually, never by
  * the driver — it exists so plan claims in OPTIMIZATION_r*.md can be
  * checked against committed files without running Spark.
  *
  * Caveat recorded once: queries that materialize internally (staged
  * streaming runs, the incremental-components demo, anything ending in
  * `localCheckpoint()`) execute their pipeline at CONSTRUCTION time and
  * return a frame whose plan is just the checkpoint scan — for those
  * the interesting structure lives in the per-stage jobs, and the
  * explain file only proves the final shape. The md notes which
  * queries are of that kind.
  *
  * Usage: `runMain graft.ExplainDump <outDir> <suffix> [query ...]`
  * with `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` as in Bench.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ExplainDump <outDir> <suffix> [query ...]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val only = args.drop(2).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftRuntime.localSession(cpus, logLevel = "ERROR")
    Files.createDirectories(outDir)
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
        if only.isEmpty || only(name)) {
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        println(s"[explain] $name ok")
      } catch {
        case e: Throwable =>
          println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
