package graft

import java.util.Locale

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Job/stage/task profiler for the optimization rounds: runs the named
  * queries (cold + N warm reps) under a SparkListener and prints, per
  * rep, the job count, stage count, task count, summed task time and
  * wall clock — the §1 "where does the floor come from" attribution
  * the bench's per-query wall number can't give. Run manually, never
  * by the driver; the bench harness is untouched.
  *
  * Usage: `runMain graft.OptProbe <reps> <query ...>` with
  * `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` as in Bench.
  */
object OptProbe {
  private class Counter extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val jobLog = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, String)]())
    private val jobStart =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    private val stageJob =
      new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    private val jobTasks =
      new java.util.concurrent.ConcurrentHashMap[Int,
        (java.util.concurrent.atomic.AtomicLong,
          java.util.concurrent.atomic.AtomicLong)]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      j.stageIds.foreach(sid => stageJob.put(sid, Int.box(j.jobId)))
      jobTasks.put(j.jobId,
        (new java.util.concurrent.atomic.AtomicLong,
          new java.util.concurrent.atomic.AtomicLong))
      jobStart.put(j.jobId, (System.nanoTime(),
        Option(j.properties.getProperty("spark.job.description"))
          .orElse(Option(j.properties.getProperty("callSite.short")))
          .getOrElse("?")))
      ()
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val st = jobStart.remove(j.jobId)
      val tk = jobTasks.remove(j.jobId)
      if (st != null) {
        val (n, ms) =
          if (tk != null) (tk._1.get(), tk._2.get()) else (-1L, -1L)
        jobLog.add(((System.nanoTime() - st._1) / 1000000L,
          s"tasks=$n task_ms=$ms  ${st._2}")): Unit
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskInfo != null) {
        taskMs.addAndGet(t.taskInfo.duration)
        // a stage with no recorded job is charged to no job
        Option(stageJob.get(t.stageId)).flatMap(j => Option(jobTasks.get(j)))
          .foreach { tk =>
            tk._1.incrementAndGet()
            tk._2.addAndGet(t.taskInfo.duration)
          }
      }
    }
    def snap(): (Long, Long, Long, Long) =
      (jobs.get(), stages.get(), tasks.get(), taskMs.get())
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: OptProbe <reps> <query ...>")
    val reps = args(0).toInt
    val names = args.drop(1).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftRuntime.localSession(cpus)
    val counter = new Counter
    spark.sparkContext.addSparkListener(counter)
    Tables(spark, sfDir, "lineitem").count() // warmup

    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
        if names(name); rep <- 0 until reps) {
      Thread.sleep(50) // let listener events drain
      val before = counter.snap()
      counter.jobLog.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wallMs = (System.nanoTime() - t0) / 1000000L
      Thread.sleep(200) // listener events are async
      val after = counter.snap()
      println(String.format(Locale.ROOT,
        "[probe] %s rep=%d wall_ms=%d jobs=%d stages=%d tasks=%d task_ms=%d",
        name, Int.box(rep), Long.box(wallMs),
        Long.box(after._1 - before._1), Long.box(after._2 - before._2),
        Long.box(after._3 - before._3), Long.box(after._4 - before._4)))
      val log = counter.jobLog.toArray(Array.empty[(Long, String)])
      log.sortBy(-_._1).take(12).foreach { case (ms, desc) =>
        println(s"[probe]    job ${ms}ms  ${desc.take(110)}")
      }
    }
    spark.stop()
  }
}
