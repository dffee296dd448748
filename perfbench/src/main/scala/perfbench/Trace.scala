package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 for a pass), `run` names the pass it belongs to.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out whole; nothing is recorded while `enabled` is false, so an
  * untraced pass pays one volatile read per boundary.
  *
  * Executor-side callers (batch writes run inside Spark tasks, which in
  * local mode share this JVM) cannot see the calling thread's span stack,
  * so they parent to the current pass.
  */
object Trace {
  @volatile var enabled = false
  @volatile private var runId = ""
  @volatile private var passSpan = 0L
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()

  def beginPass(run: String): Unit = {
    runId = run
    passSpan = ids.incrementAndGet()
    counters.clear()
  }

  def endPass(startNs: Long): Unit =
    if (enabled) spans.add(Span(passSpan, 0L, "pass", startNs, System.nanoTime(), runId))

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(passSpan)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime(), runId))
        stack.set(stack.get().tail)
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum).getOrElse(0.0)

  /** Summed duration of this pass's spans named `name` (or with it as prefix). */
  def total(run: String, name: String): Double =
    spans.asScala.iterator
      .filter(s => s.run == run && (s.name == name || s.name.startsWith(name + ".")))
      .map(_.seconds).sum

  def writeJsonl(path: Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run":${Json.str(s.run)}}"""
    }
    Files.write(path, lines.asJava, StandardCharsets.UTF_8)
  }
}

/** Whole-machine and process counters sampled at pass boundaries, so that
  * every pass can say how much CPU it got, how long it spent in GC and JIT
  * compilation and how much time the hypervisor stole from the machine
  * meanwhile.
  */
final case class Sample(wallNs: Long, cpuNs: Long, gcMs: Long, stealMs: Long, jitMs: Long)

object Sample {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  // /proc/stat counts in USER_HZ ticks; Linux fixes USER_HZ at 100
  private val msPerTick = 10L

  def stealMs(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        l.trim.split("\\s+")(8).toLong * msPerTick
      }.getOrElse(0L)
      finally src.close()
    } catch { case _: Exception => 0L }

  /** JIT compiler time so far, summed over compiler threads. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use right after the most recent collection, over all pools. */
  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6

  def now(): Sample =
    Sample(System.nanoTime(), os.getProcessCpuTime, gcMs(), stealMs(), jitMs())
}

/** Spark runtime counters from the listener bus: jobs, stages, tasks,
  * summed task time, shuffle writes and spills, and the Catalyst phase
  * time of every query execution. Registered once; `reset` zeroes it at
  * the start of each pass and `settle` waits for the bus to deliver the
  * pass's last events before they are read.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobsStarted = new LongAdder
  val jobsEnded = new LongAdder
  val stages = new LongAdder
  val tasks = new LongAdder
  val taskNs = new LongAdder
  val shuffleWriteBytes = new LongAdder
  val spillBytes = new LongAdder
  val catalystMs = new LongAdder
  @volatile var enabled = false

  def reset(): Unit = Seq(jobsStarted, jobsEnded, stages, tasks, taskNs,
    shuffleWriteBytes, spillBytes, catalystMs).foreach(_.reset())

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (enabled) jobsStarted.increment()
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (enabled) jobsEnded.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (enabled) stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (enabled && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.increment()
      taskNs.add(m.executorRunTime * 1000000L)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) catalystMs.add(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def settle(): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    while (jobsEnded.sum < jobsStarted.sum && System.nanoTime() < deadline)
      Thread.sleep(5)
    Thread.sleep(50) // query-execution callbacks follow their last job
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Bytes held by persisted RDD blocks (cache and local checkpoints). */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}

/** Minimal JSON rendering for the result and summary files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
