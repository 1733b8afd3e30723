package pipebench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Job, stage and task totals from a benchmark-registered listener. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, taskRunMs, taskCpuNs, schedulerDelayMs,
    shuffleWriteBytes, shuffleReadBytes, spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.incrementAndGet()
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      // the Spark UI's definition: launch-to-finish time not spent
      // deserializing, running, serializing or fetching the result
      val i = e.taskInfo
      schedulerDelayMs.addAndGet(math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        i.gettingResultTime))
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    ()
  }

  def snapshot(): Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.task_run_ms" -> taskRunMs.get.toDouble,
    "spark.task_cpu_ms" -> taskCpuNs.get / 1e6,
    "spark.scheduler_delay_ms" -> schedulerDelayMs.get.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.get.toDouble,
    "spark.shuffle_read_bytes" -> shuffleReadBytes.get.toDouble,
    "spark.spill_bytes" -> spillBytes.get.toDouble)
}

object SparkCounters {
  /** Attach counters, run `body`, wait for the listener bus to deliver
    * every event of it, detach. Returns the body's value and the totals.
    */
  def around[T](spark: SparkSession)(body: => T): (T, Map[String, Double]) = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    try {
      val v = body
      org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
      (v, c.snapshot())
    } finally spark.sparkContext.removeSparkListener(c)
  }

  /** Number of jobs `body` starts, eager work before it returns included. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Long) = {
    val (v, m) = around(spark)(body)
    (v, m("spark.jobs").toLong)
  }
}

/** In-memory spans, written out when the benchmark ends. */
final class Spans {
  import Spans.Span
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  /** Run `body` as a span under the innermost open one; returns the
    * value and the span's duration in ms.
    */
  def span[T](name: String)(body: => T): (T, Double) = {
    val id = buf.size + 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try {
      val v = body
      val t1 = System.nanoTime()
      buf += Span(id, parent, name, t0, t1)
      (v, (t1 - t0) / 1e6)
    } finally stack = stack.tail
  }

  def write(path: java.nio.file.Path, traceId: String): Unit = {
    val lines = buf.sortBy(_.startNs).map { s =>
      s"""{"trace":"$traceId","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String,
                        startNs: Long, endNs: Long)
}

/** JVM-level readings. */
object Jvm {
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Sum of the heap pools' peak usage since the last reset. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** Peak resident set size of this process (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(
        throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def loadAvg1m(): Double =
    graft.tools.RefKernel.loadAvg().split(" ")(0).toDoubleOption.getOrElse(-1.0)
}

/** Time helpers. */
object Clock {
  private val jvmStartMs =
    ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** Seconds since JVM start. */
  def sinceJvmStartS: Double = (System.currentTimeMillis() - jvmStartMs) / 1000

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(what: String): Unit =
    System.err.println(f"[pipebench +$sinceJvmStartS%.1fs] $what")

  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }
  def medianMs(reps: Int)(body: => Any): Double =
    Stats.median((1 to reps).map(_ => ms(body)._2))
}
