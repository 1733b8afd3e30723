package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd,
  StageInfo}
import org.apache.spark.sql.{Column, DataFrame, GraftListenerBus, Observation,
  SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Observability surface (SURVEY.md §2 #11/#70): the reference's
  * `metric`, `log`, `benchmark`, `crash` processors and its metrics/
  * tracer components, mapped onto Spark's native observation machinery
  * rather than per-message side effects.
  */
object Observe {

  /** `metric` (processors/metric.adoc:26): attach named aggregate
    * metrics to the flow WITHOUT changing it. Spark's `observe` computes
    * them inside the existing plan (no extra pass, no action); read the
    * values from the returned [[Observation]] after the query's action
    * completes.
    */
  def metric(df: DataFrame, name: String, exprs: Seq[Column]): (DataFrame, Observation) = {
    // observation ids must be unique WITHIN a plan (Spark rejects
    // duplicates) but the same metric NAME may be attached at several
    // points — e.g. a metric resource referenced from three workflow
    // branches (config/examples/track_benthos_downloads.yaml). The
    // disambiguating suffix is stripped when readings are reported.
    val obs = Observation(s"$name#${metricSeq.incrementAndGet()}")
    (df.observe(obs, exprs.head, exprs.tail: _*), obs)
  }

  private val metricSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Strip the per-plan disambiguating suffix from an observation id. */
  def metricName(obsId: String): String = obsId.replaceAll("#\\d+$", "")

  /** `benchmark` (processors/benchmark.adoc:26): rows + bytes + wall
    * seconds for one materialization of the frame.
    */
  def benchmark(df: DataFrame): (Long, Double) = {
    val t0 = System.nanoTime()
    val n = df.count()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  /** `crash` (processors/crash.adoc:26): abort the query when any row
    * matches — Spark-side this is `raise_error` guarded by the
    * predicate, evaluated inline (fails the task, hence the job, on
    * first match — the reference's abort semantics).
    */
  def crashOn(df: DataFrame, pred: Column, message: String): DataFrame =
    // rides a FILTER, not a projected-then-dropped column: a dead
    // projection would be pruned by the optimizer, silently disarming
    // the check; a predicate always evaluates
    df.filter(when(pred,
      raise_error(concat(lit(s"crash: $message: "),
        to_json(struct(df.columns.map(col): _*)))).cast("boolean"))
      .otherwise(lit(true)))

  /** `log` (processors/log.adoc:26): sampled row logging as a
    * pass-through — logs at most one row per `every` within each
    * partition, on the executor's stderr (a per-message driver log
    * would serialize the pipeline).
    */
  def logSample(df: DataFrame, every: Long, prefix: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.row(df.schema)
    df.mapPartitions { it =>
      var i = 0L
      it.map { r =>
        if (i % every == 0)
          // scalastyle:off println
          System.err.println(s"[$prefix] ${r.toString.take(500)}")
          // scalastyle:on println
        i += 1
        r
      }
    }
  }

  /** Tracer analog (reference tracers — jaeger/open_telemetry_collector,
    * docs/modules/components/pages/tracers/about.adoc: per-component
    * spans over message flow). Spark's unit of execution is the ACTION,
    * so a span here is one query execution: name (the action), wall
    * duration, its Catalyst phase milliseconds, and every `observe()`
    * metric that ran inside the plan — which is exactly where [[metric]]
    * attaches per-stage counters, so stage-level observability composes
    * into the trace. Spans emit to `sink` as JSON lines; production
    * points that at a collector exporter, tests read them directly.
    */
  def attachTracer(spark: SparkSession, sink: String => Unit): QueryExecutionListener = {
    val l = new Execution(onAction = (name, qe, durationNs, error) => {
      val metrics = qe.observedMetrics.map { case (n, row) =>
        "\"" + metricName(n) + "\":" + row.json
      }.mkString("{", ",", "}")
      val phases = Execution.Phases.map(p => s""","${p}_ms":${
        qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)}""").mkString
      // JSON-escape via Jackson — backslashes, newlines, and control
      // characters must survive as a valid span line
      val err = error.map(e => s""","error":${
        new com.fasterxml.jackson.databind.ObjectMapper()
          .writeValueAsString(e.take(200))}""").getOrElse("")
      sink(s"""{"span":"$name","duration_ms":${durationNs / 1000000}""" +
        s""","observed":$metrics$phases$err}""")
    })
    spark.listenerManager.register(l)
    l
  }

  /** The engine's execution listener, a [[SparkListener]] and a
    * [[QueryExecutionListener]]: it counts jobs, stages, tasks, task run
    * and cpu ms, scheduler delay, shuffle and spill bytes, the busy wall
    * of the jobs and every action's Catalyst phase ms. [[around]] scopes
    * it to one block, [[attachTracer]] to the session (one span per
    * action); `onStage` sees each completed stage. Events stamped (job
    * start, stage submission, task launch, phase start) at or after
    * [[markAction]] also count toward [[actionReading]], which tells an
    * action's work from the eager work that built its frame although the
    * bus delivers both after the fact.
    */
  final class Execution(
      onAction: (String, QueryExecution, Long, Option[String]) => Unit = (_, _, _, _) => (),
      onStage: StageInfo => Unit = _ => ())
      extends SparkListener with QueryExecutionListener {
    import Execution.Tally

    @volatile private var actionFromMs = Long.MaxValue
    private val all, action = new Tally
    /** The tallies an event stamped at `ms` counts toward. */
    private def at(ms: Long): Seq[Tally] =
      if (ms < actionFromMs) Seq(all) else Seq(all, action)

    // the union of job intervals, kept online: the bus delivers
    // SparkListener events on one thread, in order
    private var running = 0
    private var busySinceMs = 0L

    /** Events stamped at or after `ms` (epoch) count as the action's. */
    def markAction(ms: Long = System.currentTimeMillis()): Unit = actionFromMs = ms

    /** Everything counted since the listener was attached. */
    def reading: Execution.Reading = all.reading

    /** What was counted at or after [[markAction]]. */
    def actionReading: Execution.Reading = action.reading

    /** Attach, run `body`, wait until the bus has delivered every event
      * of it, detach. Read [[reading]] afterwards.
      */
    def around[T](spark: SparkSession)(body: => T): T = {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(this)
      try {
        val v = body
        GraftListenerBus.drain(spark.sparkContext)
        v
      } finally {
        spark.listenerManager.unregister(this)
        spark.sparkContext.removeSparkListener(this)
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      at(e.time).foreach(_.jobs.incrementAndGet())
      if (running == 0) busySinceMs = e.time
      running += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (running > 0) {
      running -= 1
      if (running == 0) {
        all.busyMs.addAndGet(e.time - busySinceMs)
        action.busyMs.addAndGet(math.max(0L, e.time - math.max(busySinceMs, actionFromMs)))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      at(i.submissionTime.orElse(i.completionTime).getOrElse(0L))
        .foreach(_.stages.incrementAndGet())
      onStage(i)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val i = e.taskInfo
        at(i.launchTime).foreach { t =>
          t.tasks.incrementAndGet()
          t.taskRunMs.addAndGet(m.executorRunTime)
          t.taskCpuNs.addAndGet(m.executorCpuTime)
          // the Spark UI's definition: launch-to-finish time not spent
          // deserializing, running, serializing or fetching the result
          t.schedulerDelayMs.addAndGet(math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime))
          t.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          t.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          t.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }

    private def query(name: String, qe: QueryExecution, durationNs: Long,
                      error: Option[String]): Unit = {
      qe.tracker.phases.foreach { case (p, s) =>
        at(s.startTimeMs).foreach(_.phaseMs.get(p).foreach(_.addAndGet(s.durationMs)))
      }
      onAction(name, qe, durationNs, error)
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      query(funcName, qe, durationNs, None)

    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      query(funcName, qe, 0L, Some(String.valueOf(error.getMessage)))
  }

  object Execution {
    /** The [[org.apache.spark.sql.catalyst.QueryPlanningTracker]] phases. */
    val Phases: Seq[String] = Seq("analysis", "optimization", "planning")

    final case class Reading(jobs: Long, stages: Long, tasks: Long,
                             taskRunMs: Long, taskCpuMs: Double,
                             schedulerDelayMs: Long, shuffleReadBytes: Long,
                             shuffleWriteBytes: Long, spillBytes: Long,
                             busyMs: Long, phaseMs: Map[String, Long]) {
      def phasesMs: Long = phaseMs.values.sum
      def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes
    }

    private[Observe] final class Tally {
      val jobs, stages, tasks, taskRunMs, taskCpuNs, schedulerDelayMs,
        shuffleReadBytes, shuffleWriteBytes, spillBytes, busyMs = new AtomicLong
      val phaseMs: Map[String, AtomicLong] = Phases.map(_ -> new AtomicLong).toMap

      def reading: Reading = Reading(jobs.get, stages.get, tasks.get,
        taskRunMs.get, taskCpuNs.get / 1e6, schedulerDelayMs.get,
        shuffleReadBytes.get, shuffleWriteBytes.get, spillBytes.get,
        busyMs.get, phaseMs.map { case (p, v) => p -> v.get })
    }
  }

  /** Streaming metrics: forward every progress event (rows/sec, batch
    * durations, watermark) to `sink` — the Spark analog of the
    * reference's metrics components (docs/modules/components/pages/
    * metrics/about.adoc:26).
    */
  def attachStreamingMetrics(spark: SparkSession,
                             sink: String => Unit): StreamingQueryListener = {
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        sink(s"""{"event":"started","id":"${e.id}","name":"${Option(e.name).getOrElse("")}"}""")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        sink(e.progress.json)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        sink(s"""{"event":"terminated","id":"${e.id}"}""")
    }
    spark.streams.addListener(l)
    l
  }
}
