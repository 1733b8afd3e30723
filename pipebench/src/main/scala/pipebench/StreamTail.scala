package pipebench

import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.config.Pipeline

/** `stream_tail`: open loop. One generator thread produces order events
  * to the input topic on a fixed schedule while `Pipeline.runStream`
  * maps them into a memory table; a message's latency is the completion
  * time of the micro-batch holding its offset minus its due time.
  */
object StreamTail {

  /** Offered load, messages per second: a fixed share of the etl
    * config's bounded-run capacity on a 4-core host (see README), low
    * enough that a healthy stream keeps up, so per-batch fixed costs,
    * not bulk work, set the latency.
    */
  val Rate = 300
  /** Messages due in the first seconds warm the stream; they are
    * checked but not timed.
    */
  val WarmupSeconds = 15
  val InputTopic = "stream_in"

  def yaml(address: String, table: String): String =
    s"""input:
       |  kafka:
       |    addresses: [ "$address" ]
       |    topics: [ $InputTopic ]
       |pipeline:
       |  processors:
       |    - mapping: |
       |${Reference.OrderMapping.linesIterator.map(" " * 8 + _).mkString("\n")}
       |output:
       |  memory:
       |    name: $table
       |""".stripMargin

  /** Produces message i at `startMs + i / Rate`, on its own thread, over
    * the benchmark's single producer connection. It never slows down
    * for the stream: a late send is recorded, not skipped.
    */
  final class Generator(kafka: Kafka, partitions: Int, seed: Long,
                        total: Int) extends Thread("pipebench-generator") {
    val sent = new Array[Attribution.Sent](total)
    val json = new Array[String](total)
    @volatile var lateMaxMs = 0.0
    @volatile var failure: Throwable = null
    @volatile var startMs = 0.0
    private val rng = new SplittableRandom(seed)
    setDaemon(true)

    override def run(): Unit =
      try {
        val t0 = System.nanoTime()
        startMs = System.currentTimeMillis().toDouble
        var i = 0
        while (i < total) {
          val elapsedNs = System.nanoTime() - t0
          val due = math.min(total.toLong, elapsedNs * Rate / 1000000000L + 1).toInt
          if (due > i) {
            val nowMs = startMs + elapsedNs / 1e6
            val batch = (i until due).map { id =>
              val dueMs = startMs + id * 1000.0 / Rate
              json(id) = Gen.orderJson(rng, id.toLong, math.round(dueMs))
              (id, dueMs, json(id))
            }
            lateMaxMs = math.max(lateMaxMs, nowMs - batch.head._2)
            batch.groupBy(_._1 % partitions).foreach { case (p, msgs) =>
              val first = kafka.produce(InputTopic, p,
                msgs.map { case (id, dueMs, json) => (id.toString, json, math.round(dueMs)) })
              msgs.zipWithIndex.foreach { case ((id, dueMs, _), k) =>
                sent(id) = Attribution.Sent(p, first + k, dueMs)
              }
            }
            i = due
          } else {
            val nextNs = i.toLong * 1000000000L / Rate
            LockSupport.parkNanos(math.max(10000L, nextNs - elapsedNs))
          }
        }
      } catch { case t: Throwable => failure = t }
  }

  /** Completed micro-batches of one query, from its own listener. */
  final class Batches extends StreamingQueryListener {
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      progress.add(e.progress); ()
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

    private def offsets(json: String): Map[Int, Long] =
      if (json == null || json == "null") Map.empty
      else mapper.readTree(json).properties().asScala
        .map(e => e.getKey.toInt -> e.getValue.asLong).toMap

    def batches: Seq[Attribution.Batch] = progress.asScala.toSeq
      .filter(_.numInputRows > 0).map { p =>
        val src = p.sources.head
        Attribution.Batch(offsets(src.startOffset), offsets(src.endOffset),
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
            p.durationMs.get("triggerExecution").toDouble)
      }
  }

  def run(ctx: Ctx): Outcome = {
    val kafka = new Kafka(ctx.partitions)
    try {
      kafka.createTopic(InputTopic)
      var tables = 0
      def table(): String = { tables += 1; s"stream_out_$tables" }
      val setup = Session.setUp(ctx) { s =>
        val q = Pipeline.runStream(s, yaml(kafka.address, table()))
        q.processAllAvailable()
        q.stop()
      }
      val spark = setup.session
      val total = Rate * (WarmupSeconds + ctx.seconds)
      val gen = new Generator(kafka, ctx.partitions, ctx.seed, total)
      val listener = new Batches
      spark.streams.addListener(listener)
      val out = table()
      val y = yaml(kafka.address, out)
      val gc0 = Jvm.gcMs()
      Jvm.resetHeapPeak()
      val spans = new Spans
      val (query, startMs) = spans.span("runStream.start")(Pipeline.runStream(spark, y))
      spans.span("generate") {
        gen.start()
        gen.join()
      }
      if (gen.failure != null) throw gen.failure
      val genEndMs = System.currentTimeMillis().toDouble
      spans.span("drain") {
        query.processAllAvailable()
        org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
      }
      if (ctx.trace)
        spans.write(ctx.work.getParent.resolve("traces").resolve(s"stream_tail-${ctx.seed}.jsonl"),
          s"stream_tail-${ctx.seed}")
      query.stop()
      spark.streams.removeListener(listener)
      val gcMs = Jvm.gcMs() - gc0
      val heapPeak = Jvm.heapPeakMb()

      val rows = spark.table(out).select("value").collect().map(_.getString(0)).toSeq
      val expected = gen.json.zipWithIndex.map { case (j, id) =>
        id.toString -> Reference.canon(Reference.mapOrder(Reference.parseObject(j).get))
      }.toMap
      val batches = listener.batches
      val lat = Attribution.latencies(batches, gen.sent.toSeq)
      // a message no batch covered missed every latency limit
      val uncovered = gen.sent.indices.filter(lat(_).isNaN).map(_.toString).toSet
      val streamVerdict = Check.compare(expected, EtlBatch.delivered(rows), uncovered)
      // messages due after the warm-up are the measured ones
      val firstTimed = Rate * WarmupSeconds
      val timedIdx = (firstTimed until total).filterNot(i => lat(i).isNaN)
      val timed = timedIdx.map(lat(_))
      val windowStartMs = gen.sent(firstTimed).dueMs
      val windowS = (timedIdx.map(i => gen.sent(i).dueMs + lat(i)).max -
        windowStartMs) / 1000.0
      val (q, tailMs) = Stats.tail(timed)
      Clock.log("latency p50 per 5 s: " + timedIdx.grouped(Rate * 5)
        .map(ix => f"${Stats.median(ix.map(lat(_)))}%.0f").mkString(" ") + " ms")
      val progress = listener.progress.asScala.toSeq.filter(p => p.numInputRows > 0 &&
        java.time.Instant.parse(p.timestamp).toEpochMilli >= windowStartMs)
      def p50(key: String): Double =
        Stats.median(progress.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)))
      val streamLayers = Map(
        "stream.latency_p50_ms" -> Stats.median(timed),
        "stream.latency_tail_ms" -> tailMs,
        "stream.start_ms" -> startMs,
        "stream.batches" -> batches.count(_.completedMs >= windowStartMs).toDouble,
        "stream.batch_ms_p50" -> p50("triggerExecution"),
        "stream.planning_ms_p50" -> p50("queryPlanning"),
        "stream.latest_offset_ms_p50" -> p50("latestOffset"),
        "stream.commit_ms_p50" -> Stats.median(progress.map(p =>
          Seq("walCommit", "commitOffsets").map(k =>
            Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum)),
        "stream.rows_per_batch_p50" -> Stats.median(progress.map(_.numInputRows.toDouble)),
        "stream.backlog_end_msgs" -> gen.sent.indices.count(i =>
          !lat(i).isNaN && gen.sent(i).dueMs + lat(i) > genEndMs).toDouble,
        "gen.late_ms_max" -> gen.lateMaxMs,
        "jvm.gc_ms" -> gcMs,
        "jvm.heap_peak_mb" -> heapPeak,
        "setup.cold_s" -> setup.coldS)
      // the traced run also splits the etl config into its layers (that
      // workload's own wall times are too unsteady here to gate on); it
      // ends with the session stopped
      val (layers, allVerdict) =
        if (!ctx.trace) { Session.stop(spark); (Map.empty[String, Double], streamVerdict) }
        else {
          val rig = new EtlBatch.Rig(ctx)
          try {
            val warm = (1 to EtlBatch.WarmupRuns).map(_ => rig.runOnce(spark)._2)
            val (etl, v) = EtlBatch.traced(ctx, rig, spark)
            (etl ++ streamLayers, warm.foldLeft(streamVerdict + v)(_ + _))
          } finally rig.close()
        }
      Outcome(allVerdict, Map(
        "setup_s" -> setup.medianS,
        "msgs_per_s" -> timed.size / windowS,
        "latency_p50_ms" -> Stats.median(timed),
        "peak_rss_mb" -> Jvm.peakRssMb()), layers, Map(
        "latency_tail_ms" -> f"$tailMs%.1f",
        "latency" -> "micro-batch completion minus due time",
        "latency_tail" -> (if (q >= 1.0) s"max of ${timed.size}" else s"p${q * 100} of ${timed.size}"),
        "rate_msgs_per_s" -> Rate.toString,
        "gen_late_ms_max" -> f"${gen.lateMaxMs}%.3f",
        "setup_s_each" -> setup.each.map(s => f"$s%.3f").mkString(" "),
        "setup_cold_s" -> f"${setup.coldS}%.3f"))
    } finally kafka.close()
  }
}
