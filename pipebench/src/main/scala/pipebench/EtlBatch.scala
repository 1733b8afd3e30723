package pipebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.blobl.Blobl
import graft.config.{Pipeline, Processors}
import graft.sinks.Sinks
import graft.sources.Sources

/** The etl config: kafka input → JSON validation → `try` [mapping] →
  * `catch` [dead letter] → `switch` → kafka output. Its bounded
  * `Pipeline.run` walls were too unsteady on a 4-core host to gate on,
  * so it is not a workload of its own: `stream_tail`'s traced run warms
  * it up and splits it into layers with [[traced]].
  */
object EtlBatch {

  /** Input messages per run (~1 KB each) and their malformed share. */
  val Messages = 1000
  val MalformedFrac = 0.02
  val InputTopic = "orders"
  val WarmupRuns = 4

  private def indent(s: String, n: Int): String =
    s.linesIterator.map(" " * n + _).mkString("\n")

  /** The etl config. The `awk` JSON pass marks messages that are
    * not JSON as errored; `try` skips them, `catch` turns them into
    * dead-letter records, and `switch` routes every record.
    */
  def yaml(address: String, outTopic: String, metricsFile: Option[String]): String = {
    val metrics = metricsFile.map(f =>
      s"""metrics:
         |  prometheus:
         |    file: "$f"
         |""".stripMargin).getOrElse("")
    s"""input:
       |  kafka:
       |    addresses: [ "$address" ]
       |    topics: [ $InputTopic ]
       |pipeline:
       |  processors:
       |    - awk:
       |        codec: json
       |        program: 'BEGIN { }'
       |    - try:
       |        - mapping: |
       |${indent(Reference.OrderMapping, 12)}
       |    - catch:
       |        - mapping: |
       |            root.dead_letter = true
       |            root.order_id = meta("kafka_key").number()
       |            root.raw = content()
       |    - switch:
       |        - check: 'this.dead_letter == true'
       |          processors:
       |            - mutation: 'root.route = "dlq"'
       |        - processors:
       |            - mutation: 'root.route = if this.total_cents >= ${Reference.PriorityCents} { "priority" } else { "standard" }'
       |output:
       |  kafka:
       |    addresses: [ "$address" ]
       |    topic: $outTopic
       |    key: '$${! this.order_id }'
       |""".stripMargin + metrics
  }

  /** Delivered records keyed by their order id, for [[Check.compare]]. */
  def delivered(values: Seq[String]): Seq[(String, String)] =
    values.map { v =>
      Reference.parseObject(v) match {
        case Some(o) if o.hasNonNull("order_id") =>
          (Reference.canon(o.get("order_id")), Reference.canon(o))
        case _ => ("<unkeyed>", "<not an order> " + v)
      }
    }

  /** The etl config's input topic, reference outputs and output topics. */
  final class Rig(ctx: Ctx) extends AutoCloseable {
    val kafka = new Kafka(ctx.partitions)
    val orders: Array[Gen.Order] = Gen.orders(ctx.seed, Messages, MalformedFrac)
    val inputBytes: Long = orders.map(_.value.getBytes("UTF-8").length.toLong).sum
    kafka.createTopic(InputTopic)
    orders.groupBy(o => (o.id % ctx.partitions).toInt).foreach { case (p, os) =>
      os.sortBy(_.id).grouped(1000).foreach(chunk =>
        kafka.produce(InputTopic, p, chunk.map(o => (o.key, o.value, 0L)).toSeq))
    }
    val expected: Map[String, String] = orders.map(o =>
      o.key -> Reference.canon(Reference.etlOutput(o.key, o.value))).toMap
    val metricsFile: String = ctx.work.resolve("metrics.prom").toString

    private var topics = 0
    def freshTopic(): String = {
      topics += 1
      val t = s"out_$topics"
      kafka.createTopic(t)
      t
    }
    def config(withMetrics: Boolean): (String, String) = {
      val t = freshTopic()
      (t, yaml(kafka.address, t, if (withMetrics) Some(metricsFile) else None))
    }
    def verify(topic: String): Check.Verdict =
      Check.compare(expected, delivered(kafka.readAll(topic).map(_._2)))
    /** One bounded run into a fresh topic: (wall ms, verdict). */
    def runOnce(spark: SparkSession, withMetrics: Boolean = true): (Double, Check.Verdict) = {
      val (topic, y) = config(withMetrics)
      val (_, ms) = Clock.ms(Pipeline.run(spark, y))
      (ms, verify(topic))
    }
    def close(): Unit = kafka.close()
  }

  private def noopMs(df: DataFrame, reps: Int = 3): Double =
    Clock.medianMs(reps)(df.write.format("noop").mode("overwrite").save())

  /** Each layer's public call timed by itself over cached inputs, then
    * the full run; residue = full − Σ layers. Ends with the single-core
    * baseline, so `spark` is stopped on return.
    */
  def traced(ctx: Ctx, rig: Rig, spark: SparkSession)
      : (Map[String, Double], Check.Verdict) = {
    val spans = new Spans
    var verdict = Check.Empty
    val m = scala.collection.mutable.Map.empty[String, Double]
    val gc0 = Jvm.gcMs()
    Jvm.resetHeapPeak()
    val addr = rig.kafka.address
    val (_, y) = rig.config(withMetrics = true)

    spans.span("config") {
      m("config.load_ms") = Clock.medianMs(5)(Pipeline.load(y))
      m("config.build_ms") = Clock.medianMs(3)(Pipeline.build(spark, y))
      m("config.processors") = Pipeline.load(y).processors.size.toDouble
      val built = Pipeline.build(spark, y)
      built.queryExecution.executedPlan
      val phases = built.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        m(s"spark.${p}_ms") = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      }
    }
    spans.span("sources") {
      m("sources.read_ms") = noopMs(Sources.brokerRead(spark, addr, InputTopic))
      m("sources.records") = Messages.toDouble
      m("sources.bytes") = rig.inputBytes.toDouble
    }
    val in = Sources.brokerRead(spark, addr, InputTopic)
      .persist(StorageLevel.MEMORY_ONLY)
    require(in.count() == Messages, "cached input lost records")
    val baseMs = noopMs(in)
    val procs = Pipeline.load(y).processors.map(Processors.compile(_, Map.empty))
    val Seq(validate, tryP, catchP, switchP) = procs

    spans.span("blobl") {
      m("blobl.compile_ms") = Clock.medianMs(3)(
        Blobl.mapping(in, Reference.OrderMapping, Map.empty, metadataCol = Some("metadata")))
      m("blobl.exec_ms") = noopMs(Blobl.mapping(in, Reference.OrderMapping,
        Map.empty, metadataCol = Some("metadata"))) - baseMs
    }
    val caught = spans.span("operators.trycatch") {
      val tc = catchP(tryP(validate(in)))
      // self time: the mapping inside `try` is blobl's, not the operator's
      m("operators.trycatch_ms") = noopMs(tc) - baseMs - m("blobl.exec_ms")
      m("operators.errored_rows") =
        validate(in).filter(col("error").isNotNull).count().toDouble
      val c = tc.persist(StorageLevel.MEMORY_ONLY)
      c.count()
      c
    }._1
    val routed = spans.span("operators.switch") {
      val sw = switchP(caught)
      m("operators.switch_ms") = noopMs(sw) - noopMs(caught)
      val r = sw.persist(StorageLevel.MEMORY_ONLY)
      r.count()
      r
    }._1
    spans.span("sinks") {
      val key = Blobl.interpolateJson(routed, "${! this.order_id }",
        metadataCol = Some("metadata"))
      var last = ""
      m("sinks.write_ms") = Clock.medianMs(3) {
        last = rig.freshTopic()
        Sinks.brokerWrite(routed, addr, last, key, col("value"), col("__seq"))
      }
      val out = rig.kafka.readAll(last)
      verdict += Check.compare(rig.expected, delivered(out.map(_._2)))
      m("sinks.records") = out.size.toDouble
      m("sinks.bytes") = out.map(_._2.getBytes("UTF-8").length.toLong).sum.toDouble
    }
    Seq(in, caught, routed).foreach(_.unpersist())

    spans.span("full") {
      def runs(withMetrics: Boolean): Seq[Double] = (1 to 2).map { _ =>
        val (ms, v) = rig.runOnce(spark, withMetrics)
        verdict += v
        ms
      }
      val plain = Stats.median(runs(withMetrics = false))
      val full = Stats.median(runs(withMetrics = true))
      val counted = (1 to 2).map { _ =>
        val ((ms, v), counters) = SparkCounters.around(spark)(rig.runOnce(spark))
        verdict += v
        (ms, counters)
      }
      counted.last._2.foreach { case (k, v) => m(k) = v }
      m("metrics.tap_ms") = full - plain
      m("layers.full_ms") = full
      m("trace.overhead_ms") = Stats.median(counted.map(_._1)) - full
      m("layers.residue_ms") = full - Seq("config.build_ms", "sources.read_ms",
        "blobl.exec_ms", "operators.trycatch_ms", "operators.switch_ms",
        "sinks.write_ms", "metrics.tap_ms").map(m).sum
    }
    m("jvm.gc_ms") = Jvm.gcMs() - gc0
    m("jvm.heap_peak_mb") = Jvm.heapPeakMb()

    // the single-threaded baseline: the same job on one core
    spans.span("single_core") {
      Session.stop(spark)
      val one = Session.start(ctx, 1)
      verdict += rig.runOnce(one)._2
      val (ms, v) = rig.runOnce(one)
      verdict += v
      m("etl.single_core_msgs_per_s") = Messages / (ms / 1000.0)
      Session.stop(one)
    }
    spans.write(ctx.work.getParent.resolve("traces").resolve(s"etl_batch-${ctx.seed}.jsonl"),
      s"etl_batch-${ctx.seed}")
    (m.toMap, verdict)
  }
}
