package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blobl.Blobl
import graft.config.Component.{durMs, kindOf}

/** Declarative pipeline runner — the reference's primary UX
  * (README.md:7-21: a YAML config of input → pipeline.processors →
  * output) compiled to ONE Spark plan and executed.
  *
  * ```yaml
  * input:
  *   generate: { count: 100, mapping: 'root.id = this.seq' }
  * pipeline:
  *   processors:
  *     - mapping: 'root.double = this.id * 2'
  *     - jq: 'select(.double > 10)'
  * output:
  *   parquet: { path: /tmp/out }
  * ```
  *
  * Each component family is one name → entry table: [[Caches]],
  * [[Inputs]], [[Outputs]] and [[Processors]] (the processor vocabulary
  * is shared with the declarative unit-test harness, so a config users
  * test with `tests:` blocks runs IDENTICALLY in production).
  */
object Pipeline {

  private val yaml = new ObjectMapper(new YAMLFactory())

  /** Per-label-set readings for LABELED `metric` processors: key = the
    * JSON array of interpolated label values, value = (count,
    * gauge-max). Accumulated inside the SAME action as the flow (no
    * recompute, no second job); task-retry overcount is the documented
    * metrics tolerance. Gauge aggregates as max (accumulator merge
    * order is nondeterministic — documented divergence from "last").
    */
  final class MetricAcc extends org.apache.spark.util.AccumulatorV2[
      Map[String, (Long, Double)], Map[String, (Long, Double)]] {
    private val m =
      scala.collection.mutable.HashMap.empty[String, (Long, Double)]
    def isZero: Boolean = m.isEmpty
    def copy(): MetricAcc = {
      val c = new MetricAcc
      c.synchronized { m.foreach { case (k, v) => c.m(k) = v } }
      c
    }
    def reset(): Unit = synchronized { m.clear() }
    def add(v: Map[String, (Long, Double)]): Unit = synchronized {
      v.foreach { case (k, (cnt, g)) =>
        val cur = m.getOrElse(k, (0L, Double.NegativeInfinity))
        m(k) = (cur._1 + cnt, math.max(cur._2, g))
      }
    }
    def merge(other: org.apache.spark.util.AccumulatorV2[
        Map[String, (Long, Double)], Map[String, (Long, Double)]]): Unit =
      add(other.value)
    def value: Map[String, (Long, Double)] = synchronized { m.toMap }
  }

  /** Readings of the `metric` processors applied inside ONE [[run]],
    * exported by that run's `metrics:` block — the path a custom metric
    * takes from plan to exposition text (config/examples/
    * site_analytics.yaml, track_benthos_downloads). `observed` holds
    * the LABEL-LESS form (name, type, observation); `labeled` the
    * per-label-set accumulators. A metric belongs to its own run, as
    * in the reference (§2.14): readings of a `build` or `runStream`,
    * or of another run, never reach this run's exporter.
    */
  private[graft] final class MetricReadings {
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, String, org.apache.spark.sql.Observation)]
    val labeled = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, String, Seq[String], MetricAcc)]
  }

  /** The readings of the [[run]] on this thread; None outside a run. */
  private[graft] val runReadings =
    new scala.util.DynamicVariable[Option[MetricReadings]](None)

  final case class Spec(input: JsonNode, processors: Seq[JsonNode],
                        output: Option[JsonNode],
                        cacheResources: Seq[JsonNode] = Seq.empty,
                        buffer: Option[JsonNode] = None,
                        metrics: Option[JsonNode] = None,
                        tracer: Option[JsonNode] = None)

  /** Config-level `${VAR}` / `${VAR:default}` env interpolation — the
    * reference substitutes these over the raw config text BEFORE any
    * component parses it (configuration/about.adoc environment
    * variables). Bloblang's own `${! … }` interpolations are left alone.
    */
  def substEnv(text: String, env: Map[String, String]): String =
    "\\$\\{([A-Za-z_][A-Za-z0-9_]*)(?::([^}]*))?\\}".r.replaceAllIn(text, m =>
      java.util.regex.Matcher.quoteReplacement(
        env.getOrElse(m.group(1), Option(m.group(2)).getOrElse(""))))

  /** Inline `- resource: <label>` processor references from the
    * config's `processor_resources` blocks (processors/resource.adoc:
    * reusable named processors). A reference keeps nothing of its own;
    * the resource's config (label stripped) takes its place.
    */
  private[graft] def resolveProcessorResources(root: JsonNode): JsonNode = {
    val resources = Option(root.get("processor_resources"))
      .map(_.elements().asScala.toSeq).getOrElse(Nil)
    if (resources.isEmpty) return root
    val byLabel = resources.map(r => r.path("label").asText -> r).toMap
    def walk(n: JsonNode): Unit = n match {
      case a: com.fasterxml.jackson.databind.node.ArrayNode =>
        (0 until a.size()).foreach { i =>
          val el = a.get(i)
          val isRef = el.isObject && el.has("resource") &&
            el.properties().asScala.forall(e =>
              e.getKey == "resource" || e.getKey == "label")
          if (isRef) {
            byLabel.get(el.get("resource").asText).foreach { res =>
              val copy = res.deepCopy[
                com.fasterxml.jackson.databind.node.ObjectNode]()
              copy.remove("label")
              a.set(i, copy)
              ()
            }
          } else walk(el)
        }
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        // workflow branches may live in processor_resources, referenced
        // by name from `order` / `branch_resources` (workflow.adoc:189,
        // 377) — inject the resources' branch bodies into `branches`
        Option(o.get("workflow")).collect {
          case wf: com.fasterxml.jackson.databind.node.ObjectNode =>
            val wanted =
              Option(wf.get("order")).map(_.elements().asScala.toSeq
                .flatMap(n => if (n.isArray)
                  n.elements().asScala.toSeq.map(_.asText)
                else Seq(n.asText))).getOrElse(Nil) ++
              Option(wf.get("branch_resources"))
                .map(_.elements().asScala.toSeq.map(_.asText))
                .getOrElse(Nil)
            val missing = wanted.filterNot(n =>
              Option(wf.get("branches")).exists(_.has(n)))
            if (missing.nonEmpty) {
              val stages = Option(wf.get("branches")) match {
                case Some(b: com.fasterxml.jackson.databind.node.ObjectNode) => b
                case _ =>
                  val b = wf.putObject("branches"); b
              }
              missing.foreach { n =>
                byLabel.get(n).flatMap(r => Option(r.get("branch")))
                  .foreach(b => stages.set[JsonNode](n, b.deepCopy[JsonNode]()))
              }
            }
        }
        o.properties().asScala.foreach(e => walk(e.getValue))
      case _ => ()
    }
    val copy = root.deepCopy[JsonNode]()
    walk(copy)
    copy
  }

  def load(configYaml: String): Spec = {
    val root = resolveProcessorResources(yaml.readTree(configYaml))
    val input = Option(root.get("input")).getOrElse(
      throw new IllegalArgumentException("config needs an input"))
    val procs = Option(root.at("/pipeline/processors"))
      .filterNot(_.isMissingNode)
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    val caches = Option(root.get("cache_resources"))
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    Spec(input, procs, Option(root.get("output")), caches,
      Option(root.get("buffer")), Option(root.get("metrics")),
      Option(root.get("tracer")))
  }

  /** `buffer:` section between input and pipeline. `memory`/`none` are
    * identity in bounded runs (a buffer decouples producer rate, which
    * Spark's own scheduling covers); `system_window`
    * (buffers/system_window.adoc) assigns each message to its
    * window(s): `__batch` = window end so batch-scoped processors
    * group per window, `window_end_timestamp` metadata per message.
    */
  private def applyBuffer(df: DataFrame, n: JsonNode,
                          env: Map[String, String]): DataFrame = kindOf(n) match {
    case ("memory" | "none", _) => df
    case ("sqlite", b) =>
      // buffers/sqlite.adoc — durable disk buffer, at-least-once:
      // rows persist BEFORE the pipeline reads them and only delete
      // after the output delivers (Pipeline.run acks; Derby stands in
      // for the absent sqlite driver — same embedded-disk contract)
      val path = b.get("path").asText
      SqlBuffer.append(df, path)
      SqlBuffer.readUndelivered(df.sparkSession, path)
    case ("system_window", b) =>
      val sizeMs = durMs(b.get("size").asText)
      val slideMs = Option(b.get("slide")).map(_.asText).filter(_.nonEmpty)
        .map(durMs).getOrElse(0L)
      val offsetMs = Option(b.get("offset")).map(_.asText).filter(_.nonEmpty)
        .map(durMs).getOrElse(0L)
      val tsExpr = b.path("timestamp_mapping").asText("root = now()")
        .replaceFirst("^\\s*root\\s*=\\s*", "")
      val meta = if (df.columns.contains("metadata")) Some("metadata")
                 else None
      val raw = Blobl.exprJson(df, tsExpr, env, metadataCol = meta)
        .cast("string")
      // event time may arrive as unix seconds or RFC3339 text; numeric
      // first — try_to_timestamp would read "1000" as the YEAR 1000
      val asNum = raw.cast("double")
      val ts = when(asNum.isNotNull, timestamp_seconds(asNum))
        .otherwise(try_to_timestamp(raw))
      graft.streaming.Windows.assignWindows(df, ts, sizeMs, slideMs,
        offsetMs, meta)
    case (other, _) =>
      throw new IllegalArgumentException(s"buffer '$other' not supported")
  }

  /** Streams mode (inputs/inproc.adoc, outputs/inproc.adoc): run N
    * NAMED configs in ONE session, wired by inproc ids — the
    * reference's `streams` subcommand runs each file in a directory as
    * its own stream with shared resources. The reference schedules
    * streams concurrently with inproc as a live channel; the bounded
    * analog executes streams in dependency order — a stream consuming
    * inproc X runs after the stream whose output provides X. Cycles
    * are rejected (the inproc docs themselves warn that feedback loops
    * deadlock). Returns each stream's final frame by name.
    */
  def runStreams(spark: SparkSession, streams: Seq[(String, String)],
                 env: Map[String, String] = Map.empty)
      : Map[String, DataFrame] = {
    def inprocIds(n: JsonNode): Set[String] = {
      val out = scala.collection.mutable.Set.empty[String]
      def walk(x: JsonNode): Unit = x match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode =>
          Option(o.get("inproc")).filter(_.isTextual)
            .foreach(v => out += v.asText)
          o.properties().asScala.foreach(e => walk(e.getValue))
        case a: com.fasterxml.jackson.databind.node.ArrayNode =>
          a.elements().asScala.foreach(walk)
        case _ => ()
      }
      walk(n); out.toSet
    }
    val parsed = streams.map { case (name, text) =>
      val root = yaml.readTree(substEnv(text, env))
      val provides = Option(root.get("output")).map(inprocIds)
        .getOrElse(Set.empty[String])
      val needs = Option(root.get("input")).map(inprocIds)
        .getOrElse(Set.empty[String])
      (name, text, provides, needs)
    }
    val providers: Map[String, String] = parsed.flatMap { case (n, _, p, _) =>
      p.map(_ -> n)
    }.toMap // later stream wins an id collision, as the docs specify
    val done = scala.collection.mutable.LinkedHashSet.empty[String]
    while (done.size < parsed.size) {
      val ready = parsed.filter { case (n, _, _, needs) =>
        !done(n) && needs.forall(id =>
          providers.get(id).forall(p => p == n || done(p)))
      }
      require(ready.nonEmpty, "streams mode: cyclic inproc wiring among " +
        parsed.map(_._1).filterNot(done).mkString(", "))
      ready.foreach(r => done += r._1)
    }
    val byName = parsed.map(p => p._1 -> p._2).toMap
    done.toSeq.map(n => n -> run(spark, byName(n), env)).toMap
  }

  /** The config prelude every entry point shares: config-level `${VAR}`
    * / `${VAR:default}` substitutes ONCE over the raw text, as the
    * reference parses configs (defaults apply even with an empty env —
    * config/examples/jira_input.yaml), then the config parses and its
    * cache resources register.
    */
  private def prepare(spark: SparkSession, configYaml: String,
                      env: Map[String, String]): Spec = {
    val spec = load(substEnv(configYaml, env))
    Caches.register(spark, spec.cacheResources, env)
    spec
  }

  /** The config's processors over a read of its input. */
  private def process(spec: Spec, src: DataFrame,
                      env: Map[String, String]): DataFrame =
    spec.processors.foldLeft(src)((df, proc) => Processors.compile(proc, env)(df))

  /** The full DataFrame of a prepared config (input + processors). */
  private def frame(spark: SparkSession, spec: Spec,
                    env: Map[String, String]): DataFrame = {
    val src = Inputs.batch(spark, spec.input, env)
    process(spec, spec.buffer.map(applyBuffer(src, _, env)).getOrElse(src), env)
  }

  /** Build the full DataFrame (input + processors), unexecuted. */
  def build(spark: SparkSession, configYaml: String,
            env: Map[String, String] = Map.empty): DataFrame =
    frame(spark, prepare(spark, configYaml, env), env)

  /** Build and execute through the output; returns the final frame. */
  def run(spark: SparkSession, configYaml: String,
          env: Map[String, String] = Map.empty): DataFrame = {
    val readings = new MetricReadings
    runReadings.withValue(Some(readings))(
      runCollecting(spark, prepare(spark, configYaml, env), env, readings))
  }

  private def runCollecting(spark: SparkSession, spec: Spec,
                            env: Map[String, String],
                            readings: MetricReadings): DataFrame = {
    val df0 = frame(spark, spec, env)
    // metrics: observe the delivered row count on the SAME action the
    // output runs (no second job) and flush to the configured exporter
    // — the reference's `metrics:` target block (§2.14)
    val (df, flush) = spec.metrics match {
      case Some(m) =>
        val rowsAcc = spark.sparkContext.longAccumulator("graft_output_sent")
        val partsAcc = spark.sparkContext.longAccumulator("graft_parts_seen")
        val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
          org.apache.spark.sql.catalyst.encoders.RowEncoder
            .encoderFor(df0.schema))
        val counted = df0.mapPartitions { it =>
          partsAcc.add(1)
          it.map { r => rowsAcc.add(1); r }
        }(enc)
        (counted, Some(() => {
          // a lazy output (memory view) runs no action — force one so
          // the accumulators fill; eager outputs already populated them
          // (accumulator task-retry overcount is acceptable for metrics,
          // the same tolerance the reference's counters have)
          if (partsAcc.value == 0L && counted.rdd.getNumPartitions > 0)
            counted.write.format("noop").mode("overwrite").save()
          // an action's observations complete on the listener bus, after
          // the action returns: drain it so the exporter reads them
          org.apache.spark.sql.GraftListenerBus.drain(spark.sparkContext)
          exportMetrics(spark, m, rowsAcc.value, readings)
        }))
      case None => (df0, None)
    }
    val startNs = System.nanoTime()
    var runError: Option[String] = None
    try {
      spec.output.foreach(Outputs.write(df, _, env))
      // durable buffer ack: rows delete only after the output lands
      // (a failure above leaves them for the next run to replay)
      spec.buffer.map(kindOf(_)).foreach {
        case ("sqlite", b) => SqlBuffer.ackPending(b.get("path").asText)
        case _ => ()
      }
    }
    catch { case e: Throwable => runError = Some(String.valueOf(e.getMessage)); throw e }
    finally {
      // tracer: one pipeline-run span through the OTLP export path
      // (tracer_jaeger.go registers jaeger as an OTel provider —
      // modern jaeger and any collector ingest OTLP natively)
      spec.tracer.foreach { t =>
        val endNs = System.currentTimeMillis * 1000000L
        val span = graft.operators.Tracing.Span("pipeline.run",
          endNs - (System.nanoTime() - startNs), endNs,
          Map("pipeline.output" -> spec.output
            .map(kindOf(_, attaching = true)._1).getOrElse("none")),
          statusError = runError)
        kindOf(t) match {
          case ("jaeger" | "open_telemetry_collector", b) =>
            val endpoint = Option(b.get("collector_url"))
              .orElse(Option(b.get("url"))).map(_.asText)
              .getOrElse(throw new IllegalArgumentException(
                "tracer: collector_url/url required"))
            graft.operators.Tracing.export(endpoint,
              b.path("service_name").asText("graft"), Seq(span))
          case ("gcp_cloudtrace", b) =>
            graft.operators.Tracing.cloudTraceExport(
              b.get("url").asText, b.path("project").asText("proj"),
              b.path("token").asText(""), Seq(span))
          case ("none", _) => ()
          case (other, _) => throw new IllegalArgumentException(
            s"tracer target '$other' not supported")
        }
      }
    }
    flush.foreach(_.apply())
    df
  }

  /** Flush pipeline metrics to the configured target (statsd /
    * prometheus / influxdb / logger — metrics_statsd.go,
    * metrics_prometheus.go, metrics_influxdb.go shapes).
    */
  private def exportMetrics(spark: SparkSession, m0: JsonNode,
                            rows: Long, readings: MetricReadings): Unit = {
    import graft.operators.MetricsExport
    val reg = new MetricsExport.Registry
    reg.counter("output_sent").addAndGet(rows)
    reg.counter("input_received").addAndGet(rows)
    // custom metric-processor observations land in the same registry
    var pending = readings.observed.poll()
    while (pending != null) {
      val (name, kind, obs) = pending
      // non-blocking read of the completed observation (getOrEmpty is
      // private[sql]); an un-actioned plan's future is simply pending
      val vals: Map[String, Any] = obs.future.value match {
        case Some(scala.util.Success(row)) if row.schema != null =>
          row.schema.fieldNames.zip(row.toSeq).toMap
        case _ => Map.empty
      }
      if (vals.nonEmpty) kind match {
        case "gauge" => Option(vals.getOrElse("value", null)).foreach(v =>
          reg.gaugeSet(name, String.valueOf(v).toDouble))
        case _ => reg.counter(name).addAndGet(
          String.valueOf(vals.getOrElse("count", 0L)).toLong)
      }
      pending = readings.observed.poll()
    }
    // labeled metric processors: per-label-set accumulator readings
    var lp = readings.labeled.poll()
    while (lp != null) {
      val (name, kind, labelNames, acc) = lp
      val jm = new ObjectMapper()
      acc.value.foreach { case (labelJson, (cnt, gmax)) =>
        val vals = jm.readTree(labelJson).elements().asScala
          .map(n => if (n.isNull) "" else n.asText).toSeq
        val labels = labelNames.zip(vals)
        kind match {
          case "gauge" if gmax > Double.NegativeInfinity =>
            reg.gaugeSet(name, gmax, labels)
          case "gauge" => ()
          case _ => reg.counter(name, labels).addAndGet(cnt); ()
        }
      }
      lp = readings.labeled.poll()
    }
    // `metrics.mapping` renames/drops metric NAMES before exposition
    // (config/examples/site_analytics.yaml filters to its own counter).
    // The name arrives as `this` and, for the $path convention, as a
    // pre-bound variable.
    val (m, regOut) = Option(m0.get("mapping")).map(_.asText)
        .filter(_.nonEmpty) match {
      case Some(src) =>
        val stripped = m0.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
        stripped.remove("mapping")
        val names = (reg.counterValues.keys.map(_._1) ++
          reg.gaugeValues.keys.map(_._1) ++
          reg.timingValues.keys.map(_._1)).toSeq.distinct
        val jm = new ObjectMapper()
        import spark.implicits._
        val df = names.map(n =>
            (jm.writeValueAsString(
              com.fasterxml.jackson.databind.node.JsonNodeFactory
                .instance.textNode(n)), n))
          .toDF("value", "__orig")
        val out = graft.blobl.Blobl.mapping(df,
            "let path = this\n" + src, Map.empty)
          .select(col("__orig"), col("value")).collect()
          .map(r => r.getString(0) ->
            jm.readTree(r.getString(1)).asText).toMap
        val r2 = new MetricsExport.Registry
        reg.counterValues.foreach { case ((n, ls), v) =>
          out.get(n).foreach(n2 => { r2.counter(n2, ls).addAndGet(v); () }) }
        reg.gaugeValues.foreach { case ((n, ls), v) =>
          out.get(n).foreach(n2 => r2.gaugeSet(n2, v, ls)) }
        (stripped: JsonNode, r2)
      case None => (m0, reg)
    }
    exportMetricsTo(m, regOut, rows)
  }

  private def exportMetricsTo(m: JsonNode,
      reg: graft.operators.MetricsExport.Registry, rows: Long): Unit = {
    import graft.operators.MetricsExport
    kindOf(m) match {
      case ("statsd", b) =>
        val flusher = new MetricsExport.StatsdFlusher(reg,
          prefix = Option(b.get("prefix")).map(_.asText + ".").getOrElse(""))
        MetricsExport.statsdSend(b.get("address").asText,
          flusher.flushLines())
      case ("influxdb", b) =>
        MetricsExport.influxPush(reg, b.get("url").asText,
          System.currentTimeMillis() * 1000000L)
      case ("prometheus", b) =>
        // pull model: render the exposition text; push_url (the
        // reference's push_gateway) POSTs it when configured
        val text = MetricsExport.prometheusText(reg)
        Option(b.get("push_url")).map(_.asText).foreach { u =>
          val c = graft.operators.Http.clientFor(u)
          c(Seq(graft.operators.Http.Request(u, "POST",
            Map("Content-Type" -> "text/plain; version=0.0.4"), text)))
        }
        Option(b.get("file")).map(_.asText).foreach { p =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(p), text)
        }
      case ("aws_cloudwatch", b) =>
        // metrics/aws_cloudwatch.adoc — PutMetricData form protocol
        graft.sources.CloudWatch.putMetricData(
          b.get("endpoint").asText, Component.awsCreds(b),
          b.path("namespace").asText("Benthos"), reg)
        ()
      case ("json_api", b) =>
        // metrics/json_api.adoc — the pull endpoint's JSON document;
        // written to `file` when configured (the pull server seam)
        val json = MetricsExport.jsonApi(reg)
        Option(b.get("file")).map(_.asText).foreach { p =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json)
        }
      case ("logger" | "none", _) =>
        System.err.println(s"[metrics] output_sent=$rows")
      case (other, _) => throw new IllegalArgumentException(
        s"metrics target '$other' not supported")
    }
  }

  /** STREAMING form: the same config shape, its input read through the
    * input's stream form (e.g. `generate: {rate, mapping}`, a `file:
    * {path, format, schema}` tail-read, a kafka topic, or a cursor-polled
    * source) and written through the output's stream form (`memory:
    * {name}`, `parquet: {path, checkpoint}` or a `lakehouse` MERGE per
    * micro-batch). Processors are the same vocabulary — they compile to
    * projections/filters that run identically per micro-batch.
    */
  def runStream(spark: SparkSession, configYaml: String,
                env: Map[String, String] = Map.empty): org.apache.spark.sql.streaming.StreamingQuery = {
    val spec = prepare(spark, configYaml, env)
    graft.streaming.LocalCheckpointFileManager.install(spark)
    val df = process(spec, Inputs.stream(spark, spec.input, env), env)
    Outputs.stream(df, spec.output.getOrElse(
      throw new IllegalArgumentException("streaming config needs an output")), env)
  }

  /** Runtime enable/disable registry behind the `dynamic` input/output
    * (the reference's admin-API toggles, programmatic here). Children
    * default to enabled.
    */
  object Dynamic {
    private val disabled =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    private def key(prefix: String, label: String) = s"$prefix#$label"
    def enabled(prefix: String, label: String): Boolean =
      !disabled.contains(key(prefix, label))
    def disable(prefix: String, label: String): Unit = {
      disabled.add(key(prefix, label)); ()
    }
    def enable(prefix: String, label: String): Unit = {
      disabled.remove(key(prefix, label)); ()
    }
  }

  /** Request-scoped synchronous responses (output `sync_response`): the
    * caller (http server sync path, the serverless handler) opens a
    * collection scope, runs the pipeline, and reads back whatever the
    * sync_response output stored — the WithSyncResponseStore shape of
    * internal/serverless/handler.go:99-110.
    */
  object SyncResponse {
    private val scope =
      new ThreadLocal[scala.collection.mutable.Buffer[Seq[String]]]
    private[config] def store(batch: Seq[String]): Unit = {
      val b = scope.get
      require(b != null,
        "sync_response output outside a synchronous caller " +
          "(http server sync / serverless handler)")
      b.append(batch); ()
    }
    /** Run `body` with a fresh store; returns the batches it captured. */
    def collect[T](body: => T): (T, Seq[Seq[String]]) = {
      val buf = scala.collection.mutable.Buffer.empty[Seq[String]]
      scope.set(buf)
      try { val out = body; (out, buf.toSeq) }
      finally scope.remove()
    }
  }
}
