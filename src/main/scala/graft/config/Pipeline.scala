package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blobl.Blobl
import graft.operators.{BatchOps, Jq, Observe}
import graft.sinks.Sinks
import graft.sources.{Amqp1, Broker, Envelope, AzureQueue, Beanstalkd, Cassandra, CloudQueue, CloudWatch, Cockroach, Cursors, Discord, DynamoCdc, HttpClient, HttpPushServer, HttpServeServer, Jira, Kinesis, MongoCdc, Mq, Nanomsg, NatsKv, Nsq, Otlp, OtlpGrpc, PubSub, Redis, Salesforce, SalesforceApi, SalesforceCdc, SchemaRegistryIO, Slack, SlackSocket, Sources, SpannerCdc, SpiceDb, Mongo, Splunk, Tcp, Twitter, WebSocket}

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
  * Inputs: generate, file (csv/json/parquet/lines). Outputs: parquet,
  * csv, json, noop (evaluate + discard), memory (named temp view).
  * Processor vocabulary in [[Processors.compile]] — shared with the
  * declarative unit-test harness, so a config users test with
  * `tests:` blocks runs IDENTICALLY in production.
  */
object Pipeline {

  private val yaml = new ObjectMapper(new YAMLFactory())
  private val F = JsonNodeFactory.instance

  /** file-backend cache label → directory, recorded at registration so
    * inputs needing a WRITABLE store (jira's cursor) can reach the
    * backing files rather than the read-only relational view.
    */
  private[graft] val fileCacheDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** In-process MUTABLE stores behind the memory-family cache backends
    * (memory/lru/ttlru/ristretto/noop), keyed by label — the live form
    * of the relational `cache_<label>` views, so the cache PROCESSOR's
    * set/add/delete operators (processors/cache.adoc) and mid-batch
    * get-after-set coherence (config/examples/joining_streams.yaml's
    * for_each hydration) have upstream semantics. A memory cache in the
    * reference is per-PROCESS state; a per-JVM singleton is the same
    * contract on an executor (seeded init_values live on the driver —
    * documented seam for multi-executor runs).
    */
  private[graft] val liveCacheStores =
    scala.collection.concurrent.TrieMap
      .empty[String, scala.collection.concurrent.TrieMap[String, String]]

  /** multilevel label → child labels, in read order. */
  private[graft] val multilevelLabels =
    scala.collection.concurrent.TrieMap.empty[String, Seq[String]]

  /** sql cache backend config (caches/sql.adoc) for DSNs the in-process
    * engines serve — postgres:// resolves to the pgvector engine,
    * jdbc: to the embedded JDBC driver. `setSuffix` is the upsert
    * clause appended to the INSERT (stateful_polling.yaml's
    * `ON CONFLICT(key) DO UPDATE SET val=excluded.val`).
    */
  private[graft] final case class SqlCacheCfg(dsn: String, table: String,
      keyColumn: String, valueColumn: String, setSuffix: String)
      extends Serializable {
    private def textArg(v: String) =
      com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
        .textNode(v)
    private def isPg = dsn.startsWith("postgres://") ||
      dsn.startsWith("postgresql://")
    def get(k: String): Option[String] =
      if (isPg)
        graft.sources.PgVector.exec(dsn,
            s"SELECT $valueColumn FROM $table WHERE $keyColumn = $$1",
            Seq(textArg(k)))
          .headOption.map(_.path(valueColumn).asText)
      else {
        val c = java.sql.DriverManager.getConnection(dsn)
        try {
          val ps = c.prepareStatement(
            s"SELECT $valueColumn FROM $table WHERE $keyColumn = ?")
          ps.setString(1, k)
          val rs = ps.executeQuery()
          val out = if (rs.next()) Some(rs.getString(1)) else None
          rs.close(); ps.close(); out
        } finally c.close()
      }
    def put(k: String, v: String): Unit =
      if (isPg) {
        graft.sources.PgVector.exec(dsn,
          s"INSERT INTO $table ($keyColumn, $valueColumn) " +
            s"VALUES ($$1, $$2) $setSuffix".trim,
          Seq(textArg(k), textArg(Option(v).getOrElse(""))))
        ()
      } else {
        val c = java.sql.DriverManager.getConnection(dsn)
        try {
          val del = c.prepareStatement(
            s"DELETE FROM $table WHERE $keyColumn = ?")
          del.setString(1, k); del.executeUpdate(); del.close()
          val ps = c.prepareStatement(
            s"INSERT INTO $table ($keyColumn, $valueColumn) VALUES (?, ?)")
          ps.setString(1, k); ps.setString(2, Option(v).getOrElse(""))
          ps.executeUpdate(); ps.close()
        } finally c.close()
      }
    def delete(k: String): Unit =
      if (isPg) {
        graft.sources.PgVector.exec(dsn,
          s"DELETE FROM $table WHERE $keyColumn = $$1", Seq(textArg(k)))
        ()
      } else {
        val c = java.sql.DriverManager.getConnection(dsn)
        try {
          val ps = c.prepareStatement(
            s"DELETE FROM $table WHERE $keyColumn = ?")
          ps.setString(1, k); ps.executeUpdate(); ps.close()
        } finally c.close()
      }
  }

  private[graft] val sqlCacheCfgs =
    scala.collection.concurrent.TrieMap.empty[String, SqlCacheCfg]

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

  /** One resolvable level for the kernel-form cache processor: a
    * memory-family live store (per-JVM), a file directory (coherent
    * across executors on shared storage), or a sql-backed table.
    * Serializable — executor closures capture the label/dir/cfg and
    * resolve the store at use time.
    */
  private[graft] final case class CacheLevel(label: String,
      fileDir: Option[String], sql: Option[SqlCacheCfg] = None)
      extends Serializable {
    private def store = Pipeline.liveCacheStores.getOrElseUpdate(label,
      scala.collection.concurrent.TrieMap.empty)
    def get(k: String): Option[String] = (fileDir, sql) match {
      case (Some(d), _) =>
        val p = java.nio.file.Paths.get(d, k)
        if (java.nio.file.Files.exists(p))
          Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        else None
      case (_, Some(s)) => s.get(k)
      case _ => store.get(k)
    }
    def put(k: String, v: String): Unit = (fileDir, sql) match {
      case (Some(d), _) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(d, k),
          Option(v).getOrElse("").getBytes("UTF-8")); ()
      case (_, Some(s)) => s.put(k, v)
      case _ => store.put(k, Option(v).getOrElse("")); ()
    }
    def delete(k: String): Unit = (fileDir, sql) match {
      case (Some(d), _) =>
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(d, k)); ()
      case (_, Some(s)) => s.delete(k)
      case _ => store.remove(k); ()
    }
  }

  /** Resolve a cache label to kernel levels: the label itself, or its
    * multilevel children in read order. None when any level is a
    * view-only (snapshot) backend — callers fall back to the
    * relational path.
    */
  private[graft] def cacheLevelsOf(label: String): Option[Seq[CacheLevel]] = {
    val kids = multilevelLabels.getOrElse(label, Seq(label))
    val lv = kids.map { l =>
      if (liveCacheStores.contains(l)) Some(CacheLevel(l, None))
      else fileCacheDirs.get(l).map(d => CacheLevel(l, Some(d)))
        .orElse(sqlCacheCfgs.get(l).map(c => CacheLevel(l, None, Some(c))))
    }
    if (lv.forall(_.isDefined)) Some(lv.flatten) else None
  }

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
                          env: Map[String, String]): DataFrame = one(n) match {
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

  private def durMs(s: String): Long =
    graft.functions.expressions.CodecOps.parseDuration(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)) / 1000000L

  /** `cache_resources:` blocks → `cache_<label>` (key, value) temp
    * views, the relational form the `cache` processor joins against.
    * In-process backends (caches/memory.adoc, lru.adoc, ttlru.adoc —
    * `init` seeds entries) and the `file` backend (caches/file.adoc:
    * one file per key, filename = key, contents = value) are real;
    * network backends (redis/memcached/nats_kv/…) stay env-blocked.
    */
  private[graft] def registerCaches(spark: SparkSession, caches: Seq[JsonNode]): Unit = {
    // multilevel views resolve their children eagerly — register them
    // AFTER the plain backends regardless of declaration order
    // (config/examples/stateful_polling.yaml declares the multilevel
    // first)
    val (multi, plain) = caches.partition(r =>
      r.properties().asScala.exists(_.getKey == "multilevel"))
    (plain ++ multi).foreach { r =>
      val label = Option(r.get("label")).map(_.asText).getOrElse(
        throw new IllegalArgumentException("cache resource needs a label"))
      val view = s"cache_$label"
      // a label re-registered as a DIFFERENT backend must not keep the
      // old backend's live routing (suites reuse labels across cases)
      liveCacheStores.remove(label)
      sqlCacheCfgs.remove(label)
      multilevelLabels.remove(label)
      fileCacheDirs.remove(label)
      r.properties().asScala.filterNot(_.getKey == "label").foreach { e =>
        e.getKey match {
          case "memory" | "lru" | "ttlru" | "noop" | "ristretto" =>
            // ristretto (caches/ristretto.adoc) is the reference's
            // embedded dgraph cache — in-process, same view semantics
            // as memory/lru here. The seed field is `init_values`
            // (caches/memory.adoc:40); `init` stays as a legacy alias.
            val rows = Option(e.getValue.get("init_values"))
              .orElse(Option(e.getValue.get("init")))
              .map(_.properties().asScala.toSeq.map(kv =>
                (kv.getKey, kv.getValue.asText))).getOrElse(Seq.empty)
            // fresh live store per registration (test isolation)
            val store =
              scala.collection.concurrent.TrieMap.empty[String, String]
            rows.foreach { case (k, v) => store.put(k, v) }
            liveCacheStores.put(label, store)
            import spark.implicits._
            val df =
              if (rows.isEmpty)
                Seq.empty[(String, String)].toDF("key", "value")
              else rows.toDF("key", "value")
            df.createOrReplaceTempView(view)
          case "memcached" =>
            // caches/memcached.adoc — addresses (mem:// or host:port)
            // + prefix namespace; the view hydrates via the text
            // protocol (metadump + chunked multi-get)
            val addr = e.getValue.get("addresses").elements().asScala
              .toSeq.map(_.asText).headOption.getOrElse(
                throw new IllegalArgumentException(
                  "memcached cache needs addresses"))
            val prefix = e.getValue.path("prefix").asText("")
            graft.sources.Memcached.cacheView(spark, addr, prefix)
              .createOrReplaceTempView(view)
          case "file" =>
            val dir = e.getValue.get("directory").asText
            fileCacheDirs.update(label, dir)
            // a fresh (empty) cache dir is legal — e.g. a cursor cache
            // before its input's first sweep; the /* glob would throw
            java.nio.file.Files.createDirectories(
              java.nio.file.Paths.get(dir))
            spark.read.format("binaryFile").load(dir)
              .select(
                element_at(split(col("path"), "/"), -1).as("key"),
                col("content").cast("string").as("value"))
              .createOrReplaceTempView(view)
          case "multilevel" =>
            // caches/multilevel.adoc — the value is an ARRAY of child
            // cache labels; a read consults levels in order and the
            // FIRST level holding the key wins. Children must be
            // declared earlier in cache_resources (their views resolve
            // eagerly here).
            val levels = e.getValue.elements().asScala.map(_.asText).toSeq
            require(levels.nonEmpty, "multilevel cache needs levels")
            multilevelLabels.put(label, levels)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("key")).orderBy(col("__lvl"))
            levels.zipWithIndex.map { case (l, i) =>
              spark.table(s"cache_$l")
                .select(col("key"), col("value"), lit(i).as("__lvl"))
            }.reduce(_ unionByName _)
              .withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1).drop("__rn", "__lvl")
              .createOrReplaceTempView(view)
          case "aws_dynamodb" =>
            // caches/aws_dynamodb.adoc — one item per key
            // (hash_key/data_key attributes), hydrated via a Scan
            // over the SigV4-verified JSON protocol
            val bn = e.getValue
            val hashKey = bn.path("hash_key").asText("key")
            val dataKey = bn.path("data_key").asText("value")
            val items = graft.sources.DynamoCdc.scanAll(
              bn.get("endpoint").asText, awsCreds(bn),
              bn.get("table").asText)
            import spark.implicits._
            val m2 = new ObjectMapper()
            items.map { j =>
              val n2 = m2.readTree(j)
              (n2.path(hashKey).asText, n2.path(dataKey).asText)
            }.toDF("key", "value").createOrReplaceTempView(view)
          case "aws_s3" =>
            // caches/aws_s3.adoc — one object per key under the
            // bucket; hydrated via the SigV4-verified S3 stack (mem://
            // loopback or any S3-compatible endpoint)
            val b = e.getValue
            val endpoint = b.path("endpoint").asText(
              b.path("url").asText(""))
            require(endpoint.nonEmpty, "aws_s3 cache needs endpoint")
            val creds = graft.sources.S3.Credentials(
              b.at("/credentials/id").asText("AK"),
              b.at("/credentials/secret").asText("SK"),
              b.path("region").asText("us-east-1"))
            graft.sources.S3.read(spark, endpoint, creds,
                b.get("bucket").asText)
              .select(element_at(col("metadata"), "s3_key").as("key"),
                col("value"))
              .createOrReplaceTempView(view)
          case "gcp_cloud_storage" =>
            // caches/gcp_cloud_storage.adoc — one object per key under
            // the bucket (impl/gcp/cache_cloud_storage.go), hydrated
            // through the GCS JSON-API stack
            val bn = e.getValue
            graft.sources.Gcs.read(spark, bn.get("endpoint").asText,
                bn.path("token").asText(""), bn.get("bucket").asText)
              .select(element_at(col("metadata"), "gcs_key").as("key"),
                col("value"))
              .createOrReplaceTempView(view)
          case "mongodb" =>
            // caches/mongodb.adoc — key_field/value_field documents of
            // one collection, over the OP_MSG wire stack
            val bn = e.getValue
            val kf = bn.path("key_field").asText("key")
            val vf = bn.path("value_field").asText("value")
            graft.sources.Mongo.read(spark, bn.get("url").asText,
                bn.get("database").asText, bn.get("collection").asText)
              .select(get_json_object(col("value"), s"$$.$kf").as("key"),
                get_json_object(col("value"), s"$$.$vf").as("value"))
              .createOrReplaceTempView(view)
          case "sql" =>
            // caches/sql.adoc — key/value columns of a table reached
            // through JDBC (embedded Derby) or, for postgres:// DSNs,
            // the in-process pgvector engine. The cfg registers as a
            // LIVE level so cache set/add/delete and multilevel
            // write-through reach the table
            // (config/examples/stateful_polling.yaml's pgstate).
            val bn = e.getValue
            val dsn = bn.get("dsn").asText
            val table = bn.get("table").asText
            val kc = bn.path("key_column").asText("key")
            val vc = bn.path("value_column").asText("value")
            val cfg = SqlCacheCfg(dsn, table, kc, vc,
              bn.path("set_suffix").asText(""))
            Option(bn.get("init_statement")).map(_.asText)
              .filter(_.nonEmpty).foreach { init =>
                init.split(";").map(_.trim).filter(_.nonEmpty).foreach { s =>
                  if (dsn.startsWith("postgres://") ||
                      dsn.startsWith("postgresql://"))
                    graft.sources.PgVector.exec(dsn, s, Nil)
                  else {
                    val c = java.sql.DriverManager.getConnection(dsn)
                    try { c.createStatement().execute(s); () }
                    finally c.close()
                  }
                }
              }
            sqlCacheCfgs.put(label, cfg)
            if (dsn.startsWith("postgres://") ||
                dsn.startsWith("postgresql://")) {
              // snapshot view from the engine (may be empty pre-init)
              import spark.implicits._
              val rows = graft.sources.PgVector.table(dsn, table)
                .map(t => t.rows.toSeq.map(r =>
                  (String.valueOf(r(t.colIdx(kc))),
                    String.valueOf(r(t.colIdx(vc)))))).getOrElse(Seq.empty)
              rows.toDF("key", "value").createOrReplaceTempView(view)
            } else {
            val rows = {
              val c = java.sql.DriverManager.getConnection(dsn)
              try {
                val st = c.createStatement()
                val rs = st.executeQuery(s"SELECT $kc, $vc FROM $table")
                val buf = Vector.newBuilder[(String, String)]
                while (rs.next()) buf += ((rs.getString(1), rs.getString(2)))
                rs.close(); st.close()
                buf.result()
              } finally c.close()
            }
            import spark.implicits._
            rows.toDF("key", "value").createOrReplaceTempView(view)
            }
          case "couchbase" =>
            // caches/couchbase.adoc — KV bucket entries over the
            // binary protocol; hydrated by a bounded key sweep from
            // `init_keys` (the KV protocol has no scan op — the same
            // bounded-hydration contract as the other remote caches)
            val bn = e.getValue
            val cl = new graft.sources.Couchbase.Client(
              bn.get("url").asText)
            val entries = bn.path("init_keys").elements().asScala
              .map(_.asText).toSeq
              .flatMap(k => cl.get(k).map(v => (k, v)))
            import spark.implicits._
            entries.toDF("key", "value").createOrReplaceTempView(view)
          case "redpanda" =>
            // caches/redpanda.adoc — a COMPACTED topic as the store:
            // the latest record per key is the live entry and a null
            // value (tombstone) deletes it — Kafka log-compaction
            // semantics over the broker seam
            val bn = e.getValue
            val addr = bn.get("seed_brokers").elements().asScala
              .next().asText
            val topic = bn.get("topic").asText
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("key"))
              .orderBy(col("__seq").desc)
            Sources.brokerRead(spark, addr, topic)
              .select(element_at(col("metadata"), "kafka_key").as("key"),
                col("value"),
                element_at(col("metadata"), "kafka_tombstone_message")
                  .as("__tomb"),
                col("__seq"))
              .withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1 && col("__tomb") =!= "true")
              .select("key", "value")
              .createOrReplaceTempView(view)
          case "redis" =>
            // caches/redis.adoc — snapshot of the store's string keys
            // under `prefix` through the mem:// seam
            val url = e.getValue.get("url").asText
            val prefix = Option(e.getValue.get("prefix"))
              .map(_.asText).getOrElse("")
            Redis.cacheView(spark, url, prefix).createOrReplaceTempView(view)
          case "nats_kv" =>
            // caches/nats_kv.adoc — live entries of the bucket
            val urls = e.getValue.get("urls").elements().asScala.toSeq
              .map(_.asText)
            val mem = urls.find(_.startsWith("mem://")).getOrElse(
              throw new IllegalArgumentException(
                "nats_kv: only mem:// transports exist in this environment"))
            graft.sources.NatsKv.cacheView(spark, mem,
              e.getValue.get("bucket").asText).createOrReplaceTempView(view)
          case other => Templates.lookup("cache", other) match {
            case Some(t) => Templates.guard("cache", other) {
              val expanded = F.objectNode()
              expanded.put("label", label)
              Templates.expand(spark, t, e.getValue).properties().asScala
                .foreach(en =>
                  expanded.set[JsonNode](en.getKey, en.getValue))
              registerCaches(spark, Seq(expanded))
            }
            case None => throw new IllegalArgumentException(
              s"cache backend '$other' is environment-blocked here (network service)")
          }
        }
      }
    }
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
    * config/examples/jira_input.yaml), then the config parses, its cache
    * resources register, and the input's own `processors:` come off the
    * input to run on every batch it reads.
    */
  private final case class Prepared(spec: Spec, input: JsonNode,
                                    inputProcessors: Seq[DataFrame => DataFrame]) {
    def read(src: DataFrame): DataFrame =
      inputProcessors.foldLeft(src)((d, p) => p(d))
  }

  private def prepare(spark: SparkSession, configYaml: String,
                      env: Map[String, String]): Prepared = {
    val spec = load(substEnv(configYaml, env))
    registerCaches(spark, spec.cacheResources)
    val (input, procs) = splitInputProcessors(spec.input, env)
    Prepared(spec, input, procs)
  }

  /** The full DataFrame of a prepared config (input + processors). */
  private def frame(spark: SparkSession, p: Prepared,
                    env: Map[String, String]): DataFrame = {
    val src = p.read(compileInputInner(spark, p.input, env))
    val buffered = p.spec.buffer.map(applyBuffer(src, _, env)).getOrElse(src)
    p.spec.processors.foldLeft(buffered)((df, proc) =>
      Processors.compile(proc, env)(df))
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

  private def runCollecting(spark: SparkSession, prepared: Prepared,
                            env: Map[String, String],
                            readings: MetricReadings): DataFrame = {
    val spec = prepared.spec
    val df0 = frame(spark, prepared, env)
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
          exportMetrics(spark, m, rowsAcc.value, readings)
        }))
      case None => (df0, None)
    }
    val startNs = System.nanoTime()
    var runError: Option[String] = None
    try {
      spec.output.foreach(writeOutput(df, _))
      // durable buffer ack: rows delete only after the output lands
      // (a failure above leaves them for the next run to replay)
      spec.buffer.map(one).foreach {
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
        one(t) match {
          case ("jaeger" | "open_telemetry_collector", b) =>
            val endpoint = Option(b.get("collector_url"))
              .orElse(Option(b.get("url"))).map(_.asText)
              .getOrElse(throw new IllegalArgumentException(
                "tracer: collector_url/url required"))
            graft.operators.Tracing.export(endpoint,
              b.path("service_name").asText("graft"),
              Seq(graft.operators.Tracing.Span("pipeline.run",
                System.currentTimeMillis * 1000000L -
                  (System.nanoTime() - startNs),
                System.currentTimeMillis * 1000000L,
                Map("pipeline.output" -> spec.output.map(one(_)._1)
                  .getOrElse("none")),
                statusError = runError)))
          case ("gcp_cloudtrace", b) =>
            graft.operators.Tracing.cloudTraceExport(
              b.get("url").asText, b.path("project").asText("proj"),
              b.path("token").asText(""),
              Seq(graft.operators.Tracing.Span("pipeline.run",
                System.currentTimeMillis * 1000000L -
                  (System.nanoTime() - startNs),
                System.currentTimeMillis * 1000000L,
                Map("pipeline.output" -> spec.output.map(one(_)._1)
                  .getOrElse("none")),
                statusError = runError)))
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
    one(m) match {
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
          b.get("endpoint").asText, awsCreds(b),
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

  /** STREAMING form: the same config shape with a streaming input
    * (`generate: {rate: rowsPerSecond, mapping}` or
    * `file: {path, format, schema}` tail-read) and a streaming output
    * (`memory: {name}` or `parquet: {path, checkpoint}`). Processors are
    * the same vocabulary — they compile to projections/filters that run
    * identically per micro-batch.
    */
  def runStream(spark: SparkSession, configYaml: String,
                env: Map[String, String] = Map.empty): org.apache.spark.sql.streaming.StreamingQuery = {
    val prepared = prepare(spark, configYaml, env)
    val spec = prepared.spec
    graft.streaming.LocalCheckpointFileManager.install(spark)
    val src = one(prepared.input) match {
      case ("generate", b) =>
        Sources.generateStream(spark, b.path("rate").asInt(10),
          b.get("mapping").asText, env)
      case ("file", b) =>
        val fmt = b.path("format").asText("parquet")
        val schema = b.get("schema").asText
        fmt match {
          case "parquet" => Sources.parquetStream(spark, b.get("path").asText, schema)
          case "csv" => Sources.csvStream(spark, b.get("path").asText, schema)
          case other => throw new IllegalArgumentException(s"stream format: $other")
        }
      case ("kafka" | "redpanda" | "kafka_franz" | "redpanda_common", b) =>
        // resumable micro-batch broker read (BrokerSourceProvider):
        // per-partition offsets ride Spark's checkpoint commit log —
        // the consumer-group-commit semantics of inputs/kafka.adoc.
        // mem:// resolves to the in-process transport; real brokers
        // use the native spark-sql-kafka connector (Sources.kafka).
        val addrs = Option(b.get("seed_brokers")).orElse(Option(b.get("addresses")))
          .map(_.elements().asScala.toSeq.map(_.asText))
          .getOrElse(throw new IllegalArgumentException(
            "kafka input needs seed_brokers/addresses"))
        val topics = b.get("topics").elements().asScala.toSeq.map(_.asText)
        addrs.map(a => if (a.contains("://")) a else s"kafka://$a")
          .find(a => a.startsWith("mem://") || a.startsWith("kafka://")) match {
          case Some(mem) =>
            require(topics.size == 1,
              "streaming kafka input: one topic per input (use a broker combinator for fan-in)")
            spark.readStream.format("graft.sources.BrokerSourceProvider")
              .option("address", kafkaAddr(mem,
                kafkaSaslQuery(b).toSeq ++ kafkaIsolationQuery(b).toSeq))
              .option("topic", topics.head).load()
          case None =>
            Sources.kafka(spark, addrs.mkString(","), topics.mkString(","))
        }
      case ("poll", b) =>
        // generic streaming poll form: a pre-registered PollStream
        // poller (offset = cursor, committed via the checkpoint WAL)
        spark.readStream.format("graft.sources.PollSourceProvider")
          .option("poller", b.get("poller").asText).load()
      case ("jira", b) =>
        // streaming jira: one incremental JQL sweep per micro-batch —
        // the reference's continuous poll loop (inputs/jira.adoc)
        val poller = Jira.issuesPoller(b.get("base_url").asText,
          Jira.Auth(b.at("/auth/email").asText,
            b.at("/auth/api_token").asText),
          jql = b.path("jql").asText(""),
          pageSize = b.path("page_size").asInt(50))
        val name = "jira_poll_" + java.util.UUID.randomUUID.toString
        graft.sources.PollStream.register(name, poller)
        spark.readStream.format("graft.sources.PollSourceProvider")
          .option("poller", name).load()
      case ("discord", b) =>
        // streaming discord backfill→follow: cursor = newest message id
        val poller = Discord.poller(b.get("channel_id").asText,
          b.get("bot_token").asText,
          baseUrl = b.path("base_url")
            .asText("https://discord.com/api/v10"),
          limit = b.path("limit").asInt(100))
        val name = "discord_poll_" + java.util.UUID.randomUUID.toString
        graft.sources.PollStream.register(name, poller)
        spark.readStream.format("graft.sources.PollSourceProvider")
          .option("poller", name).load()
      case ("twitter_search", b) =>
        // streaming recent-search: cursor = newest tweet id, stale
        // cursors self-heal through the backfill window
        val poller = Twitter.poller(b.get("query").asText,
          b.at("/api_key").asText, b.at("/api_secret").asText,
          backfillSec = b.path("backfill_period_sec").asLong(300L),
          baseUrl = b.path("base_url").asText("https://api.twitter.com"))
        val name = "twitter_poll_" + java.util.UUID.randomUUID.toString
        graft.sources.PollStream.register(name, poller)
        spark.readStream.format("graft.sources.PollSourceProvider")
          .option("poller", name).load()
      case ("mongodb_cdc", b) =>
        // streaming change-stream poll: cursor = resume token;
        // first micro-batch snapshots, later batches stream
        val poller = MongoCdc.poller(b.get("url").asText,
          b.get("database").asText,
          b.get("collections").elements().asScala.next().asText)
        val name = "mongo_cdc_poll_" + java.util.UUID.randomUUID.toString
        graft.sources.PollStream.register(name, poller)
        spark.readStream.format("graft.sources.PollSourceProvider")
          .option("poller", name).load()
      case ("aws_dynamodb_cdc", b) =>
        // streaming shard poll: cursor = per-shard sequence numbers
        val poller = DynamoCdc.poller(b.get("endpoint").asText,
          awsCreds(b), b.get("table").asText)
        val name = "ddb_cdc_poll_" + java.util.UUID.randomUUID.toString
        graft.sources.PollStream.register(name, poller)
        spark.readStream.format("graft.sources.PollSourceProvider")
          .option("poller", name).load()
      case ("gcp_spanner_cdc", b) =>
        // streaming TVF poll: cursor = per-partition watermarks
        val poller = SpannerCdc.poller(b.get("endpoint").asText,
          b.path("bearer_token").asText("spanner-token"),
          b.get("database").asText, b.get("stream_name").asText)
        val name = "spanner_cdc_poll_" + java.util.UUID.randomUUID.toString
        graft.sources.PollStream.register(name, poller)
        spark.readStream.format("graft.sources.PollSourceProvider")
          .option("poller", name).load()
      case ("salesforce_cdc", b) =>
        // streaming Pub/Sub poll: cursor = newest replay id
        val poller = SalesforceCdc.poller(b.get("host").asText,
          b.get("port").asInt,
          SalesforceCdc.Auth(b.path("access_token").asText("tok"),
            b.path("instance_url").asText(""),
            b.path("tenant_id").asText("")),
          b.get("topic").asText)
        val name = "sfdc_cdc_poll_" + java.util.UUID.randomUUID.toString
        graft.sources.PollStream.register(name, poller)
        spark.readStream.format("graft.sources.PollSourceProvider")
          .option("poller", name).load()
      case ("spicedb_watch", b) =>
        // streaming watch poll: cursor = newest zed token
        val poller = SpiceDb.poller(b.get("host").asText,
          b.get("port").asInt, b.path("bearer_token").asText(""),
          startCursor = Option(b.get("start_cursor")).map(_.asText))
        val name = "spicedb_poll_" + java.util.UUID.randomUUID.toString
        graft.sources.PollStream.register(name, poller)
        spark.readStream.format("graft.sources.PollSourceProvider")
          .option("poller", name).load()
      case (other, _) =>
        throw new IllegalArgumentException(s"streaming input '$other' not supported")
    }
    val df = spec.processors.foldLeft(prepared.read(src))((d, p) =>
      Processors.compile(p, env)(d))
    val out = spec.output.getOrElse(
      throw new IllegalArgumentException("streaming config needs an output"))
    one(out) match {
      case ("memory", b) =>
        df.writeStream.format("memory").queryName(b.get("name").asText)
          .outputMode("append").start()
      case ("parquet", b) =>
        Sinks.parquetStream(df, b.get("path").asText,
          b.get("checkpoint").asText)
      case ("lakehouse", b) =>
        // streaming MERGE per micro-batch — the CDC-apply sink shape
        graft.sinks.Lakehouse.upsertStream(unpackForTable(df, b),
          b.get("table").asText,
          b.get("keys").elements().asScala.toSeq.map(_.asText),
          b.get("checkpoint").asText,
          partitionCols = Option(b.get("partition_by"))
            .map(_.elements().asScala.toSeq.map(_.asText))
            .getOrElse(Seq.empty),
          deleteCol = Option(b.get("delete_column")).map(_.asText))
      case (other, _) =>
        throw new IllegalArgumentException(s"streaming output '$other' not supported")
    }
  }

  private def one(n: JsonNode): (String, JsonNode) = {
    val fields = n.properties().asScala.toSeq
      .filterNot(_.getKey == "label")
    require(fields.size == 1, s"component must have exactly one key: $n")
    (fields.head.getKey, fields.head.getValue)
  }

  private def compileInput(spark: SparkSession, n0: JsonNode,
                           env: Map[String, String]): DataFrame = {
    val (n, post) = splitInputProcessors(n0, env)
    post.foldLeft(compileInputInner(spark, n, env))((d, p) => p(d))
  }

  /** An input without its `processors:`, and those processors compiled:
    * they run on every batch as it is read (components/inputs/about.adoc
    * — site_analytics.yaml counts and deletes at the input).
    */
  private def splitInputProcessors(n0: JsonNode, env: Map[String, String])
      : (JsonNode, Seq[DataFrame => DataFrame]) =
    Option(n0.get("processors")) match {
      case Some(procs) if n0.isObject =>
        val stripped = n0.asInstanceOf[
          com.fasterxml.jackson.databind.node.ObjectNode].deepCopy()
        stripped.remove("processors")
        (stripped, procs.elements().asScala.toSeq.map(Processors.compile(_, env)))
      case _ => (n0, Nil)
    }

  private def compileInputInner(spark: SparkSession, n: JsonNode,
                                env: Map[String, String]): DataFrame =
    one(n) match {
      case ("generate", b) =>
        // count absent = unbounded in the reference (interval-driven);
        // the bounded engine executes ONE interval tick per run —
        // repeated runs are repeated ticks (the stateful_polling.yaml
        // cron shape)
        Sources.generate(spark, b.path("count").asLong(1L),
          b.get("mapping").asText, env)
      case ("file", b) =>
        val path = b.get("path").asText
        b.path("format").asText("lines") match {
          case "csv" => Sources.csv(spark, path)
          case "json" => Sources.jsonLines(spark, path)
          case "parquet" => Sources.parquet(spark, path)
          case "lines" | "" => Sources.lines(spark, path)
          case other => throw new IllegalArgumentException(s"file format: $other")
        }
      case ("batched", b) =>
        // inputs/batched.adoc:110-133 — child input + batch-formation
        // policy; the emitted __batch identity scopes from_all /
        // batch_index / windowed ops downstream
        val child = compileInput(spark, Option(b.get("child")).getOrElse(
          throw new IllegalArgumentException("batched input needs a child")), env)
        val pol = Option(b.get("policy")).getOrElse(
          throw new IllegalArgumentException("batched input needs a policy"))
        val count = pol.path("count").asInt(0)
        val byteSize = pol.path("byte_size").asInt(0)
        val periodMs = Option(pol.get("period")).map(_.asText).filter(_.nonEmpty)
          .map(p => graft.functions.expressions.CodecOps.parseDuration(
            org.apache.spark.unsafe.types.UTF8String.fromString(p)) / 1000000L)
          .getOrElse(0L)
        val checkTpl = Option(pol.get("check")).map(_.asText).filter(_.nonEmpty)
        // ONE driver-ordered stream, like the reference's single-threaded
        // input ack loop (partition-parallel callers use
        // BatchOps.formBatches directly and batch per partition)
        val seqd = (if (child.columns.contains("__seq")) child
                    else child.withColumn("__seq", monotonically_increasing_id()))
          .repartition(1)
        val metaCol = if (seqd.columns.contains("metadata")) Some("metadata") else None
        val withCheck = checkTpl.map(c => seqd.withColumn("__check",
          Blobl.predicateJson(seqd, c, env, metadataCol = metaCol))).getOrElse(seqd)
        val tsCol = if (periodMs > 0 && withCheck.columns.contains("ts"))
          Some("ts") else None
        BatchOps.formBatches(withCheck, "__seq", count, byteSize, periodMs,
            checkTpl.map(_ => "__check"), tsCol)
          .drop("__check")
      case ("kafka" | "redpanda" | "kafka_franz" | "redpanda_common", b) =>
        // inputs/kafka.adoc / input_redpanda.go:103 — `mem://` seed
        // brokers resolve to the in-process Broker fake (the injectable
        // transport seam); real brokers need the spark-sql-kafka
        // connector jar (Sources.kafka, streaming)
        val addrs = Option(b.get("seed_brokers")).orElse(Option(b.get("addresses")))
          .map(_.elements().asScala.toSeq.map(_.asText))
          .getOrElse(throw new IllegalArgumentException(
            "kafka input needs seed_brokers/addresses"))
        val topics0 = b.get("topics").elements().asScala.toSeq.map(_.asText)
        addrs.find(a => a.startsWith("mem://") || a.startsWith("kafka://")) match {
          case Some(mem0) =>
            val mem = kafkaAddr(mem0,
              kafkaSaslQuery(b).toSeq ++ kafkaIsolationQuery(b).toSeq)
            // `regexp_topics: true` (inputs/kafka.adoc): the topic list
            // is regex patterns matched against the broker's metadata
            val topics =
              if (b.path("regexp_topics").asBoolean(false))
                Broker.transportFor(mem).listTopics()
                  .filter(t => topics0.exists(p => t.matches(p)))
              else topics0
            require(topics.nonEmpty,
              s"kafka input: no topics match ${topics0.mkString(", ")}")
            val read =
              Sources.broker(topics.map(t => Sources.brokerRead(spark, mem, t)))
            // `batching:` count/period policy at the input — batch
            // identity scopes group_by_value / batch_index downstream
            // period has no effect on a bounded snapshot (all messages
            // of the replay share one instant) — count is the operative
            // bound, exactly like the batched input without event time
            Option(b.get("batching")).filterNot(_.isEmpty)
              .filter(_.path("count").asInt(0) > 0) match {
              case Some(pol) =>
                BatchOps.formBatches(
                  read.withColumn("__gseq", monotonically_increasing_id()),
                  "__gseq", pol.path("count").asInt(0), 0, 0, None,
                  None).drop("__gseq")
              case None => read
            }
          case None =>
            // batch runner → bounded earliest→latest scan, NOT the
            // streaming source (a readStream frame can't be executed by
            // the batch processors/writeOutput path)
            Sources.kafkaBatch(spark, addrs.mkString(","), topics0.mkString(","))
        }
      case ("socket", b) =>
        // inputs/socket.adoc (client mode): connect and read
        // newline-delimited messages to EOF
        Tcp.read(spark, b.get("address").asText)
      case ("inproc", b) =>
        // inputs/inproc.adoc — consume the frame an inproc output of a
        // sibling pipeline registered under this id (temp-view handoff,
        // the streams-mode wiring)
        spark.table("inproc_" + b.asText)
      case ("sequence", b) =>
        // inputs/sequence.adoc — children consumed in order, first to
        // exhaustion then the next; bounded form = ordered concat
        val kids = Option(b.get("inputs")).getOrElse(
          throw new IllegalArgumentException("sequence needs inputs"))
          .elements().asScala.toSeq
        kids.map(k => compileInput(spark, k, env))
          .reduce(_.unionByName(_, allowMissingColumns = true))
      case ("stdin", _) =>
        // inputs/stdin.adoc — bounded snapshot: read standard input to
        // EOF, one message per line (the lines scanner default)
        val lines = Iterator.continually(scala.io.StdIn.readLine())
          .takeWhile(_ != null).toSeq
        import spark.implicits._
        lines.zipWithIndex.map { case (l, i) => (l, i.toLong) }
          .toDF("value", "__seq")
      case ("nats_kv", b) =>
        // inputs/nats_kv.adoc — bounded watch: current live entry per
        // key with nats_kv_* metadata
        val urls = b.get("urls").elements().asScala.toSeq.map(_.asText)
        val mem = urls.find(_.startsWith("mem://")).getOrElse(
          throw new IllegalArgumentException(
            "nats_kv: only mem:// transports exist in this environment"))
        NatsKv.read(spark, mem, b.get("bucket").asText)
      case ("pulsar", b) =>
        // inputs/pulsar.adoc — partitioned-topic consume over the
        // broker seam with the pulsar_* metadata contract
        val url = b.get("url").asText
        require(url.startsWith("mem://"),
          "pulsar: only mem:// transports exist in this environment")
        val topics = b.get("topics").elements().asScala.toSeq.map(_.asText)
        topics.map(t => Sources.pulsarRead(spark, url, t))
          .reduce(_.unionByName(_))
      case ("amqp_0_9", b) =>
        // inputs/amqp_0_9.adoc — consume ONE queue (FIFO); optional
        // queue_declare + bindings_declare set up topology first.
        // mem:// resolves to the in-process Mq fake (transport seam).
        val urls = Option(b.get("urls"))
          .map(_.elements().asScala.toSeq.map(_.asText))
          .getOrElse(throw new IllegalArgumentException("amqp_0_9 needs urls"))
        val queue = b.get("queue").asText
        val mem = urls.find(_.startsWith("mem://")).getOrElse(
          throw new IllegalArgumentException(
            "amqp_0_9: only mem:// transports exist in this environment"))
        val t = Mq.transportFor(mem)
        if (b.path("queue_declare").path("enabled").asBoolean(false))
          t.declareQueue(queue)
        Option(b.get("bindings_declare")).foreach(_.elements().asScala.foreach {
          bd =>
            t.declareQueue(queue)
            t.bind(bd.get("exchange").asText,
              Option(bd.get("key")).map(_.asText).getOrElse(""), queue)
        })
        Mq.amqpRead(spark, mem, queue)
      case (kind @ ("nats" | "nats_jetstream" | "mqtt"), b) =>
        // inputs/nats.adoc, inputs/nats_jetstream.adoc, inputs/mqtt.adoc
        // — subject/topic-filtered reads from the replayable subject
        // log (PubSub seam); NATS `*`/`>` and MQTT `+`/`#` wildcards
        val urls = Option(b.get("urls"))
          .map(_.elements().asScala.toSeq.map(_.asText))
          .getOrElse(throw new IllegalArgumentException(s"$kind needs urls"))
        val mem = urls.find(_.startsWith("mem://")).getOrElse(
          throw new IllegalArgumentException(
            s"$kind: only mem:// transports exist in this environment"))
        val style = if (kind == "mqtt") "mqtt" else "nats"
        val pattern =
          if (kind == "mqtt")
            b.get("topics").elements().asScala.toSeq.map(_.asText) match {
              case Seq(onlyOne) => onlyOne
              case many => throw new IllegalArgumentException(
                s"mqtt input: one topic filter per input, got $many")
            }
          else b.get("subject").asText
        PubSub.read(spark, style, mem, pattern)
      case ("http_client", b) =>
        // inputs/http_client.adoc — bounded paginated poll over the
        // pluggable client (stub:// = offline echo)
        val url = b.get("url").asText
        HttpClient.read(spark, url,
          verb = b.path("verb").asText("GET"),
          headers = Option(b.get("headers")).map(_.properties().asScala
            .map(e => (e.getKey, e.getValue.asText)).toMap)
            .getOrElse(Map.empty),
          payload = b.path("payload").asText(""),
          streamLines = b.at("/stream/enabled").asBoolean(false),
          maxRequests = b.path("max_requests").asInt(100))
      case ("jira", b) =>
        // inputs/jira.adoc — incremental JQL poll (one catch-up sweep
        // in batch form); mem:// base URLs resolve to a registered
        // test client; cursor.cache must name a FILE cache resource
        // (the only backend writable across runs here)
        val baseUrl = b.get("base_url").asText
        val auth = Jira.Auth(b.at("/auth/email").asText,
          b.at("/auth/api_token").asText)
        val cursorOpt = Option(b.at("/cursor/cache"))
          .filterNot(_.isMissingNode).map(_.asText).filter(_.nonEmpty)
          .map { lbl =>
            val dir = fileCacheDirs.getOrElse(lbl,
              throw new IllegalArgumentException(
                s"jira: cursor.cache '$lbl' must be a file cache resource"))
            (new Jira.FileStore(dir): Jira.CursorStore,
              b.at("/cursor/key").asText match {
                case "" => "jira_cursor"; case k => k })
          }
        Jira.read(spark, baseUrl, auth,
          resource = b.path("resource").asText("issues"),
          jql = b.path("jql").asText(""),
          fields = Option(b.get("fields")).map(_.elements().asScala.toSeq
            .map(_.asText)).getOrElse(Seq("*all")),
          expand = Option(b.get("expand")).map(_.elements().asScala.toSeq
            .map(_.asText)).getOrElse(Seq.empty),
          pageSize = b.path("page_size").asInt(50),
          overlapMs = durMs(Option(b.at("/cursor/overlap"))
            .filterNot(_.isMissingNode).map(_.asText)
            .filter(_.nonEmpty).getOrElse("60s")),
          cursor = cursorOpt)
      case ("schema_registry", b) =>
        // inputs/schema_registry.adoc — bulk subject/version walk
        SchemaRegistryIO.read(spark, b.get("url").asText,
          subjectFilter = b.path("subject_filter").asText(""),
          includeDeleted = b.path("include_deleted").asBoolean(false),
          fetchInOrder = b.path("fetch_in_order").asBoolean(true))
      case ("twitter_search", b) =>
        // twitter search template contract as a first-class input;
        // `cache` must name a file cache resource (writable cursor)
        val cur = Option(b.get("cache")).map(_.asText).filter(_.nonEmpty)
          .map { lbl =>
            val dir = fileCacheDirs.getOrElse(lbl,
              throw new IllegalArgumentException(
                s"twitter_search: cache '$lbl' must be a file cache resource"))
            (new Cursors.FileStore(dir): Cursors.Store,
              b.path("cache_key").asText("last_tweet_id"))
          }
        Twitter.searchRead(spark, b.get("query").asText,
          apiKey = b.get("api_key").asText,
          apiSecret = b.get("api_secret").asText,
          tweetFields = Option(b.get("tweet_fields"))
            .map(_.elements().asScala.toSeq.map(_.asText))
            .getOrElse(Seq.empty),
          backfillSec = durMs(b.path("backfill_period").asText("5m")) / 1000,
          cursor = cur,
          baseUrl = b.path("base_url").asText("https://api.twitter.com"))
      case ("discord", b) =>
        // inputs/discord.adoc — REST backfill sweep from the cached
        // last_message_id (the gateway-websocket half is env-blocked);
        // `cache` must name a file cache resource (writable)
        val cur = Option(b.get("cache")).map(_.asText).filter(_.nonEmpty)
          .map { lbl =>
            val dir = fileCacheDirs.getOrElse(lbl,
              throw new IllegalArgumentException(
                s"discord: cache '$lbl' must be a file cache resource"))
            (new Cursors.FileStore(dir): Cursors.Store,
              b.path("cache_key").asText("last_message_id"))
          }
        Discord.read(spark, b.get("channel_id").asText,
          b.get("bot_token").asText, cursor = cur,
          baseUrl = b.path("base_url")
            .asText("https://discord.com/api/v10"),
          limit = b.path("limit").asInt(100))
      case ("splunk", b) =>
        // inputs/splunk.adoc — one Search API export POST, one message
        // per NDJSON line
        Splunk.searchRead(spark, b.get("url").asText,
          b.get("user").asText, b.get("password").asText,
          b.get("query").asText)
      case ("slack_users", b) =>
        // inputs/slack_users.adoc — users.list cursor walk; base_url
        // is the seam extension (mem:// = registered test transport)
        Slack.usersRead(spark, b.get("bot_token").asText,
          teamId = b.path("team_id").asText(""),
          baseUrl = b.path("base_url").asText("https://slack.com"))
      case (kind @ ("redis_scan" | "redis_list" | "redis_pubsub" |
                    "redis_streams"), b) =>
        // inputs/redis_{scan,list,pubsub,streams}.adoc over the
        // Redis store seam (mem:// = in-process fake)
        val url = Option(b.get("url")).map(_.asText).getOrElse(
          throw new IllegalArgumentException(s"$kind needs url"))
        kind match {
          case "redis_scan" =>
            Redis.scanRead(spark, url, Option(b.get("match")).map(_.asText)
              .filter(_.nonEmpty).getOrElse("*"))
          case "redis_list" =>
            Redis.listRead(spark, url, b.get("key").asText)
          case "redis_pubsub" =>
            Redis.pubsubRead(spark, url,
              b.get("channels").elements().asScala.toSeq.map(_.asText),
              b.path("use_patterns").asBoolean(false))
          case "redis_streams" =>
            Redis.streamsRead(spark, url,
              b.get("streams").elements().asScala.toSeq.map(_.asText),
              b.path("body_key").asText("body"))
        }
      case ("salesforce", b) =>
        // inputs/salesforce.adoc — one SOQL extract, one message per
        // record. Config-form DIVERGENCE: `args` is a static literal
        // list (the adoc's args_mapping is a startup-time Bloblang eval
        // with no message context; the static list covers the same
        // placeholder substitution without an interpreter dependency)
        def sfArg(n: JsonNode): Any =
          if (n.isNull) null
          else if (n.isBoolean) n.asBoolean()
          else if (n.isIntegralNumber) n.asLong()
          else if (n.isNumber) n.asDouble()
          else n.asText()
        Salesforce.read(spark, b.get("org_url").asText,
          clientId = b.get("client_id").asText,
          clientSecret = b.get("client_secret").asText,
          obj = b.get("object").asText,
          columns = b.get("columns").elements().asScala.toSeq.map(_.asText),
          where = b.path("where").asText(""),
          args = Option(b.get("args")).map(_.elements().asScala.toSeq
            .map(sfArg)).getOrElse(Seq.empty),
          prefix = b.path("prefix").asText(""),
          suffix = b.path("suffix").asText(""),
          apiVersion = b.path("api_version").asText("v65.0"))
      case ("postgres_cdc" | "pg_stream", b) =>
        // inputs/postgres_cdc.adoc (pg_stream is the deprecated alias,
        // inputs/pg_stream.adoc) — the reference's flagship connector.
        // A live START_REPLICATION socket is env-blocked here, so the
        // input replays a RECORDED pgoutput stream (wal_file: length-
        // prefixed CopyData frames) through the same native wire
        // decoder (PgOutput), emitting the StreamMessage envelope shape
        // frameFile + the chunked admission inside `changes` keep the
        // replay O(admit-chunk) driver heap at snapshot scale
        graft.sources.PgOutput.changes(spark,
          graft.sources.PgOutput.frameFile(b.get("wal_file").asText))
      case ("cassandra", b) =>
        // inputs/cassandra.adoc — one SELECT, one message per row
        val addr = b.get("addresses").elements().asScala.toSeq
          .map(_.asText).find(_.startsWith("mem://")).getOrElse(
            throw new IllegalArgumentException(
              "cassandra: only mem:// loopback servers exist here"))
        Cassandra.read(spark, addr, b.get("query").asText)
      case ("hdfs", b) =>
        // inputs/hdfs.adoc — one message per file in the directory
        // (WebHDFS LISTSTATUS + OPEN; the native RPC needs hadoop jars)
        graft.sources.Hdfs.read(spark, b.get("url").asText,
          b.get("directory").asText)
      case ("mongodb", b) =>
        // inputs/mongodb.adoc — one find/aggregate cursor walk, one
        // message per document (BSON + OP_MSG over the mem:// loopback)
        Mongo.read(spark, b.get("url").asText,
          b.get("database").asText, b.get("collection").asText,
          queryJson = b.path("query").asText("{}"),
          operation = b.path("operation").asText("find"),
          sortJson = b.path("sort").asText(""),
          batchSize = b.path("batch_size").asInt(101))
      case ("websocket", b) =>
        // inputs/websocket.adoc — bounded drain over the RFC 6455 stack
        WebSocket.read(spark, b.get("url").asText,
          headers = Option(b.get("headers")).map(_.properties().asScala
            .map(e => (e.getKey, e.getValue.asText)).toMap)
            .getOrElse(Map.empty),
          openMessage = Option(b.get("open_message")).map(_.asText))
      case ("mysql_cdc", b) =>
        // mysql_cdc (internal/impl/mysql) — a live replication socket
        // is env-blocked, so the input replays a RECORDED binlog file
        // through the native event decoder (MySqlBinlog). Column
        // names/signedness/enum literals are not on the wire: the
        // `tables` block registers them, the config-form analogue of
        // the reference's information_schema lookup (schema.go)
        import graft.sources.MySqlBinlog
        val schemas = b.get("tables").elements().asScala.map { t =>
          val db = t.path("db").asText("")
          val nm = t.get("name").asText
          val cols = t.get("columns").elements().asScala.map(c =>
            MySqlBinlog.ColDef(c.get("name").asText,
              c.get("type").asText)).toVector
          s"$db.$nm" -> MySqlBinlog.TableDef(db, nm, cols)
        }.toMap
        MySqlBinlog.changes(spark,
          MySqlBinlog.readBinlogFile(b.get("binlog_file").asText),
          schemas)
      case ("zmq4", b) =>
        // inputs/zmq4.adoc — bounded drain over the ZMTP 3.0 stack
        val url0 = b.get("urls").elements().asScala.next().asText
        val uri = java.net.URI.create(url0)
        graft.sources.Zmtp.read(spark, uri.getHost, uri.getPort,
          b.get("socket_type").asText,
          count = b.path("count").asInt(0) match {
            case 0 => throw new IllegalArgumentException(
              "zmq4: a bounded batch read needs count")
            case n => n
          },
          subFilters = Option(b.get("sub_filters")).map(
            _.elements().asScala.toSeq.map(_.asText)).getOrElse(Nil))
      case ("sftp", b) =>
        // inputs/sftp.adoc — one message per file, over the real SSH2
        // + SFTP v3 stack (address host:port, password credentials)
        val Array(host, portS) = b.get("address").asText.split(":", 2)
        graft.sources.Sftp.read(spark, host, portS.toInt,
          b.at("/credentials/username").asText(""),
          b.at("/credentials/password").asText(""),
          b.get("paths").elements().asScala.toSeq.headOption
            .map(_.asText).getOrElse("/"))
      case ("gcp_cloud_storage", b) =>
        // inputs/gcp_cloud_storage.adoc — bucket/prefix scan over the
        // JSON API, one message per object
        graft.sources.Gcs.read(spark, b.get("endpoint").asText,
          b.path("token").asText(""), b.get("bucket").asText,
          prefix = b.path("prefix").asText(""))
      case ("azure_blob_storage", b) =>
        // inputs/azure_blob_storage.adoc — container/prefix scan, one
        // message per blob over the Shared Key REST protocol
        graft.sources.AzureBlob.read(spark, b.get("endpoint").asText,
          graft.sources.AzureBlob.Account(
            b.path("storage_account").asText(""),
            b.path("storage_access_key").asText("")),
          b.get("container").asText,
          prefix = b.path("prefix").asText(""))
      case ("aws_s3", b) =>
        // inputs/aws_s3.adoc — bucket/prefix scan, one message per
        // object; endpoint selects the wire target (mem:// loopback
        // with SigV4 verification, or a real S3-compatible endpoint)
        graft.sources.S3.read(spark, b.get("endpoint").asText,
          graft.sources.S3.Credentials(
            b.at("/credentials/id").asText(""),
            b.at("/credentials/secret").asText(""),
            b.path("region").asText("us-east-1")),
          b.get("bucket").asText,
          prefix = b.path("prefix").asText(""))
      case ("git", b) =>
        // inputs/git.adoc — one message per file at the branch head,
        // read through the native object-store reader (a remote
        // repository_url clone needs egress; local paths work)
        graft.sources.GitRepo.read(spark,
          b.get("repository_url").asText
            .stripPrefix("file://"),
          branchName = b.path("branch").asText(""),
          include = Option(b.get("include_patterns")).map(
            _.elements().asScala.toSeq.map(_.asText)).getOrElse(Nil),
          exclude = Option(b.get("exclude_patterns")).map(
            _.elements().asScala.toSeq.map(_.asText)).getOrElse(Nil),
          maxFileSize = b.path("max_file_size").asLong(0L))
      case ("timeplus", b) =>
        // inputs/timeplus.adoc — one message per query result row
        graft.sources.Timeplus.read(spark, b.get("url").asText,
          b.get("query").asText,
          workspace = b.path("workspace").asText("default"),
          apikey = b.path("apikey").asText(""))
      case ("oracledb_cdc", b) =>
        // internal/impl/oracledb — a live LogMiner session is
        // env-blocked (no Oracle engine); the input replays a RECORDED
        // V$LOGMNR_CONTENTS stream (redo_file: JSON lines) through the
        // same SQL_REDO parser + XID transaction cache
        import graft.sources.OracleCdc
        val rows = OracleCdc.readRedoFile(b.get("redo_file").asText)
        val table = b.get("table").asText
        val cols = b.get("columns").elements().asScala.toSeq.map(_.asText)
        val chg = OracleCdc.changes(spark, rows, table, cols)
        chg.select(
          to_json(struct(cols.map(col): _*)).as("value"),
          map(lit("table"), lit(table),
            lit("operation"), col("__op"),
            lit("ord"), col("__ord").cast("string")).as("metadata"),
          lit(null).cast("string").as("error"))
      case ("microsoft_sql_server_cdc", b) =>
        // input_mssqlserver_cdc.go — SQL Server CDC is a polled SQL
        // surface: change tables + LSN windows. The connection_string
        // is a JDBC url (embedded Derby runs the same queries through
        // the dialect seam; a real SQL Server url selects the
        // reference's exact bracket-quoted/NOLOCK text)
        import graft.sources.MsSqlCdc
        val url = b.get("connection_string").asText
        val dialect =
          if (url.contains(":derby:")) MsSqlCdc.DerbyDialect
          else MsSqlCdc.MsSqlDialect
        val tables = b.get("include").elements().asScala.toSeq.map { t =>
          val parts = t.asText.split("\\.", 2)
          if (parts.length == 2) MsSqlCdc.TableRef(parts(0), parts(1))
          else MsSqlCdc.TableRef("dbo", parts(0))
        }
        require(tables.nonEmpty, "microsoft_sql_server_cdc: include " +
          "must name at least one schema.table")
        val to = MsSqlCdc.maxLsn(url, tables, dialect)
          .getOrElse(MsSqlCdc.ZeroLsn)
        val parts = tables.map { t =>
          val chg = MsSqlCdc.changes(spark, url, t, None, to, dialect)
          val snap =
            if (b.path("stream_snapshot").asBoolean(false))
              MsSqlCdc.snapshot(spark, url, t, dialect)
                .unionByName(chg, allowMissingColumns = true)
            else chg
          val payload = snap.columns
            .filterNot(Set("operation", "__op", "__lsn", "__cmd"))
            .map(c => col(c).as(c.toLowerCase))
          snap.select(
            to_json(struct(payload: _*)).as("value"),
            map(lit("database_schema"), lit(t.schema),
              lit("table"), lit(t.name),
              lit("operation"), col("operation"),
              lit("lsn"), col("__lsn")).as("metadata"),
            lit(null).cast("string").as("error"))
        }
        parts.reduce(_ unionByName _)
      case ("aws_sqs", b) =>
        // inputs/aws_sqs.adoc — url names the queue; mem:// resolves
        // the in-process transport (the real service needs its SDK)
        val (addr, queue) = splitQueueUrl(b.get("url").asText)
        CloudQueue.sqsRead(spark, addr, queue,
          visibilityTimeoutMs = durMs(b, "visibility_timeout", 30000L),
          deleteMessage = b.path("delete_message").asBoolean(true))
      case ("gcp_pubsub", b) =>
        // inputs/gcp_pubsub.adoc — project routes to the transport
        // registry (mem://name), subscription selects the pull stream
        CloudQueue.pubsubRead(spark, b.get("project").asText,
          b.get("subscription").asText,
          ackDeadlineMs = durMs(b, "ack_deadline", 30000L))
      case ("aws_kinesis", b) =>
        // inputs/aws_kinesis.adoc — streams: [name...]; shard=partition
        Kinesis.read(spark, b.get("url").asText,
          b.get("streams").elements().asScala.toSeq.map(_.asText))
      case ("nsq", b) =>
        // inputs/nsq.adoc — one topic+channel per input; channel
        // consumers compete, FIN-on-emit
        val addrs = b.get("nsqd_tcp_addresses").elements().asScala.toSeq
          .map(_.asText)
        val mem = addrs.find(_.startsWith("mem://")).getOrElse(
          throw new IllegalArgumentException(
            "nsq: only mem:// transports exist in this environment"))
        Nsq.read(spark, mem, b.get("topic").asText, b.get("channel").asText)
      case ("beanstalkd", b) =>
        // inputs/beanstalkd.adoc — reserve → emit → delete on one tube
        Beanstalkd.read(spark, b.get("address").asText)
      case ("azure_queue_storage", b) =>
        // inputs/azure_queue_storage.adoc — storage_account routes to
        // the transport registry; track_properties adds message-lag
        AzureQueue.read(spark, b.get("storage_account").asText,
          b.get("queue_name").asText,
          visibilityTimeoutMs =
            durMs(b, "dequeue_visibility_timeout", 30000L),
          trackProperties = b.path("track_properties").asBoolean(false))
      case ("mongodb_cdc", b) =>
        // inputs/mongodb_cdc.adoc — snapshot-then-stream change events
        MongoCdc.read(spark, b.get("url").asText,
            b.get("database").asText,
            b.get("collections").elements().asScala.toSeq.map(_.asText),
            streamSnapshot = b.path("stream_snapshot").asBoolean(true),
            snapshotParallelism =
              b.path("snapshot_parallelism").asInt(1),
            checkpointPath = Option(b.get("checkpoint_cache"))
              .map(_.asText))
          .toDF()
      case ("aws_dynamodb_cdc", b) =>
        // inputs/aws_dynamodb_cdc.adoc — segmented snapshot + shard
        // lineage streams over the SigV4-verified JSON protocol.
        // `tables:` is the documented list form; the single-table
        // engine reads its head. `checkpoint_table` stores checkpoints
        // in DynamoDB itself (auto-created; `global_table` +
        // `global_table_replicas` provision it as a Global Table v2
        // for cross-region failover resume — adoc:144,178).
        val dEndpoint = awsEndpoint(b, env, "DYNAMODB")
        val dCreds = awsCreds(b)
        val dTable = Option(b.get("table")).map(_.asText).getOrElse(
          b.get("tables").elements().asScala.next().asText)
        val ckStore = Option(b.get("checkpoint_table")).map(_.asText)
          .map { ct =>
            new DynamoCdc.DynamoCkptStore(dEndpoint, dCreds, ct, dTable,
              globalTable = b.path("global_table").asBoolean(false),
              replicas = Option(b.get("global_table_replicas"))
                .map(_.elements().asScala.toSeq.map(_.asText))
                .getOrElse(Nil)): DynamoCdc.CkptStore
          }
        val dEvents = DynamoCdc.read(spark, dEndpoint, dCreds, dTable,
            snapshotSegments = b.path("snapshot_segments").asInt(4),
            checkpointPath = Option(b.get("checkpoint_cache"))
              .map(_.asText),
            streamSnapshot = b.path("stream_snapshot").asBoolean(true),
            checkpoint = ckStore)
          .toDF()
        // message shape + metadata per input_cdc.go:2256-2295 and the
        // adoc Metadata section (snapshot records: READ, empty
        // shard/sequence/creation-time)
        val isSnap = col("operation") === "read"
        dEvents.select(
          to_json(struct(
            lit(dTable).as("tableName"),
            upper(col("operation")).as("eventName"),
            struct(
              try_parse_json(col("keys")).as("keys"),
              try_parse_json(col("newImage")).as("newImage"),
              try_parse_json(col("oldImage")).as("oldImage"),
              when(isSnap, lit(null).cast("string"))
                .otherwise(col("seq").cast("string"))
                .as("sequenceNumber")).as("dynamodb"))).as("value"),
          map(
            lit("dynamodb_shard_id"), coalesce(col("shard"), lit("")),
            lit("dynamodb_sequence_number"),
            when(isSnap, lit("")).otherwise(col("seq").cast("string")),
            lit("dynamodb_approximate_creation_time"),
            when(isSnap || col("tsSec") === 0.0, lit("")).otherwise(
              date_format(timestamp_seconds(col("tsSec")),
                "yyyy-MM-dd'T'HH:mm:ssXXX")),
            lit("dynamodb_event_name"), upper(col("operation")),
            lit("dynamodb_table"), lit(dTable)).as("metadata"),
          lit(null).cast("string").as("error"),
          monotonically_increasing_id().as("__seq"))
      case ("gcp_spanner_cdc", b) =>
        // inputs/gcp_spanner_cdc.adoc — change-stream TVF partitions
        // with per-partition watermarks
        SpannerCdc.read(spark, b.get("endpoint").asText,
            b.path("bearer_token").asText("spanner-token"),
            b.get("database").asText, b.get("stream_name").asText,
            checkpointPath = Option(b.get("checkpoint_cache"))
              .map(_.asText))
          .toDF()
      case ("salesforce_cdc", b) =>
        // inputs/salesforce_cdc.adoc — Pub/Sub Subscribe with Avro
        // payloads and replay-id resume
        SalesforceCdc.read(spark, b.get("host").asText,
            b.get("port").asInt,
            SalesforceCdc.Auth(b.path("access_token").asText("tok"),
              b.path("instance_url").asText(""),
              b.path("tenant_id").asText("")),
            b.get("topic").asText,
            checkpointPath = Option(b.get("checkpoint_cache"))
              .map(_.asText))
          .toDF()
      case ("salesforce_graphql", b) =>
        // inputs/salesforce_graphql.adoc — UIAPI edges/pageInfo walk
        SalesforceApi.graphqlRead(spark, b.get("org_url").asText,
          b.path("client_id").asText(""),
          b.path("client_secret").asText(""),
          b.get("query").asText,
          variablesJson = b.path("variables").asText("{}"))
      case ("spicedb_watch", b) =>
        // inputs/spicedb_watch.adoc — Watch RPC with zed-token cache
        SpiceDb.watch(spark, b.get("host").asText, b.get("port").asInt,
            b.path("bearer_token").asText(""),
            cachePath = Option(b.get("cache")).map(_.asText),
            startCursor = Option(b.get("start_cursor")).map(_.asText))
          .toDF()
      case ("aws_cloudwatch_logs", b) =>
        // inputs/aws_cloudwatch_logs.adoc — FilterLogEvents page walk.
        // start_time accepts RFC3339, "now", or epoch millis
        val startMs = b.path("start_time").asText("") match {
          case "" => 0L
          case "now" => System.currentTimeMillis()
          case t if t.forall(_.isDigit) => t.toLong
          case t => java.time.Instant.parse(t).toEpochMilli
        }
        CloudWatch.logsRead(spark, awsEndpoint(b, env, "CLOUDWATCH_LOGS"),
          awsCreds(b), b.get("log_group_name").asText,
          streamNames = Option(b.get("log_stream_names"))
            .map(_.elements().asScala.toSeq.map(_.asText))
            .getOrElse(Nil),
          streamPrefix = Option(b.get("log_stream_prefix"))
            .map(_.asText).orNull,
          startTime = startMs,
          filterPattern = Option(b.get("filter_pattern"))
            .map(_.asText).orNull,
          structuredLog = b.path("structured_log").asBoolean(true))
      case ("amqp_1", b) =>
        // inputs/amqp_1.adoc — drain one receiver link over the native
        // AMQP 1.0 stack; url = amqp://host:port (loopback Amqp1.Server)
        val (h1, p1) = hostPort(Option(b.get("url")).map(_.asText)
          .getOrElse(throw new IllegalArgumentException(
            "amqp_1 input needs url")))
        Amqp1.read(spark, h1, p1, b.get("source_address").asText,
          max = b.path("max_in_flight").asInt(10000),
          user = b.at("/sasl/user").asText(null),
          pass = b.at("/sasl/password").asText(null))
      case ("broker", b) =>
        // inputs/broker.adoc — child inputs merged into one stream;
        // `copies` replicates the whole set (the reference's
        // consumer-parallelism knob — literal duplicate consumption
        // in the bounded form)
        val kids = Option(b.get("inputs")).getOrElse(
          throw new IllegalArgumentException("broker input needs inputs"))
          .elements().asScala.toSeq
        require(kids.nonEmpty, "broker input needs inputs")
        val copies = b.path("copies").asInt(1)
        Sources.broker(Seq.fill(copies)(kids).flatten
          .map(k => compileInput(spark, k, env)))
      case ("cockroachdb_changefeed", b) =>
        // inputs/cockroachdb_changefeed.adoc — the Core Changefeed
        // statement executes against the mem:// MVCC cluster seam (a
        // live rangefeed socket is env-blocked); cursor resume rides a
        // file cache resource under `cursor_cache`
        val crdbStore = Option(b.get("cursor_cache")).map(_.asText)
          .filter(_.nonEmpty).map { lbl =>
            val dir = fileCacheDirs.getOrElse(lbl,
              throw new IllegalArgumentException(
                s"cockroachdb_changefeed: cursor_cache '$lbl' must be a file cache resource"))
            new Cursors.FileStore(dir): Cursors.Store
          }.orNull
        Cockroach.read(spark,
          Cockroach.clusterFor(b.get("dsn").asText).feed,
          b.get("tables").elements().asScala.toSeq.map(_.asText),
          Option(b.get("options")).map(_.elements().asScala.toSeq
            .map(_.asText)).getOrElse(Nil),
          crdbStore)
      case ("nanomsg", b) =>
        // inputs/nanomsg.adoc — bounded drain over SP-on-TCP (PULL or
        // SUB); the bounded batch form needs an explicit message
        // budget (`count` — a live stream has no natural end)
        val (nh, np) = hostPort(b.get("urls").elements().asScala.toSeq
          .map(_.asText).head)
        Nanomsg.read(spark, nh, np,
          b.path("socket_type").asText("PULL").toUpperCase,
          count = Option(b.get("count")).map(_.asInt).getOrElse(
            throw new IllegalArgumentException(
              "nanomsg input needs count (bounded drain budget)")),
          subFilters = Option(b.get("sub_filters")).map(_.elements()
            .asScala.toSeq.map(_.asText)).getOrElse(Nil))
      case ("otlp_http", b) =>
        // inputs/otlp_http.adoc — `address` resolves to the live
        // loopback collector; accepted exports unbatch to one row per
        // span / log record / metric point
        val osrv = Otlp.HttpServer.serverAt(b.path("address").asText(""))
          .getOrElse(throw new IllegalArgumentException(
            "otlp_http: no live collector at this address (start Otlp.HttpServer first)"))
        Otlp.unbatchDf(osrv.drain(spark))
      case ("otlp_grpc", b) =>
        // inputs/otlp_grpc.adoc — same drain over the h2c gRPC stack
        val gsrv = OtlpGrpc.GrpcServer.serverAt(b.path("address").asText(""))
          .getOrElse(throw new IllegalArgumentException(
            "otlp_grpc: no live collector at this address (start OtlpGrpc.GrpcServer first)"))
        Otlp.unbatchDf(gsrv.drain(spark))
      case ("read_until", b) =>
        // inputs/read_until.adoc — consume the child until a message
        // passes `check`; the triggering row is kept and tagged
        // benthos_read_until=final
        val ruChild0 = compileInput(spark, Option(b.get("input"))
          .getOrElse(throw new IllegalArgumentException(
            "read_until needs input")), env)
        Option(b.get("check")).map(_.asText).filter(_.nonEmpty) match {
          case None => ruChild0
          case Some(c) =>
            val withSeq =
              if (ruChild0.columns.contains("__seq")) ruChild0
              else ruChild0.withColumn("__seq",
                monotonically_increasing_id())
            val ruChild = graft.sources.Envelope.ensure(withSeq)
            val pred = Blobl.predicateJson(ruChild, c, env,
              metadataCol = Some("metadata"))
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(lit(1))
            val cut = min(when(pred, col("__seq"))).over(w)
            val emptyMeta = map().cast("map<string,string>")
            ruChild.withColumn("__cut", cut)
              .filter(col("__cut").isNull || col("__seq") <= col("__cut"))
              .withColumn("metadata",
                when(col("__seq") === col("__cut"),
                  map_concat(coalesce(col("metadata"), emptyMeta),
                    map(lit("benthos_read_until"), lit("final"))))
                  .otherwise(col("metadata")))
              .drop("__cut")
        }
      case ("redpanda_migrator", b) =>
        // inputs/redpanda_migrator.adoc — consume the SOURCE cluster's
        // topics (kafka-shaped rows; topic rides metadata so the
        // paired output can write to matching topics). Schema/ACL sync
        // is Migrator.migrate — the whole-pipeline form.
        val mAddrs = Option(b.get("seed_brokers"))
          .map(_.elements().asScala.toSeq.map(_.asText))
          .getOrElse(throw new IllegalArgumentException(
            "redpanda_migrator input needs seed_brokers"))
        val mMem = mAddrs.find(_.startsWith("mem://")).getOrElse(
          throw new IllegalArgumentException(
            "redpanda_migrator: only mem:// clusters exist in this environment"))
        val mTopics = Option(b.get("topics")).map(_.elements().asScala
          .toSeq.map(_.asText))
          .getOrElse(graft.sources.Broker.transportFor(mMem).listTopics())
        require(mTopics.nonEmpty, "redpanda_migrator: source has no topics")
        Sources.broker(mTopics.map(t => Sources.brokerRead(spark, mMem, t)))
      case ("slack", b) =>
        // inputs/slack.adoc — Socket Mode drain (events_api envelopes,
        // acked first-class); base_url targets the loopback server
        SlackSocket.read(spark, b.get("app_token").asText,
          graft.operators.Http.javaClient(),
          baseUrl = b.path("base_url").asText("https://slack.com/api"))
      case ("socket_server", b) =>
        // inputs/socket_server.adoc — the config's own `address` field
        // resolves to the live line server; the bounded run drains the
        // arrival log (push inputs snapshot, the stdin treatment)
        val tAddr = b.get("address").asText
        Tcp.serverAt(tAddr).getOrElse(
          throw new IllegalArgumentException(
            s"socket_server: no live server at $tAddr (start Tcp.LineServer first)"))
          .drain(spark)
      case ("http_server" | "gateway", b) =>
        // inputs/http_server.adoc + inputs/gateway.adoc — `address`
        // resolves to the live push server; bounded drain of the
        // arrival log with the http_server_* metadata contract
        val hAddr = b.path("address").asText("")
        HttpPushServer.serverAt(hAddr).getOrElse(
          throw new IllegalArgumentException(
            s"http_server: no live server at '$hAddr' (start HttpPushServer first)"))
          .drain(spark)
      case ("dynamic", b) =>
        // inputs/dynamic.adoc — a set of NAMED child inputs that can
        // be enabled/disabled at runtime. The reference toggles them
        // through its HTTP admin endpoints; here the same toggles live
        // on the [[Dynamic]] registry (`prefix` scopes the names).
        val prefix = b.path("prefix").asText("")
        val children = Option(b.get("inputs")).map(_.properties().asScala
          .toSeq.map(e => e.getKey -> e.getValue)).getOrElse(Nil)
        require(children.nonEmpty, "dynamic input needs inputs")
        val active = children.filter { case (label, _) =>
          Dynamic.enabled(prefix, label)
        }
        require(active.nonEmpty, "dynamic input: every child is disabled")
        active.map { case (label, spec) =>
          val child = compileInput(spark, spec, env)
          val withMeta =
            if (child.columns.contains("metadata")) child
            else child.withColumn("metadata",
              map().cast("map<string,string>"))
          withMeta.withColumn("metadata", map_concat(
            coalesce(col("metadata"), map().cast("map<string,string>")),
            map(lit("dynamic_input"), lit(label))))
        }.reduce(_ unionByName _)
      case (other, b) =>
        Templates.lookup("input", other) match {
          case Some(t) => Templates.guard("input", other) {
            compileInput(spark, Templates.expand(spark, t, b, env), env)
          }
          case None => throw new IllegalArgumentException(
            s"input '$other' not supported")
        }
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

  /** Kafka connector `sasl` block (the reference's conf_sasl field
    * set): the first entry's PLAIN credentials ride the kafka://
    * address as URL-encoded query options, so every transport-seam
    * consumer (batch read, streaming source, sink writer) authenticates
    * each connection it opens. Only PLAIN is implemented — matching the
    * loopback broker — and any other mechanism fails loudly here rather
    * than silently connecting unauthenticated.
    */
  private def kafkaSaslQuery(b: JsonNode): Option[String] = {
    val n = b.at("/sasl/0")
    if (n.isMissingNode) None
    else {
      val mech = Option(n.get("mechanism")).map(_.asText.toUpperCase)
        .getOrElse("PLAIN")
      require(mech == "PLAIN" || mech == "SCRAM-SHA-256",
        s"kafka sasl mechanism '$mech': PLAIN and SCRAM-SHA-256 are implemented")
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      Some(s"sasl_user=${enc(n.get("username").asText)}" +
        s"&sasl_pass=${enc(n.get("password").asText)}" +
        s"&sasl_mechanism=${enc(mech)}")
    }
  }

  /** Append query options to a kafka:// address (mem:// and native
    * addresses pass through untouched).
    */
  private def kafkaAddr(addr: String, opts: Seq[String]): String =
    if (!addr.startsWith("kafka://") || opts.isEmpty) addr
    else addr + (if (addr.contains("?")) "&" else "?") + opts.mkString("&")

  /** Kafka input `transaction_isolation_level` (franz_reader.go:67):
    * read_committed rides the address query so the wire client fetches
    * at isolation level 1 (LSO-bounded, aborted records withheld).
    */
  private def kafkaIsolationQuery(b: JsonNode): Option[String] =
    Option(b.get("transaction_isolation_level")).map(_.asText).map { lvl =>
      require(lvl == "read_committed" || lvl == "read_uncommitted",
        s"transaction_isolation_level: $lvl")
      s"isolation=$lvl"
    }

  private def awsCreds(b: JsonNode): graft.sources.S3.Credentials =
    graft.sources.S3.Credentials(
      b.at("/credentials/id").asText("AK"),
      b.at("/credentials/secret").asText("SK"),
      b.path("region").asText("us-east-1"))

  /** AWS endpoint the way the reference's SDK resolves it: an explicit
    * config `endpoint` wins; otherwise the SDK's PUBLIC
    * `AWS_ENDPOINT_URL_<SERVICE>` / `AWS_ENDPOINT_URL` environment
    * variables — which is how the verbatim docs examples (no endpoint
    * field) run against a local fixture.
    */
  private def awsEndpoint(b: JsonNode, env: Map[String, String],
                          service: String): String =
    Option(b.get("endpoint")).map(_.asText)
      .orElse(env.get(s"AWS_ENDPOINT_URL_$service"))
      .orElse(env.get("AWS_ENDPOINT_URL"))
      .orElse(sys.env.get(s"AWS_ENDPOINT_URL_$service"))
      .orElse(sys.env.get("AWS_ENDPOINT_URL"))
      .getOrElse(throw new IllegalArgumentException(
        s"endpoint required (config field or AWS_ENDPOINT_URL_$service)"))

  /** `scheme://host:port` (or bare `host:port`) → (host, port). */
  private def hostPort(url: String): (String, Int) = {
    val stripped = url.replaceFirst("^[a-z0-9+.-]+://", "")
    val cut = stripped.indexOf(':')
    require(cut > 0, s"need host:port, got $url")
    (stripped.substring(0, cut),
      stripped.substring(cut + 1).takeWhile(_.isDigit).toInt)
  }

  /** `mem://name/queue` → (`mem://name`, `queue`) — the SQS queue-URL
    * shape (…/account/queue) collapsed to the transport seam.
    */
  private def splitQueueUrl(url: String): (String, String) = {
    val i = url.lastIndexOf('/')
    require(i > "mem://".length, s"queue url needs a /queue suffix: $url")
    (url.substring(0, i), url.substring(i + 1))
  }

  private def durMs(b: JsonNode, field: String, dflt: Long): Long =
    Option(b.get(field)).map(_.asText).filter(_.nonEmpty)
      .map(p => graft.functions.expressions.CodecOps.parseDuration(
        org.apache.spark.unsafe.types.UTF8String.fromString(p)) / 1000000L)
      .getOrElse(dflt)

  /** The iceberg-shaped outputs write the MESSAGE's fields as the row
    * (output_iceberg.go): when the frame is the string envelope and a
    * `schema:` is configured, unpack the value JSON into typed columns
    * first; a frame that already has real columns passes through.
    */
  private def unpackForTable(df: DataFrame, b: JsonNode): DataFrame =
    Option(b.get("schema")).map(_.asText) match {
      case Some(ddl) =>
        df.select(from_json(col("value"), org.apache.spark.sql.types
          .StructType.fromDDL(ddl)).as("__row")).select(col("__row.*"))
      case None => df
    }

  private[graft] def writeOutput(df: DataFrame, n0: JsonNode): Unit = {
    // output-level `processors:` run on every batch as it is written
    // (components/outputs/about.adoc "Processors" — the retrieval
    // configs shape their sync_response reply this way)
    val (n, df2) = Option(n0.get("processors")) match {
      case Some(procs) if n0.isObject =>
        val stripped = n0.asInstanceOf[
          com.fasterxml.jackson.databind.node.ObjectNode].deepCopy()
        stripped.remove("processors")
        (stripped: JsonNode,
          procs.elements().asScala.toSeq.foldLeft(df)((d, p) =>
            Processors.compile(p, Map.empty)(d)))
      case _ => (n0, df)
    }
    writeOutputInner(df2, n)
  }

  private def writeOutputInner(df: DataFrame, n: JsonNode): Unit = one(n) match {
    case ("lakehouse", b) =>
      // iceberg-shaped upsert output (output_iceberg.go contract):
      // identifier keys + optional partitioning + delete column
      Sinks.lakehouse(unpackForTable(df, b), b.get("table").asText,
        b.get("keys").elements().asScala.toSeq.map(_.asText),
        Option(b.get("partition_by")).map(_.elements().asScala.toSeq
          .map(_.asText)).getOrElse(Seq.empty),
        Option(b.get("delete_column")).map(_.asText))
    case ("parquet", b) => Sinks.parquet(df, b.get("path").asText)
    case ("csv", b) => Sinks.csv(df, b.get("path").asText)
    case ("json", b) => Sinks.jsonLines(df, b.get("path").asText)
    case ("kafka" | "redpanda" | "kafka_franz" | "redpanda_common", b) =>
      // outputs/kafka.adoc — key is an interpolated string; partition
      // comes from `partitioner: manual` + `partition`, else the
      // default fnv1a_hash of the key (output_sarama_kafka.go:367)
      val addrs = Option(b.get("seed_brokers")).orElse(Option(b.get("addresses")))
        .map(_.elements().asScala.toSeq.map(_.asText))
        .getOrElse(throw new IllegalArgumentException(
          "kafka output needs seed_brokers/addresses"))
      val topic = b.get("topic").asText
      val keyTpl = Option(b.get("key")).map(_.asText).filter(_.nonEmpty)
      val partitioner = Option(b.get("partitioner")).map(_.asText)
        .getOrElse("fnv1a_hash")
      val partTpl = Option(b.get("partition")).map(_.asText).filter(_.nonEmpty)
      val keyC = keyTpl.map(t => graft.blobl.Blobl.interpolateJson(df, t,
        metadataCol = if (df.columns.contains("metadata")) Some("metadata")
                      else None)).getOrElse(lit(null).cast("string"))
      val partC =
        if (partitioner == "manual")
          Some(graft.blobl.Blobl.interpolateJson(df, partTpl.getOrElse(
            throw new IllegalArgumentException(
              "partitioner: manual needs `partition`")),
            metadataCol = if (df.columns.contains("metadata")) Some("metadata")
                          else None).cast("int"))
        else None
      val orderC = if (df.columns.contains("__seq")) col("__seq")
                   else monotonically_increasing_id()
      // outputs/kafka.adoc `idempotent_write` (franz_writer.go:129,
      // default true): over the real wire this turns on the
      // InitProducerId + per-partition-sequence producer; the mem://
      // in-JVM broker is exactly-once by construction, so the option is
      // a no-op there
      val idem = Option(b.get("idempotent_write")).forall(_.asBoolean)
      // `transactional_id` (KIP-98 EOS, franz-go's kgo.TransactionalID):
      // each partition task's produce becomes AddPartitionsToTxn →
      // produce → EndTxn, aborting on task failure, so read_committed
      // consumers see all-or-nothing per task
      val txnId = Option(b.get("transactional_id")).map(_.asText)
        .filter(_.nonEmpty)
      // `metadata.include_patterns` (outputs/kafka.adoc Metadata):
      // matching metadata entries travel as record HEADERS
      val headerPats = Option(b.at("/metadata/include_patterns"))
        .filterNot(_.isMissingNode)
        .map(_.elements().asScala.toSeq.map(_.asText)).getOrElse(Nil)
      val headersC =
        if (headerPats.nonEmpty && df.columns.contains("metadata"))
          Some(map_filter(col("metadata"),
            (k, _) => headerPats.map(p => k.rlike(p)).reduce(_ || _)))
        else None
      // a bare host:port speaks the same Kafka wire protocol our
      // kafka:// client implements (config/examples/
      // aws_cloudwatch_logs.yaml's `addresses: [localhost:9092]`)
      addrs.map(a => if (a.contains("://")) a else s"kafka://$a")
        .find(a => a.startsWith("mem://") || a.startsWith("kafka://")) match {
        case Some(mem) =>
          val addr = kafkaAddr(mem,
            txnId.map(t => "transactional_id=" +
              java.net.URLEncoder.encode(t, "UTF-8")).toSeq ++
              (if (idem) Seq("idempotent=true") else Nil) ++
              kafkaSaslQuery(b).toSeq)
          Sinks.brokerWrite(df, addr, topic, keyC, col("value"), orderC,
            partitioner, partC, headersCol = headersC)
        case None =>
          // real brokers: the connector's batch writer (symmetric with
          // the input case; needs the spark-sql-kafka jar at runtime)
          df.select(keyC.cast("binary").as("key"),
              col("value").cast("binary").as("value"))
            .write.format("kafka")
            .option("kafka.bootstrap.servers", addrs.mkString(","))
            .option("topic", topic)
            .save()
      }
    case ("amqp_0_9", b) =>
      // outputs/amqp_0_9.adoc — publish to an exchange with an
      // interpolated routing key; the BROKER routes into queues
      // (direct/fanout/topic), so the write is a narrow partition-
      // parallel pass. exchange_declare optionally creates/verifies
      // the exchange first.
      val urls = Option(b.get("urls"))
        .map(_.elements().asScala.toSeq.map(_.asText))
        .getOrElse(throw new IllegalArgumentException("amqp_0_9 needs urls"))
      val exchange = b.get("exchange").asText
      val mem = urls.find(_.startsWith("mem://")).getOrElse(
        throw new IllegalArgumentException(
          "amqp_0_9: only mem:// transports exist in this environment"))
      val decl = b.path("exchange_declare")
      if (decl.path("enabled").asBoolean(false))
        Mq.transportFor(mem).declareExchange(exchange,
          decl.path("type").asText("direct"))
      val keyTpl = Option(b.get("key")).map(_.asText).getOrElse("")
      val keyC = graft.blobl.Blobl.interpolateJson(df, keyTpl,
        metadataCol = if (df.columns.contains("metadata")) Some("metadata")
                      else None)
      val orderC = if (df.columns.contains("__seq")) col("__seq")
                   else monotonically_increasing_id()
      // producer order holds within a task (connection); cross-task
      // interleave is a real competing-producers broker's behavior
      Mq.amqpWrite(df.withColumn("__amqp_key", keyC)
          .sortWithinPartitions(orderC),
        mem, exchange, "__amqp_key")
    case (kind @ ("nats" | "nats_jetstream" | "mqtt"), b) =>
      // outputs/nats.adoc + outputs/mqtt.adoc — per-row interpolated
      // subject/topic, published executor-side to the subject log
      val urls = Option(b.get("urls"))
        .map(_.elements().asScala.toSeq.map(_.asText))
        .getOrElse(throw new IllegalArgumentException(s"$kind needs urls"))
      val mem = urls.find(_.startsWith("mem://")).getOrElse(
        throw new IllegalArgumentException(
          s"$kind: only mem:// transports exist in this environment"))
      val subjTpl =
        (if (kind == "mqtt") Option(b.get("topic")) else Option(b.get("subject")))
          .map(_.asText).getOrElse(throw new IllegalArgumentException(
            s"$kind output needs a subject/topic"))
      val meta2 = if (df.columns.contains("metadata")) Some("metadata") else None
      val subjC = graft.blobl.Blobl.interpolateJson(df, subjTpl,
        metadataCol = meta2)
      val ordC2 = if (df.columns.contains("__seq")) col("__seq")
                  else monotonically_increasing_id()
      PubSub.write(df.withColumn("__subject", subjC)
        .sortWithinPartitions(ordC2), mem, "__subject")
    case ("schema_registry", b) =>
      // outputs/schema_registry.adoc — one registration POST per
      // message under the interpolated subject
      val metaSr = if (df.columns.contains("metadata")) Some("metadata")
                   else None
      SchemaRegistryIO.write(df, b.get("url").asText,
        subject = graft.blobl.Blobl.interpolateJson(df,
          b.get("subject").asText, metadataCol = metaSr))
    case ("discord", b) =>
      // outputs/discord.adoc — POST per message to the channel; JSON
      // objects post directly, raw text wraps as {"content": ...}
      Discord.write(df, b.get("channel_id").asText,
        b.get("bot_token").asText,
        baseUrl = b.path("base_url").asText("https://discord.com/api/v10"))
    case ("splunk_hec", b) =>
      // outputs/splunk_hec.adoc — batched collector POSTs with event
      // wrapping and configured field overrides
      Splunk.hecWrite(df, b.get("url").asText, b.get("token").asText,
        eventHost = b.path("event_host").asText(""),
        eventSource = b.path("event_source").asText(""),
        eventSourceType = b.path("event_sourcetype").asText(""),
        eventIndex = b.path("event_index").asText(""),
        gzip = b.path("gzip").asBoolean(false),
        batchSize = math.max(1, b.at("/batching/count").asInt(100)))
    case ("slack_reaction", b) =>
      // outputs/slack_reaction.adoc — reactions.add/.remove per
      // message with interpolated channel/timestamp/emoji
      val metaR = if (df.columns.contains("metadata")) Some("metadata")
                  else None
      def interpR(tpl: String) =
        graft.blobl.Blobl.interpolateJson(df, tpl, metadataCol = metaR)
      Slack.reactionWrite(df, b.get("bot_token").asText,
        channelId = interpR(b.get("channel_id").asText),
        timestamp = interpR(b.get("timestamp").asText),
        emoji = interpR(b.get("emoji").asText),
        action = b.path("action").asText("add"),
        baseUrl = b.path("base_url").asText("https://slack.com"))
    case ("slack_post", b) =>
      // outputs/slack_post.adoc — chat.postMessage per message with
      // interpolated channel/thread/text; `blocks` is a bloblang
      // expression returning the JSON array (mutually exclusive with
      // text, enforced in Slack.postWrite)
      val metaS = if (df.columns.contains("metadata")) Some("metadata")
                  else None
      def interpS(tpl: String) =
        graft.blobl.Blobl.interpolateJson(df, tpl, metadataCol = metaS)
      val textOpt = Option(b.get("text")).map(_.asText).filter(_.nonEmpty)
      val blocksOpt = Option(b.get("blocks")).map(_.asText).filter(_.nonEmpty)
      Slack.postWrite(df, b.get("bot_token").asText,
        channelId = interpS(b.get("channel_id").asText),
        text = textOpt.map(interpS).orNull,
        blocksJson = blocksOpt.map(x =>
          graft.blobl.Blobl.exprJson(df, x)).orNull,
        threadTs = Option(b.get("thread_ts")).map(_.asText)
          .filter(_.nonEmpty).map(interpS).orNull,
        markdown = b.path("markdown").asBoolean(true),
        unfurlLinks = b.path("unfurl_links").asBoolean(false),
        unfurlMedia = b.path("unfurl_media").asBoolean(true),
        linkNames = b.path("link_names").asBoolean(false),
        baseUrl = b.path("base_url").asText("https://slack.com"))
    case ("http_client", b) =>
      // outputs/http_client.adoc — one request per message, URL
      // interpolated per row
      val url = b.get("url").asText
      val metaOpt0 = if (df.columns.contains("metadata")) Some("metadata")
                     else None
      HttpClient.write(df,
        graft.blobl.Blobl.interpolateJson(df, url, metadataCol = metaOpt0),
        verb = b.path("verb").asText("POST"),
        headers = Option(b.get("headers")).map(_.properties().asScala
          .map(e => (e.getKey, e.getValue.asText)).toMap)
          .getOrElse(Map.empty),
        batchSize = b.path("batch_size").asInt(16),
        clientUrl = url)
    case (kind @ ("redis_list" | "redis_hash" | "redis_pubsub" |
                  "redis_streams"), b) =>
      // outputs/redis_{list,hash,pubsub,streams}.adoc — interpolated
      // key/channel per row; per-key FIFO order via one sorted
      // reducer per key (the Redis.listWrite contract)
      val url = Option(b.get("url")).map(_.asText).getOrElse(
        throw new IllegalArgumentException(s"$kind needs url"))
      val metaOpt = if (df.columns.contains("metadata")) Some("metadata")
                    else None
      val ordC = if (df.columns.contains("__seq")) col("__seq")
                 else monotonically_increasing_id()
      def interp(tpl: String) =
        graft.blobl.Blobl.interpolateJson(df, tpl, metadataCol = metaOpt)
      kind match {
        case "redis_list" =>
          Redis.listWrite(df, url, interp(b.get("key").asText),
            col("value"), ordC)
        case "redis_pubsub" =>
          Redis.pubsubWrite(df, url, interp(b.get("channel").asText),
            col("value"), ordC)
        case "redis_streams" =>
          Redis.streamWrite(df, url, b.get("stream").asText,
            interp(b.path("id").asText("*")), col("value"), ordC,
            b.path("body_key").asText("body"), metaOpt)
        case "redis_hash" =>
          // fields come from explicit `fields` interpolations, the
          // walked JSON object, and/or walked metadata (adoc order:
          // walked sources first, explicit fields override)
          val explicit = Option(b.get("fields")).map(_.properties().asScala
            .toSeq.map(e => (e.getKey, e.getValue.asText))).getOrElse(Seq.empty)
          val explicitC =
            if (explicit.isEmpty) lit(null).cast("map<string,string>")
            else map(explicit.flatMap { case (f, tpl) =>
              Seq(lit(f), interp(tpl))
            }: _*)
          val walkJson =
            if (b.path("walk_json_object").asBoolean(false))
              from_json(col("value"), org.apache.spark.sql.types.MapType(
                org.apache.spark.sql.types.StringType,
                org.apache.spark.sql.types.StringType))
            else lit(null).cast("map<string,string>")
          val walkMeta =
            if (b.path("walk_metadata").asBoolean(false) && metaOpt.nonEmpty)
              col("metadata")
            else lit(null).cast("map<string,string>")
          val empty = map().cast("map<string,string>")
          // map_concat rejects duplicate keys (mapKeyDedupPolicy) —
          // overlay drops a's entries that b overrides
          def overlay(a: Column, b: Column): Column =
            map_concat(map_filter(a, (k, _) => !map_contains_key(b, k)), b)
          val fieldsC = overlay(overlay(coalesce(walkMeta, empty),
            coalesce(walkJson, empty)), coalesce(explicitC, empty))
          Redis.hashWrite(df, url, interp(b.get("key").asText), fieldsC, ordC)
      }
    case ("socket", b) =>
      // outputs/socket.adoc — one ordered connection (lines codec)
      Tcp.write(df, b.get("address").asText)
    case ("inproc", b) =>
      // outputs/inproc.adoc — register under the id for a sibling
      // pipeline's inproc input (one output per id; a collision
      // replaces the previous registration, per the adoc)
      df.createOrReplaceTempView("inproc_" + b.asText)
    case ("stdout", _) =>
      // outputs/stdout.adoc — newline-delimited messages to standard
      // out; driver-side ordered drain (a console is one consumer),
      // streamed partition-by-partition so the driver never holds the
      // full result (toLocalIterator, same shape as Tcp/HttpPush)
      val orderedOut = if (df.columns.contains("__seq"))
        df.orderBy(col("__seq")) else df
      orderedOut.select(col("value")).toLocalIterator().asScala
        .foreach(r => Console.out.println(r.getString(0)))
    case ("nats_kv", b) =>
      // outputs/nats_kv.adoc — put each value under its interpolated
      // key
      val urls = b.get("urls").elements().asScala.toSeq.map(_.asText)
      val mem = urls.find(_.startsWith("mem://")).getOrElse(
        throw new IllegalArgumentException(
          "nats_kv: only mem:// transports exist in this environment"))
      val metaK = if (df.columns.contains("metadata")) Some("metadata")
                  else None
      val ordK = if (df.columns.contains("__seq")) col("__seq")
                 else monotonically_increasing_id()
      graft.sources.NatsKv.write(df, mem, b.get("bucket").asText,
        graft.blobl.Blobl.interpolateJson(df, b.get("key").asText,
          metadataCol = metaK),
        col("value"), ordK)
    case (kind @ ("elasticsearch_v8" | "elasticsearch_v9" | "opensearch"), b) =>
      // outputs/elasticsearch_v8.adoc — per-message interpolated
      // index/action/id through the public _bulk NDJSON API
      val urls = b.get("urls").elements().asScala.toSeq.map(_.asText)
      require(urls.nonEmpty, s"$kind needs urls")
      val metaE = if (df.columns.contains("metadata")) Some("metadata")
                  else None
      def interpE(tpl: String) =
        graft.blobl.Blobl.interpolateJson(df, tpl, metadataCol = metaE)
      graft.sinks.Search.bulkWrite(df, urls.head,
        interpE(b.get("index").asText),
        interpE(b.get("action").asText),
        interpE(b.get("id").asText),
        batchSize = b.at("/batching/count").asInt(500) match {
          case 0 => 500
          case n => n
        })
    case ("pulsar", b) =>
      // outputs/pulsar.adoc — interpolated key routes via pulsar's
      // default JavaStringHash router; topics auto-create (pulsar's
      // broker default), per-partition order preserved by brokerWrite
      val url = b.get("url").asText
      require(url.startsWith("mem://"),
        "pulsar: only mem:// transports exist in this environment")
      val topic = b.get("topic").asText
      val t = graft.sources.Broker.transportFor(url)
      try t.partitionCount(topic)
      catch { case _: IllegalArgumentException => t.createTopic(topic, 4) }
      val metaP = if (df.columns.contains("metadata")) Some("metadata")
                  else None
      val keyTplP = Option(b.get("key")).map(_.asText).filter(_.nonEmpty)
      val keyCP = keyTplP.map(tp => graft.blobl.Blobl.interpolateJson(df, tp,
        metadataCol = metaP)).getOrElse(lit(null).cast("string"))
      val ordP = if (df.columns.contains("__seq")) col("__seq")
                 else monotonically_increasing_id()
      Sinks.brokerWrite(df, url, topic, keyCP, col("value"), ordP,
        partitioner = "java_hash")
    case ("qdrant", b) =>
      // outputs/qdrant.adoc — id is interpolated, vector_mapping is a
      // bloblang expression over the message producing the point's
      // vector; points batch-upsert executor-side into the collection
      // (mem:// = in-process VectorStore fake; real stores need gRPC)
      val host = b.get("grpc_host").asText
      val collection = b.get("collection_name").asText
      val meta = if (df.columns.contains("metadata")) Some("metadata") else None
      val idC = graft.blobl.Blobl.interpolateJson(df,
        b.get("id").asText, metadataCol = meta).cast("long")
      val vecExpr = Option(b.get("vector_mapping")).map(_.asText)
        .getOrElse("root = this.embedding")
        .replaceFirst("^\\s*root\\s*=\\s*", "")
      val vecC = from_json(graft.blobl.Blobl.exprJson(df, vecExpr,
        metadataCol = meta).cast("string"),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))
      graft.sinks.VectorStore.upsert(
        df.select(idC.as("__vid"), vecC.as("__vec")),
        host, collection, "__vid", "__vec")
    case ("elasticsearch_v8" | "elasticsearch" | "opensearch", b) =>
      // outputs/elasticsearch_v8.adoc / opensearch.adoc — _bulk NDJSON
      // with per-message interpolated index/action/id
      val meta = if (df.columns.contains("metadata")) Some("metadata") else None
      def interp(field: String, dflt: String) =
        Option(b.get(field)).map(_.asText).filter(_.nonEmpty)
          .map(tp => graft.blobl.Blobl.interpolateJson(df, tp, metadataCol = meta))
          .getOrElse(lit(dflt))
      val urls = Option(b.get("urls"))
        .map(_.elements().asScala.toSeq.map(_.asText))
        .getOrElse(Seq(b.path("url").asText))
      graft.sinks.Search.bulkWrite(df, urls.head,
        interp("index", "docs"), interp("action", "index"),
        interp("id", ""),
        batchSize = b.at("/batching/count").asInt(500) match {
          case 0 => 500
          case n => n
        })
    case ("sftp", b) =>
      // outputs/sftp.adoc — interpolated path, one upload per message
      val Array(hostO, portO) = b.get("address").asText.split(":", 2)
      val metaSf = if (df.columns.contains("metadata")) Some("metadata") else None
      val pathSf = graft.blobl.Blobl.interpolateJson(df,
        b.get("path").asText, metadataCol = metaSf)
      graft.sources.Sftp.write(df, hostO, portO.toInt,
        b.at("/credentials/username").asText(""),
        b.at("/credentials/password").asText(""), pathSf)
    case ("aws_sns", b) =>
      // outputs/aws_sns.adoc — Query-API Publish per message
      graft.sources.AwsApi.snsWrite(df, b.get("endpoint").asText,
        graft.sources.S3.Credentials(
          b.at("/credentials/id").asText(""),
          b.at("/credentials/secret").asText(""),
          b.path("region").asText("us-east-1")),
        b.get("topic_arn").asText)
    case ("gcp_cloud_storage", b) =>
      // outputs/gcp_cloud_storage.adoc — interpolated path uploads
      val metaG = if (df.columns.contains("metadata")) Some("metadata") else None
      val pathG = graft.blobl.Blobl.interpolateJson(df,
        b.get("path").asText, metadataCol = metaG)
      graft.sources.Gcs.write(df, b.get("endpoint").asText,
        b.path("token").asText(""), b.get("bucket").asText, pathG)
    case ("azure_blob_storage", b) =>
      // outputs/azure_blob_storage.adoc — interpolated path PUTs
      val metaAz = if (df.columns.contains("metadata")) Some("metadata") else None
      val pathAz = graft.blobl.Blobl.interpolateJson(df,
        b.get("path").asText, metadataCol = metaAz)
      graft.sources.AzureBlob.write(df, b.get("endpoint").asText,
        graft.sources.AzureBlob.Account(
          b.path("storage_account").asText(""),
          b.path("storage_access_key").asText("")),
        b.get("container").asText, pathAz)
    case ("aws_s3", b) =>
      // outputs/aws_s3.adoc — interpolated path, one PUT per message
      val metaS3 = if (df.columns.contains("metadata")) Some("metadata") else None
      val pathC3 = graft.blobl.Blobl.interpolateJson(df,
        b.get("path").asText, metadataCol = metaS3)
      graft.sources.S3.write(df, b.get("endpoint").asText,
        graft.sources.S3.Credentials(
          b.at("/credentials/id").asText(""),
          b.at("/credentials/secret").asText(""),
          b.path("region").asText("us-east-1")),
        b.get("bucket").asText, pathC3)
    case ("arc", b) =>
      // outputs/arc.adoc — msgpack ingestion with columnar transpose
      val meta4 = if (df.columns.contains("metadata")) Some("metadata") else None
      val mC = graft.blobl.Blobl.interpolateJson(df,
        b.get("table").asText, metadataCol = meta4)
      graft.sinks.Arc.write(df, b.get("url").asText,
        b.get("database").asText, mC,
        format = b.path("format").asText("columnar"),
        token = b.path("token").asText(""),
        gzip = b.path("compression").asText("") == "gzip")
    case ("timeplus", b) =>
      // outputs/timeplus.adoc — columnar ingest POSTs
      graft.sources.Timeplus.write(df, b.get("url").asText,
        b.get("stream").asText,
        columns = b.get("columns").elements().asScala.toSeq.map(_.asText),
        target = b.path("target").asText("timeplus"),
        workspace = b.path("workspace").asText("default"),
        apikey = b.path("apikey").asText(""))
    case ("cypher", b) =>
      // outputs/cypher.adoc — query per message against a Bolt
      // endpoint; args_mapping (bloblang) builds the parameter map
      val uri = java.net.URI.create(b.get("uri").asText)
      val meta3 = if (df.columns.contains("metadata")) Some("metadata") else None
      val mapped = Option(b.get("args_mapping")).map(_.asText) match {
        case Some(m) => graft.blobl.Blobl.mapping(df, m, metadataCol = meta3)
        case None => df.withColumn("value", lit("{}"))
      }
      graft.sinks.CypherGraph.writeJsonArgs(mapped, uri.getHost,
        uri.getPort,
        b.at("/basic_auth/user").asText("neo4j"),
        b.at("/basic_auth/password").asText(""),
        b.get("cypher").asText, col("value"),
        db = b.path("database_name").asText(""))
    case ("doris_stream_load", b) =>
      // outputs/doris_stream_load.adoc — one stream-load request per
      // chunk; FE redirect + verdict classification inside write
      val fe = Option(b.get("url")).map(_.asText)
        .orElse(Option(b.get("fe_urls")).flatMap(
          _.elements().asScala.toSeq.headOption.map(_.asText)))
        .getOrElse(throw new IllegalArgumentException(
          "doris_stream_load: url or fe_urls required"))
      graft.sinks.Doris.write(df, fe, graft.sinks.Doris.Conf(
        b.get("database").asText, b.get("table").asText,
        format = b.path("format").asText("json"),
        labelPrefix = b.path("label_prefix").asText("graft"),
        groupCommit = b.path("group_commit").asText("off_mode"),
        columns = Option(b.get("columns")).map(
          _.elements().asScala.toSeq.map(_.asText)).getOrElse(Nil)),
        batchSize = b.at("/batching/count").asInt(2000) match {
          case 0 => 2000
          case n => n
        })
    case ("hdfs", b) =>
      // outputs/hdfs.adoc — directory + interpolated per-message path
      val meta = if (df.columns.contains("metadata")) Some("metadata") else None
      val pathC = graft.blobl.Blobl.interpolateJson(df,
        b.get("path").asText, metadataCol = meta)
      graft.sources.Hdfs.write(df, b.get("url").asText,
        b.get("directory").asText, pathC)
    case ("pusher", b) =>
      // outputs/pusher.adoc — interpolated channel, 10-event batches,
      // signed requests
      val meta2 = if (df.columns.contains("metadata")) Some("metadata") else None
      val chC = graft.blobl.Blobl.interpolateJson(df,
        b.get("channel").asText, metadataCol = meta2)
      graft.sinks.Pusher.write(df, b.get("url").asText,
        graft.sinks.Pusher.Conf(b.get("appId").asText,
          b.get("key").asText, b.get("secret").asText,
          b.path("cluster").asText("mt1"), b.get("event").asText),
        chC)
    case ("questdb", b) =>
      // outputs/questdb.adoc — ILP/HTTP lines; symbols/doubles/
      // designated timestamp field map straight through. `addresses`
      // (a list) is the sharded scale extension: partitions fan out
      // round-robin over the ingest endpoints (QuestDb.writeSharded)
      import scala.jdk.CollectionConverters._
      def strSet(field: String): Set[String] =
        Option(b.get(field)).map(_.elements().asScala.map(_.asText).toSet)
          .getOrElse(Set.empty)
      val addresses = Option(b.get("addresses"))
        .map(_.elements().asScala.map(_.asText).toSeq)
        .getOrElse(Seq(b.get("address").asText))
      graft.sinks.QuestDb.writeSharded(df, addresses,
        b.get("table").asText,
        symbols = strSet("symbols"), doubles = strSet("doubles"),
        designatedTimestampField =
          b.path("designated_timestamp_field").asText(""),
        designatedTimestampUnit =
          b.path("designated_timestamp_unit").asText("auto"),
        batchSize = b.at("/batching/count").asInt(1000) match {
          case 0 => 1000
          case n => n
        })
    case ("pinecone", b) =>
      // outputs/pinecone.adoc — operation enum, interpolated id,
      // vector_mapping producing a float array
      val meta = if (df.columns.contains("metadata")) Some("metadata") else None
      val idC = graft.blobl.Blobl.interpolateJson(df,
        b.path("id").asText("${! json(\"id\") }"), metadataCol = meta)
      val op = b.path("operation").asText("upsert-vectors")
      val vecC =
        if (op == "delete-vectors") null
        else {
          val vecExpr = Option(b.get("vector_mapping")).map(_.asText)
            .getOrElse("root = this.embedding")
            .replaceFirst("^\\s*root\\s*=\\s*", "")
          from_json(graft.blobl.Blobl.exprJson(df, vecExpr,
            metadataCol = meta).cast("string"),
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType))
        }
      graft.sinks.Pinecone.write(df, b.get("host").asText, op, idC, vecC,
        namespace = b.path("namespace").asText(""),
        batchSize = b.at("/batching/count").asInt(100) match {
          case 0 => 100
          case n => n
        })
    case ("websocket", b) =>
      // outputs/websocket.adoc — one connection per partition
      WebSocket.write(df, b.get("url").asText,
        headers = Option(b.get("headers")).map(_.properties().asScala
          .map(e => (e.getKey, e.getValue.asText)).toMap)
          .getOrElse(Map.empty))
    case ("cassandra", b) =>
      // outputs/cassandra.adoc — parameterized query per message with
      // args from columns (the args_mapping result), logged batches
      val addr = b.get("addresses").elements().asScala.toSeq
        .map(_.asText).find(_.startsWith("mem://")).getOrElse(
          throw new IllegalArgumentException(
            "cassandra: only mem:// loopback servers exist here"))
      Cassandra.write(df, addr, b.get("query").asText,
        argCols = b.get("args").elements().asScala.toSeq.map(a =>
          (a.get("column").asText, a.get("type").asText)),
        consistency = b.path("consistency").asText("QUORUM"),
        loggedBatch = b.path("logged_batch").asBoolean(true),
        batchSize = b.path("batch_size").asInt(64))
    case ("mongodb", b) =>
      // outputs/mongodb.adoc — per-row operation over one connection
      // per partition
      Mongo.write(df, b.get("url").asText, b.get("database").asText,
        b.get("collection").asText,
        operation = b.path("operation").asText("insert-one"),
        upsert = b.path("upsert").asBoolean(false))
    case ("gcp_bigquery", b) =>
      // outputs/gcp_bigquery.adoc — batches as polled load jobs
      graft.sinks.BigQuery.write(df, graft.sinks.BigQuery.Conf(
        b.get("project").asText, b.get("dataset").asText,
        b.get("table").asText,
        format = b.path("format").asText("NEWLINE_DELIMITED_JSON"),
        writeDisposition =
          b.path("write_disposition").asText("WRITE_APPEND"),
        createDisposition =
          b.path("create_disposition").asText("CREATE_IF_NEEDED"),
        csvHeader = Option(b.at("/csv/header"))
          .filterNot(_.isMissingNode)
          .map(_.elements().asScala.toSeq.map(_.asText))
          .getOrElse(Seq.empty)),
        baseUrl = b.path("base_url").asText(
          "https://bigquery.googleapis.com"))
    case ("snowflake_streaming", b) =>
      // outputs/snowflake_streaming.adoc — channel-per-partition with
      // offset-token exactly-once
      graft.sinks.Snowpipe.write(df, b.get("account_url").asText,
        b.get("database").asText, b.get("schema").asText,
        b.get("table").asText,
        channelPrefix = b.path("channel_prefix").asText("graft"),
        offsetTokenCol = b.path("offset_token").asText("__offset_token"))
    case ("aws_sqs", b) =>
      // outputs/aws_sqs.adoc — per-row group/dedup from optional
      // message_group_id / message_deduplication_id COLUMNS (the
      // adoc's per-message interpolations resolve to columns here)
      val (addr, queue) = splitQueueUrl(b.get("url").asText)
      CloudQueue.sqsWrite(df, addr, queue,
        groupIdCol = Option(b.get("message_group_id")).map(_.asText),
        dedupIdCol =
          Option(b.get("message_deduplication_id")).map(_.asText),
        attributeCols = Option(b.get("metadata_columns"))
          .map(_.elements().asScala.toSeq.map(_.asText))
          .getOrElse(Seq.empty))
    case ("gcp_pubsub", b) =>
      CloudQueue.pubsubWrite(df, b.get("project").asText,
        b.get("topic").asText,
        orderingKeyCol = Option(b.get("ordering_key")).map(_.asText))
    case ("nsq", b) =>
      Nsq.write(df, b.get("nsqd_tcp_address").asText,
        b.get("topic").asText)
    case ("beanstalkd", b) =>
      Beanstalkd.write(df, b.get("address").asText,
        priCol = Option(b.get("priority")).map(_.asText))
    case ("azure_queue_storage", b) =>
      AzureQueue.write(df, b.get("storage_account").asText,
        b.get("queue_name").asText)
    case ("iceberg", b) =>
      // outputs/iceberg.adoc — the REAL v2 table format: append or
      // upsert-by-identifier_fields commits (sinks/Iceberg.scala)
      val loc = b.get("location").asText
      val parts = Option(b.get("partition_by"))
        .map(_.elements().asScala.toSeq.map(_.asText)).getOrElse(Nil)
      val keys = Option(b.get("identifier_fields"))
        .map(_.elements().asScala.toSeq.map(_.asText)).getOrElse(Nil)
      val rows = unpackForTable(df, b)
      if (keys.isEmpty) graft.sinks.Iceberg.append(rows, loc, parts)
      else b.path("commit_mode").asText("merge_on_read") match {
        // the reference commits keyed batches merge-on-read
        // (committer.go:99); copy_on_write is the opt-in compacting
        // form
        case "merge_on_read" =>
          graft.sinks.Iceberg.upsertMergeOnRead(rows, loc, keys, parts,
            deleteCol = Option(b.get("delete_column")).map(_.asText))
        case "copy_on_write" =>
          graft.sinks.Iceberg.upsert(rows, loc, keys, parts,
            deleteCol = Option(b.get("delete_column")).map(_.asText))
        case other => throw new IllegalArgumentException(
          s"iceberg commit_mode: $other")
      }
    case ("opensearch", b) =>
      // outputs/opensearch.adoc — _bulk under optional SigV4 (`aws`)
      graft.sinks.OpenSearch.bulkWrite(df, b.get("urls").elements()
          .asScala.next().asText,
        indexCol = lit(b.get("index").asText),
        actionCol = lit(b.path("action").asText("index")),
        idCol = col("metadata")("id"),
        creds = Option(b.get("aws")).filter(_.path("enabled")
          .asBoolean(false)).map(awsCreds))
    case ("azure_table_storage", b) =>
      graft.sinks.AzureTables.write(df, b.get("endpoint").asText,
        graft.sources.AzureBlob.Account(
          b.get("storage_account").asText,
          b.get("storage_access_key").asText),
        b.get("table_name").asText,
        partitionKeyCol = col("metadata")("partition_key"),
        rowKeyCol = col("metadata")("row_key"),
        insertType = b.path("insert_type").asText("INSERT"))
    case ("azure_data_lake_gen2", b) =>
      graft.sinks.AzureDataLake.write(df, b.get("endpoint").asText,
        graft.sources.AzureBlob.Account(
          b.get("storage_account").asText,
          b.get("storage_access_key").asText),
        b.get("filesystem").asText,
        pathCol = lit(b.path("path").asText("out")))
    case ("snowflake_put", b) =>
      // outputs/snowflake_put.adoc — key-pair JWT (private_key_file,
      // PKCS#8 PEM) stage PUT, optional Snowpipe insertFiles
      val pem = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(b.get("private_key_file").asText)),
        java.nio.charset.StandardCharsets.UTF_8)
      graft.sinks.SnowflakePut.write(df,
        b.path("endpoint").asText(
          s"https://${b.get("account").asText}.snowflakecomputing.com"),
        graft.sinks.SnowflakePut.Creds(b.get("account").asText,
          b.get("user").asText,
          graft.sinks.SnowflakePut.keyPairFromPem(pem)),
        b.get("stage").asText,
        pathCol = lit(b.path("path").asText("")),
        compression = b.path("compression").asText("GZIP") match {
          case "AUTO" => "GZIP"; case c => c
        },
        pipe = Option(b.get("snowpipe")).map(_.asText))
    case ("qdrant", b) =>
      // outputs/qdrant.adoc — REST upsert by id/vector mappings
      graft.sinks.Qdrant.write(df, b.get("grpc_host").asText,
        b.path("api_token").asText(""),
        b.get("collection_name").asText,
        idCol = col("metadata")("id"),
        vectorCol = from_json(col("value"), org.apache.spark.sql.types
          .DataTypes.createArrayType(org.apache.spark.sql.types
            .DataTypes.FloatType)))
    case ("aws_kinesis_firehose", b) =>
      graft.sinks.Firehose.write(df, b.get("endpoint").asText,
        awsCreds(b), b.get("stream").asText,
        batchSize = b.at("/batching/count").asInt(500) match {
          case 0 => 500; case n => math.min(n, 500)
        })
    case ("salesforce_sink" | "salesforce", b) =>
      SalesforceApi.write(df, b.get("org_url").asText,
        b.path("client_id").asText(""),
        b.path("client_secret").asText(""),
        b.get("object").asText,
        operation = b.path("operation").asText("upsert"),
        externalIdField = b.path("external_id_field").asText("Id"),
        mode = b.path("mode").asText("realtime"),
        allOrNone = b.path("all_or_none").asBoolean(false),
        batchSize = b.path("bulk_batch_size").asInt(200))
    case ("dynamic", b) =>
      // outputs/dynamic.adoc — fan the frame to every ENABLED child
      val prefix = b.path("prefix").asText("")
      val children = Option(b.get("outputs")).map(_.properties().asScala
        .toSeq.map(e => e.getKey -> e.getValue)).getOrElse(Nil)
      require(children.nonEmpty, "dynamic output needs outputs")
      children.foreach { case (label, spec) =>
        if (Dynamic.enabled(prefix, label)) writeOutput(df, spec)
      }
    case ("noop", _) =>
      df.write.format("noop").mode("overwrite").save()
    case ("memory", b) =>
      df.createOrReplaceTempView(b.get("name").asText)
    // ── output combinators (outputs/broker.adoc, switch.adoc,
    // fallback.adoc, reject.adoc, drop.adoc, sync_response.adoc) —
    // the YAML forms over the Sinks combinator functions ──────────────
    case ("broker", b) =>
      val kids = Option(b.get("outputs")).getOrElse(
        throw new IllegalArgumentException("broker output needs outputs"))
        .elements().asScala.toSeq
      require(kids.nonEmpty, "broker output needs outputs")
      b.path("pattern").asText("fan_out") match {
        case "fan_out" | "fan_out_sequential" | "fan_out_fail_fast" =>
          // sequential vs parallel delivery is a real-broker concern;
          // the batch writers below are each internally parallel, so
          // all three patterns share the persist-once fan
          Sinks.fanOut(df, kids.map(k => (d: DataFrame) =>
            writeOutput(d, k)))
        case "round_robin" | "greedy" =>
          // rows rotate across children by PARTITION-LOCAL ordinal —
          // monotonically_increasing_id is (pid << 33) + consecutive
          // local ordinal, so its value mod n cycles through every
          // child within each partition: a plain projection, NO
          // exchange and no sort, fair within ±numPartitions rows
          // (a row_number window here would hash-exchange and sort the
          // whole input — r17 advice). greedy's work-stealing has no
          // batch analog, so it shares the rotation (documented
          // divergence). persist() pins the nondeterministic ids so
          // every child filter sees the same assignment.
          val n = kids.size
          val cached = df.withColumn("__rr",
            pmod(monotonically_increasing_id(), lit(n))).persist()
          try kids.zipWithIndex.foreach { case (k, i) =>
            writeOutput(cached.filter(col("__rr") === i).drop("__rr"), k)
          } finally { cached.unpersist(); () }
        case other => throw new IllegalArgumentException(
          s"broker output pattern '$other' not supported")
      }
    case ("switch", b) =>
      // outputs/switch.adoc: first matching case wins unless the match
      // carries `continue: true`, in which case later cases still test
      val cases = Option(b.get("cases")).getOrElse(
        throw new IllegalArgumentException("switch output needs cases"))
        .elements().asScala.toSeq
      val metaCol = if (df.columns.contains("metadata")) Some("metadata")
                    else None
      val cached = df.persist()
      try {
        // reach(i): rows not yet claimed by an earlier non-continue match
        var reach: Column = lit(true)
        cases.foreach { c =>
          val check = Option(c.get("check")).map(_.asText)
            .filter(_.nonEmpty)
            .map(t => Blobl.predicateJson(cached, t, Map.empty,
              metadataCol = metaCol))
            .getOrElse(lit(true))
          val matched = reach && coalesce(check, lit(false))
          writeOutput(cached.filter(matched), Option(c.get("output"))
            .getOrElse(throw new IllegalArgumentException(
              "switch output case needs an output")))
          if (!c.path("continue").asBoolean(false))
            reach = reach && !coalesce(check, lit(false))
        }
      } finally { cached.unpersist(); () }
    case ("fallback", b) =>
      // the body is an ARRAY of child outputs, tried in order
      Sinks.fallback(df,
        b.elements().asScala.toSeq.map(k => (d: DataFrame) =>
          writeOutput(d, k)))
    case ("reject_errored", b) =>
      // healthy rows to the wrapped output; errored rows are REJECTED —
      // in a bounded run a nack has nowhere to requeue, so it fails the
      // run loudly with the first error (the reference nacks upstream)
      val d = graft.sources.Envelope.ensure(df).persist()
      try {
        writeOutput(d.filter(col(Envelope.ErrorCol).isNull), b)
        val bad = d.filter(col(Envelope.ErrorCol).isNotNull)
          .select(col(Envelope.ErrorCol)).limit(1).collect()
        if (bad.nonEmpty) throw new IllegalStateException(
          s"reject_errored: ${bad.head.getString(0)}")
      } finally { d.unpersist(); () }
    case ("reject", b) =>
      // every row reaching this output is rejected with the
      // interpolated reason (outputs/reject.adoc)
      val tpl = if (b.isTextual) b.asText else b.path("reason").asText("rejected")
      val metaCol = if (df.columns.contains("metadata")) Some("metadata")
                    else None
      val hit = df.withColumn("__reason",
          Blobl.interpolateJson(df, tpl, metadataCol = metaCol))
        .select(col("__reason")).limit(1).collect()
      if (hit.nonEmpty)
        throw new IllegalStateException(hit.head.getString(0))
    case ("drop", _) =>
      // acknowledge-and-discard: the pipeline's processors still run
      // (side effects count), the rows just go nowhere
      df.write.format("noop").mode("overwrite").save()
    case ("drop_on", b) =>
      // outputs/drop_on.adoc: silently drop rows matching the
      // configured conditions, pass the rest to the wrapped output.
      // `error: true` drops errored rows; `error_patterns` drops rows
      // whose error matches any regex. `back_pressure` is a liveness
      // condition with no batch analog (a bounded run has no broker to
      // time out against) — rejected loudly rather than faked.
      require(!b.has("back_pressure"),
        "drop_on.back_pressure has no bounded-batch analog here")
      val child = Option(b.get("output")).getOrElse(
        throw new IllegalArgumentException("drop_on needs an output"))
      val d = graft.sources.Envelope.ensure(df)
      val dropErr = b.path("error").asBoolean(false)
      val patterns = Option(b.get("error_patterns"))
        .map(_.elements().asScala.toSeq.map(_.asText)).getOrElse(Nil)
      val dropCond: Column =
        if (patterns.nonEmpty)
          patterns.map(p => col(Envelope.ErrorCol).isNotNull &&
            col(Envelope.ErrorCol).rlike(p)).reduce(_ || _)
        else if (dropErr) col(Envelope.ErrorCol).isNotNull
        else lit(false)
      writeOutput(d.filter(!coalesce(dropCond, lit(false))), child)
    case ("retry", b) =>
      // outputs/retry.adoc: re-attempt the wrapped output until it
      // succeeds, with the reference's bounded exponential backoff
      val child = Option(b.get("output")).getOrElse(
        throw new IllegalArgumentException("retry output needs an output"))
      // upstream defaults (outputs/retry.adoc:53-110): max_retries is
      // TOP-level and 0 means NO limit (the reference retries forever —
      // the alternative is nacking to the source); backoff defaults
      // 500ms/3s; max_elapsed_time 0s = unlimited
      val maxRetries = b.path("max_retries").asInt(0)
      var delayMs = durMs(b.at("/backoff/initial_interval").asText("500ms"))
      val maxDelayMs = durMs(b.at("/backoff/max_interval").asText("3s"))
      val maxElapsedMs = durMs(b.at("/backoff/max_elapsed_time").asText("0s"))
      val startNs = System.nanoTime()
      var attempt = 0
      var done = false
      while (!done) {
        try { writeOutput(df, child); done = true }
        catch {
          case e: InterruptedException => throw e
          case e: Throwable =>
            attempt += 1
            val elapsedMs = (System.nanoTime() - startNs) / 1000000L
            if ((maxRetries > 0 && attempt > maxRetries) ||
                (maxElapsedMs > 0 && elapsedMs >= maxElapsedMs))
              throw new IllegalStateException(
                s"retry output: $attempt attempts failed", e)
            Thread.sleep(delayMs)
            delayMs = math.min(delayMs * 2, maxDelayMs)
        }
      }
    case ("sql_raw", b) =>
      // outputs/sql_raw.adoc — per-message statements (or a `queries`
      // list) against the DSN-selected engine; `batching`/`max_in_flight`
      // are delivery knobs with no bounded-batch effect. A statement
      // failure fails the output (fallback/reject_errored see it).
      SqlRaw.output(df, b)
    case ("sync_response", _) =>
      // store the processed payloads for the request-scoped reader —
      // the http server's synchronous reply and the serverless
      // handler's return value (internal/serverless/handler.go:99-133)
      SyncResponse.store(
        graft.sources.Envelope.ensure(df)
          .select(col(Envelope.ValueCol)).collect()
          .map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq)
    case ("cache", b) =>
      // outputs/cache.adoc: upsert each row into a cache resource under
      // the interpolated key. File caches write one file per key;
      // view-backed caches (memory/lru/...) merge into the temp view.
      val label = b.get("target").asText
      val keyTpl = b.path("key").asText("${! uuid_v4() }")
      val metaCol = if (df.columns.contains("metadata")) Some("metadata")
                    else None
      val kv = graft.sources.Envelope.ensure(df).select(
        Blobl.interpolateJson(df, keyTpl, metadataCol = metaCol).as("key"),
        col(Envelope.ValueCol).as("value"))
      cacheLevelsOf(label) match {
        case Some(levels) =>
          // write-through all resolvable levels (multilevel contract);
          // bounded control-state batch (a cursor, a dedupe key…)
          kv.collect().foreach { r =>
            levels.foreach(_.put(r.getString(0), r.getString(1)))
          }
          // keep the relational view in step for store-backed labels —
          // downstream plans read `cache_<label>` as a table
          if (liveCacheStores.contains(label)) {
            val spark = df.sparkSession
            import spark.implicits._
            liveCacheStores(label).toSeq.toDF("key", "value")
              .createOrReplaceTempView(s"cache_$label")
          }
        case None =>
          val spark = df.sparkSession
          val view = s"cache_$label"
          require(spark.catalog.tableExists(view),
            s"cache output: unknown cache resource '$label'")
          // last-write-wins upsert into the view (new keys shadow old)
          val merged = spark.table(view).join(kv, Seq("key"), "left_anti")
            .unionByName(kv).localCheckpoint()
          merged.createOrReplaceTempView(view)
      }
    case (other, b) =>
      Templates.lookup("output", other) match {
        case Some(t) => Templates.guard("output", other) {
          writeOutput(df, Templates.expand(df.sparkSession, t, b))
        }
        case None => throw new IllegalArgumentException(
          s"output '$other' not supported")
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

/** Config-form processor vocabulary, shared by [[Pipeline]] and the
  * declarative test harness ([[graft.testkit.DeclarativeTest]]).
  *
  * Covers every reference processor family that is expressible in this
  * environment. Connector-bound processors (mongodb/redis/nats/jira/
  * slack/google_drive/qdrant/azure_cosmosdb/aws/gcp families and the
  * javascript/wasm/ffi embedded runtimes) need jars or network the
  * container lacks — `compile` rejects them with an "environment-blocked"
  * message rather than a silent stub. Cloud AI chat processors
  * (`openai_chat_completion`, `ollama_chat`, `cohere_chat`, …) compile
  * onto the pluggable batched client of [[graft.operators.Ai]].
  *
  * Envelope contract: the payload is `value: string`; `metadata:
  * map<string,string>` optional; `error: string` is the error channel;
  * `__seq: long` (input order) is used as the in-batch ordinal by
  * part-indexed ops — synthesized from the split ordinal when an
  * exploding processor (unarchive/text_chunker/string_split) multiplies
  * rows. Binary payloads (compress/avro/protobuf/msgpack encodings)
  * travel base64-encoded in `value` — the envelope stays a string
  * column; a production sink that wants raw bytes applies `unbase64`.
  */
object Processors {

  import graft.operators.{Ai, Command, Embeddings, FlowControl, Grok, Http, JavaScript, Sentry}
  import graft.functions.{CodecFunctions, TextFunctions}

  def compile(p: JsonNode, env: Map[String, String]): DataFrame => DataFrame = {
    // `label:` names a component for metrics/tests — not a component key
    val fields = p.properties().asScala.toSeq
      .filterNot(_.getKey == "label")
    require(fields.size == 1, s"processor must have exactly one key: $p")
    val (kind, body) = (fields.head.getKey, fields.head.getValue)
    kind match {
      // ── mapping layer ────────────────────────────────────────────
      case "mapping" | "bloblang" =>
        df => {
          val (d, meta) = Blobl.ensureMeta(df, body.asText)
          Blobl.mapping(d, body.asText, env, metadataCol = meta)
        }
      case "mutation" =>
        df => {
          val (d, meta) = Blobl.ensureMeta(df, body.asText)
          Blobl.mutation(d, body.asText, env, metadataCol = meta)
        }
      case "jq" =>
        df => Jq.run(df, body.asText, "value", "value")
      case "jmespath" =>
        // processors/jmespath.adoc:26 — path query replaces the doc
        df => Jq.jmespath(df, body.path("query").asText(body.asText),
          "value", "value")
      case "noop" => identity
      case "awk" =>
        // processors/awk.adoc:26 — codec none|text|json + program;
        // custom json_*/metadata_*/timestamp functions built in
        val program = body.get("program").asText
        val codec = body.path("codec").asText("text")
        df => graft.operators.AwkOps.awk(df, program, codec)

      case "javascript" =>
        // processors/javascript.adoc:26 — `code` or `file` (exactly
        // one), `global_folders` for require() resolution
        val code = Option(body.get("code")).map(_.asText).filter(_.nonEmpty)
        val file = Option(body.get("file")).map(_.asText).filter(_.nonEmpty)
        require(code.isDefined != file.isDefined,
          "javascript: exactly one of code/file must be set")
        val src = code.getOrElse(new String(
          java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(file.get)),
          java.nio.charset.StandardCharsets.UTF_8))
        val folders = Option(body.get("global_folders"))
          .map(_.elements().asScala.toSeq.map(_.asText)).getOrElse(Nil)
        val modules = JavaScript.loadModules(folders)
        df => JavaScript.processor(df, src, modules)

      case "wasm" =>
        // processors/wasm.adoc — module_path (the .wasm binary) +
        // function (default "process"), run on graft's own engine
        val path = body.get("module_path").asText
        val fn = body.path("function").asText("process")
        val moduleBytes = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path))
        df => graft.operators.Wasm.processor(df, moduleBytes, fn)

      case "ffi" =>
        // processors/ffi.adoc — dlopen + per-message downcall; the
        // signature object mirrors the reference's return/parameters
        // shape (internal/impl/ffi/processor.go:50)
        import graft.operators.Ffi
        val libPath = body.get("library_path").asText
        val fnName = body.get("function_name").asText
        val argsMapping = body.get("args_mapping").asText
        val sigNode = body.get("signature")
        val ret = Ffi.retType(sigNode.at("/return/type").asText("void"))
        val params = Option(sigNode.get("parameters")).toSeq
          .flatMap(_.elements().asScala).map { p =>
            Ffi.Param(Ffi.paramType(p.get("type").asText),
              p.path("out").asBoolean(false))
          }
        df => Ffi.processor(df, libPath, fnName,
          Ffi.Signature(ret, params), argsMapping)

      case "redpanda_data_transform" =>
        // internal/impl/redpanda/processor_data_transform.go:60 —
        // Redpanda Data Transform guests on graft's own wasm engine;
        // key/timestamp come from named metadata (the reference's
        // interpolation forms resolve metadata the same way)
        val moduleBytes = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(body.get("module_path").asText))
        val inKey = Option(body.path("input_key").asText(null))
        val outKey = Option(body.path("output_key").asText(null))
        val tsMeta = Option(body.path("timestamp").asText(null))
        df => {
          // the guest's output batch REPLACES the input batch (record
          // counts may change), so __seq is re-derived in emit order —
          // partition-encoded, like every rebatching processor here
          val out = graft.operators.RedpandaTransform.processor(
            df, moduleBytes, inputKeyMeta = inKey, outputKeyMeta = outKey,
            timestampMeta = tsMeta)
          if (df.columns.contains("__seq"))
            out.withColumn("__seq", monotonically_increasing_id())
          else out
        }

      case "redpanda_agent_runtime" =>
        // internal/agent/agent_processor.go:49 — per-message InvokeAgent
        // to a pooled guest subprocess (handshake + gRPC over h2c); the
        // guest's MCP tool calls resolve against `mcp_server`
        val command = Option(body.get("command")).toSeq
          .flatMap(_.elements().asScala).map(_.asText)
        val mcpServer = body.path("mcp_server").asText("")
        val cwd = body.path("cwd").asText("")
        df => graft.agent.AgentRuntime.processor(df, command, mcpServer, cwd)

      // ── flow control / error channel (§2.2) ──────────────────────
      case "switch" =>
        // processors/switch.adoc:26 — first matching case's processors
        // run; non-matching messages pass through unchanged
        val cases = body.elements().asScala.toSeq.map { c =>
          val check = Option(c.get("check")).map(_.asText).filter(_.nonEmpty)
          val procs = children(c.get("processors"), env)
          (check, procs)
        }
        df => {
          val claimed = cases.foldLeft((lit(false), Seq.empty[DataFrame])) {
            case ((taken, outs), (check, procs)) =>
              val pred = check.map(Blobl.predicateJson(df, _, env,
                metadataCol = metaColOf(df))).getOrElse(lit(true))
              val mine = df.filter(!taken && pred)
              (taken || pred, outs :+ procs(mine))
          }
          val untouched = df.filter(!claimed._1)
          (claimed._2 :+ untouched)
            .reduce(_.unionByName(_, allowMissingColumns = true))
        }
      case "branch" =>
        // processors/branch.adoc:26 — request_map → child processors →
        // result_map merged back onto the original by row id
        val reqMap = Option(body.get("request_map")).map(_.asText)
        val procs = children(body.get("processors"), env)
        val resMap = Option(body.get("result_map")).map(_.asText)
        df => {
          // withSeq may synthesize __seq via monotonically_increasing_id
          // (nondeterministic); the self-join below evaluates each side
          // independently, so pin the ids with a localCheckpoint before
          // splitting — otherwise a re-read with different row order
          // joins branch results onto the wrong originals. Streaming
          // plans can't checkpoint here and must carry a real __seq.
          // the rejoin needs a GLOBALLY unique row id: __seq is only
          // unique within a batch (group_by_value resets it per group),
          // and joining on a colliding id cross-multiplies rows (r18
          // bug: branch after group_by_value duplicated every chunk by
          // the number of groups). Batch plans pin a fresh id with a
          // localCheckpoint; streaming plans keep their real __seq.
          val (keyed, idCol) =
            if (df.isStreaming) (withSeq(df), "__seq")
            else (df.withColumn("__brid", monotonically_increasing_id())
              .localCheckpoint(), "__brid")
          val req0 = keyed.select(col(idCol).as("__bid"),
            col("value"))
          val req = reqMap.map(Blobl.mapping(req0, _, env)).getOrElse(req0)
          val branchedRaw = procs(req)
          // a failed child errors the ORIGINAL message (branch.adoc:
          // abort semantics) — carry the branch-side error through the
          // rejoin and leave such rows' documents untouched
          val branched = branchedRaw.select(col("__bid"),
            col("value").as("__branch_value"),
            (if (branchedRaw.columns.contains("error")) col("error")
             else lit(null).cast("string")).as("__branch_err"))
          // drop branched's __bid BY REFERENCE: a by-name drop would
          // also remove an OUTER branch's __bid when branches nest
          // (workflow score branch wrapping a while-loop branch)
          val joined = keyed.join(branched,
            keyed(idCol) === branched("__bid"), "left")
            .drop(branched("__bid"))
          val merged = resMap match {
            case Some(rm) =>
              val pre = joined.withColumn("__orig_value", col("value"))
              Blobl.resultMap(pre, rm,
                "__branch_value", "value", env, metaColOf(df))
                .withColumn("value", when(col("__branch_err").isNotNull,
                  col("__orig_value")).otherwise(col("value")))
                .drop("__orig_value")
            case None => joined.drop("__branch_value")
          }
          val withErr =
            if (merged.columns.contains("error"))
              merged.withColumn("error",
                coalesce(col("error"), col("__branch_err")))
            else merged.withColumn("error", col("__branch_err"))
          withErr.drop("__branch_err", "__brid")
        }
      case "try" =>
        // processors/try.adoc:26 — children skip already-errored rows
        tryEach(childList(body, env))
      case "try_catch" =>
        // processors/try_catch.adoc — try semantics over `processors`;
        // failures move into a metadata object ({"what": …}, field
        // `error_metadata`) with the flag CLEARED before `catch` runs,
        // so recovery reads @error.what and new catch-side failures
        // surface as fresh errors
        val procs = tryEach(
          childList(Option(body.get("processors")).orNull, env))
        val catchProcs = children(Option(body.get("catch")).orNull, env)
        val errField = body.path("error_metadata").asText("error")
        df => {
          val tried = procs(df)
          val ok = tried.filter(col("error").isNull)
          val cleared = tried.filter(col("error").isNotNull)
            .withColumn("metadata", metaPut(metaColOf(tried),
              lit(errField), to_json(struct(col("error").as("what")))))
            .withColumn("error", lit(null).cast("string"))
          ok.unionByName(catchProcs(cleared), allowMissingColumns = true)
        }
      case "catch" =>
        // processors/catch.adoc:26 — children run on errored rows only,
        // then the error clears
        val procs = children(body, env)
        df => FlowControl.catchErrors(df, procs)
      case "retry" =>
        // processors/retry.adoc:26 — re-run children on still-errored
        // rows up to max_retries (deterministic transforms converge
        // after one pass; the loop matters for external-call children)
        val procs = children(body.get("processors"), env)
        val maxRetries = body.path("max_retries").asInt(3)
        df => {
          var cur = procs(FlowControl.withErrorChannel(df))
          var i = 0
          while (i < maxRetries) {
            val ok = cur.filter(col("error").isNull)
            val redo = cur.filter(col("error").isNotNull)
              .withColumn("error", lit(null).cast("string"))
            cur = ok.unionByName(procs(redo), allowMissingColumns = true)
            i += 1
          }
          cur
        }
      case "for_each" | "processors" =>
        // per-message singleton batches = Spark's default row semantics
        // — UNLESS the chain mutates a cache, where the reference's
        // contract is that message i finishes the WHOLE chain before
        // message i+1 starts (config/examples/joining_streams.yaml:
        // "a given message of a batch is cached before the next
        // message is hydrated"). That cross-message coherence is
        // inherently sequential in ANY engine; only then do we run a
        // driver loop over the (control-sized) batch. Stateless chains
        // keep the distributed row-wise plan.
        val mutatesCache = {
          def walk(n: JsonNode): Boolean = n match {
            case a: com.fasterxml.jackson.databind.node.ArrayNode =>
              a.elements().asScala.exists(walk)
            case o: com.fasterxml.jackson.databind.node.ObjectNode =>
              Option(o.get("cache")).exists(c => Set("set", "add", "delete")(
                c.path("operator").asText("get"))) ||
                o.properties().asScala.exists(e => walk(e.getValue))
            case _ => false
          }
          kind == "for_each" && walk(body)
        }
        val chain = children(body, env)
        if (!mutatesCache) chain
        else df => {
          val spark = df.sparkSession
          val inSchema = df.schema
          val ordered = if (df.columns.contains("__seq"))
            df.orderBy(col("__seq")) else df
          val rows = ordered.collect() // bounded: for_each control batch
          if (rows.isEmpty) chain(df.limit(0))
          else {
            val outs = rows.toSeq.map { r =>
              val single = spark.createDataFrame(
                java.util.Arrays.asList(r), inSchema)
              val out = chain(single)
              // materialize NOW so this message's cache writes precede
              // the next message's reads
              (out.schema, out.collect().toSeq)
            }
            outs.map { case (sch, rs) =>
              spark.createDataFrame(rs.asJava, sch)
            }.reduce(_.unionByName(_, allowMissingColumns = true))
          }
        }
      case "parallel" =>
        val procs = children(body.get("processors"), env)
        val cap = body.path("cap").asInt(0)
        df => FlowControl.parallel(df, procs,
          if (cap > 0) Some(cap) else None)
      case "while" =>
        // processors/while.adoc:26 — driver-bounded re-application
        val check = body.get("check").asText
        val procs = children(body.get("processors"), env)
        val maxLoops = body.path("max_loops").asInt(10)
        df => FlowControl.whileLoop(df,
          d => !d.filter(Blobl.predicateJson(d, check, env,
            metadataCol = metaColOf(d))).isEmpty,
          procs, maxLoops)
      case "workflow" =>
        // processors/workflow.adoc — DAG of named branches. `order`
        // may be flat or tiered; when omitted, the DAG is INFERRED
        // from the mappings (workflow.adoc:100-105): branch B depends
        // on branch A when B's request_map reads a root field A's
        // result_map assigns. `meta_path` (default meta.workflow)
        // stores the {succeeded, skipped, failed} execution record IN
        // the message (workflow.adoc:351-371), branch failures are
        // recorded rather than failing the message, an existing record
        // at the path skips already-done branches on replay, and the
        // old record is preserved under `.previous`.
        val stages = body.get("branches")
        val names = stages.properties().asScala.map(_.getKey).toSeq
        val metaPath = body.path("meta_path").asText("meta.workflow")
        def srcOf(n: String, f: String): Option[String] =
          Option(stages.at(s"/$n/$f")).filterNot(_.isMissingNode)
            .map(_.asText).filter(_.nonEmpty)
        def thisHeads(x: Any): Set[String] = x match {
          case graft.blobl.Ast.ThisPath(segs) if segs.nonEmpty =>
            Set(segs.head)
          case s: Seq[_] => s.flatMap(thisHeads).toSet
          case o: Option[_] => o.toSeq.flatMap(thisHeads).toSet
          case p: Product => p.productIterator.flatMap(thisHeads).toSet
          case _ => Set.empty
        }
        val provides: Map[String, Set[String]] = names.map(n =>
          n -> srcOf(n, "result_map").map(src =>
            graft.blobl.Parser.parse(src).stmts.collect {
              case graft.blobl.Ast.RootAssign(segs, _) if segs.nonEmpty =>
                segs.head
            }.toSet).getOrElse(Set.empty)).toMap
        val needs: Map[String, Set[String]] = names.map(n =>
          n -> srcOf(n, "request_map").map(src =>
            thisHeads(graft.blobl.Parser.parse(src))).getOrElse(Set.empty))
          .toMap
        val deps: Map[String, Seq[String]] = names.map(b =>
          b -> names.filter(a => a != b && (provides(a) & needs(b)).nonEmpty))
          .toMap
        val declared = Option(body.get("order"))
          .map(_.elements().asScala.toSeq.flatMap(n =>
            if (n.isArray) n.elements().asScala.toSeq.map(_.asText)
            else Seq(n.asText))).filter(_.nonEmpty)
        val order = declared.getOrElse {
          // Kahn topological sort; ties keep declaration order
          val done = scala.collection.mutable.LinkedHashSet.empty[String]
          while (done.size < names.size) {
            val ready = names.filter(n => !done(n) &&
              deps(n).forall(done))
            require(ready.nonEmpty, "workflow: cyclic branch " +
              s"dependencies among ${names.filterNot(done).mkString(", ")}")
            done ++= ready
          }
          done.toSeq
        }
        val branchFns = order.map(n =>
          n -> compile(yamlObj("branch", stages.get(n)), env)).toMap
        df0 => {
          val df = FlowControl.withErrorChannel(df0)
          val emptyArr = array().cast("array<string>")
          var cur = df
            .withColumn("__wf_succ", emptyArr)
            .withColumn("__wf_skip", emptyArr)
            .withColumn("__wf_fail", map().cast("map<string,string>"))
          val vpath = "$." + metaPath
          // replay support: branches recorded succeeded/skipped in an
          // existing meta object do not run again; failed ones retry
          cur = cur
            .withColumn("__wf_done0", coalesce(
              concat(
                variant_get(try_parse_json(col("value")),
                  vpath + ".succeeded", "array<string>"),
                variant_get(try_parse_json(col("value")),
                  vpath + ".skipped", "array<string>")),
              emptyArr))
            .withColumn("__wf_prev",
              to_json(variant_get(try_parse_json(col("value")), vpath,
                "variant")))
          order.foreach { b =>
            val eligC = deps(b).foldLeft(
              col("error").isNull && !array_contains(col("__wf_done0"),
                lit(b)))((c, a) => c && array_contains(col("__wf_succ"),
                lit(a)))
            val elig = cur.filter(coalesce(eligC, lit(false)))
            val rest = cur.filter(!coalesce(eligC, lit(false)))
              .withColumn("__wf_skip",
                array_append(col("__wf_skip"), lit(b)))
            val ran = branchFns(b)(elig)
            val ok = ran.filter(col("error").isNull)
              .withColumn("__wf_succ",
                array_append(col("__wf_succ"), lit(b)))
            val bad = ran.filter(col("error").isNotNull)
              .withColumn("__wf_fail", map_concat(col("__wf_fail"),
                map(lit(b), coalesce(col("error"), lit("failed")))))
              .withColumn("error", lit(null).cast("string"))
            cur = ok.unionByName(bad).unionByName(rest)
          }
          // store the execution record in the document at metaPath
          // (only JSON-object payloads can carry it — same constraint
          // as the reference's dot-path set)
          val recObj = to_json(struct(
            col("__wf_succ").as("succeeded"),
            col("__wf_skip").as("skipped"),
            col("__wf_fail").as("failed")))
          val withPrev = when(col("__wf_prev").isNotNull,
            call_function("graft_json_assign", recObj,
              concat(lit("{\"previous\":"), col("__wf_prev"), lit("}"))))
            .otherwise(recObj)
          val nested = metaPath.split("\\.").foldRight(withPrev)(
            (seg, inner) => concat(lit("{\"" + seg + "\":"), inner,
              lit("}")))
          cur.withColumn("value",
              when(try_parse_json(col("value")).isNotNull &&
                   schema_of_variant(try_parse_json(col("value")))
                     .startsWith("OBJECT"),
                call_function("graft_json_assign",
                  call_function("graft_json_normalize", col("value")),
                  nested))
                .otherwise(col("value")))
            .drop("__wf_succ", "__wf_skip", "__wf_fail", "__wf_done0",
              "__wf_prev")
        }
      case "crash" =>
        val check = body.path("check").asText("true")
        val msg = body.path("message").asText("crash processor reached")
        df => Observe.crashOn(df,
          Blobl.predicateJson(df, check, env, metadataCol = metaColOf(df)), msg)
      case "sleep" =>
        // processors/sleep.adoc:26 — backpressure belongs to source
        // admission in Spark (Resources.rateLimitOptions); in-plan sleep
        // is identity
        identity
      case "rate_limit" =>
        // rate_limits/local.adoc:26 — admission control is a SOURCE
        // option in Spark (maxRowsPerTrigger); in-plan form is identity
        identity
      case "log" =>
        df => Observe.logSample(df, every = body.path("every").asLong(1000),
          prefix = body.path("prefix").asText("pipeline"))
      case "metric" =>
        // processors/metric.adoc — attach a named metric at this point
        // of the flow; readings surface through the `metrics:` exporter
        // at flush. counter = rows seen; gauge = the interpolated
        // `value` (max over the frame — observe() is whole-frame).
        val name = body.path("name").asText("pipeline_metric")
        val mtype = body.path("type").asText("counter")
        val labelTpls: Seq[(String, String)] =
          Option(body.get("labels")).map(_.properties().asScala.toSeq
            .map(e => e.getKey -> e.getValue.asText)).getOrElse(Nil)
        if (labelTpls.isEmpty) df => {
          val (d, obs) = mtype match {
            case "gauge" if body.has("value") =>
              val vC = Blobl.interpolateJson(df, body.get("value").asText,
                env, metadataCol = metaColOf(df)).cast("double")
              Observe.metric(df, name, Seq(max(vC).as("value")))
            case _ =>
              Observe.metric(df, name, Seq(count(lit(1)).as("count")))
          }
          Pipeline.runReadings.value
            .foreach(_.observed.add((name, mtype, obs)))
          d
        }
        else df => {
          // labeled form: per-label-set readings via an accumulator on
          // the SAME action (labels interpolate per message —
          // processors/metric.adoc labels)
          val meta = metaColOf(df)
          val lvC = to_json(array(labelTpls.map { case (_, tpl) =>
            Blobl.interpolateJson(df, tpl, env, metadataCol = meta)
              .cast("string")
          }: _*))
          val gvC = if (mtype == "gauge" && body.has("value"))
            Blobl.interpolateJson(df, body.get("value").asText, env,
              metadataCol = meta).cast("double")
          else lit(Double.NegativeInfinity)
          val acc = new Pipeline.MetricAcc
          df.sparkSession.sparkContext.register(acc, s"graft_metric_$name")
          Pipeline.runReadings.value.foreach(
            _.labeled.add((name, mtype, labelTpls.map(_._1), acc)))
          val tagged = df.withColumn("__mlv", lvC).withColumn("__mgv", gvC)
          val schema = tagged.schema
          implicit val enc = org.apache.spark.sql.Encoders.row(schema)
          val lI = schema.fieldIndex("__mlv")
          val gI = schema.fieldIndex("__mgv")
          tagged.mapPartitions { it =>
            val local = scala.collection.mutable
              .HashMap.empty[String, (Long, Double)]
            it.map { r =>
              val k = r.getString(lI)
              val g = r.getDouble(gI)
              val cur = local.getOrElse(k, (0L, Double.NegativeInfinity))
              local(k) = (cur._1 + 1, math.max(cur._2, g))
              r
            } ++ { acc.add(local.toMap); Iterator.empty }
          }.drop("__mlv", "__mgv")
        }
      case "benchmark" =>
        // processors/benchmark.adoc:26 — rows/s via an Observation; the
        // plan is unchanged
        df => Observe.metric(df, "benchmark",
          Seq(count(lit(1)).as("rows")))._1

      // ── batch restructuring (§2.3) ───────────────────────────────
      case "group_by" =>
        // processors/group_by.adoc:26 — first matching predicate wins;
        // the group id lands in metadata AND refines the batch
        // identity (the reference REGROUPS batches — downstream
        // batch-scoped ops see each group as its own batch)
        val checks = body.elements().asScala.toSeq
          .map(c => c.get("check").asText)
        df => {
          val preds = checks.map(Blobl.predicateJson(df, _, env,
            metadataCol = metaColOf(df)))
          regroup(tagMeta(df, "group",
            preds.zipWithIndex.foldRight(lit(-1): Column) {
              case ((p, i), acc) => when(p, lit(i)).otherwise(acc)
            }.cast("string")))
        }
      case "group_by_value" =>
        val tpl = body.path("value").asText(body.asText)
        df => regroup(tagMeta(df, "group",
          Blobl.interpolateJson(df, tpl, env, metadataCol = metaColOf(df))))
      case "split" =>
        // processors/split.adoc:26 — size-N sub-batches by input order.
        // row_number over __seq: only RELATIVE order matters, so this
        // stays correct after unarchive/chunker (__seq = parent*1e6+pos)
        // or a partition-encoded monotonically_increasing_id. Scoped per
        // __batch when the batched input assigned one (hash-partitioned
        // window, no single-reducer plan); split REBATCHES, so __batch
        // is re-derived as parent*1e6+sub so downstream per-batch ops
        // see the sub-batches.
        val n = body.path("size").asInt(1)
        df => {
          val d0 = withSeq(df)
          val batchKey =
            if (d0.columns.contains("__batch")) col("__batch") else lit(0L)
          val d = BatchOps.splitBatches(d0, batchKey, col("__seq"), n)
          val rebatched =
            if (d0.columns.contains("__batch"))
              d.withColumn("__batch",
                col("__batch") * 1000000L + col("sub_batch"))
            else d
          tagMeta(rebatched, "sub_batch", col("sub_batch").cast("string"))
            .drop("sub_batch")
        }
      case "select_parts" =>
        // per-batch part indices when a batched input assigned __batch
        // (select_parts.adoc is per-batch); whole-stream otherwise
        val parts = body.get("parts").elements().asScala.toSeq.map(_.asInt)
        df => {
          val d = withSeq(df)
          val batchKey =
            if (d.columns.contains("__batch")) col("__batch") else lit(0L)
          BatchOps.selectParts(d, batchKey, col("__seq"), parts)
            .drop("batch_idx")
        }
      case "insert_part" =>
        val index = body.path("index").asInt(-1)
        val content = body.path("content").asText("")
        // the inserted message has no source row, so content must be a
        // literal (per-row interpolation has nothing to bind to)
        require(!content.contains("${!"),
          "insert_part content interpolation unsupported in config form")
        df => {
          val d0 = withSeq(df)
          // insert is per-batch: one synthesized part per __batch group
          // (a real column also keeps insertPart's group alias a legal
          // envelope column — a lit(0) key would union in a literal-
          // named one)
          val had = d0.columns.contains("__batch")
          val d = if (had) d0 else d0.withColumn("__batch", lit(0L))
          val r0 = BatchOps.insertPart(d, col("__batch"), col("__seq"),
            "value", lit(content), index)
          // re-derive __seq UNIQUELY across batches (a per-batch
          // ordinal would collide between batches and break downstream
          // order/dedupe determinism): existing rows keep their
          // stream-wide ordinal doubled; the inserted row slots in just
          // before the row it displaced (or after the batch's last row
          // when appended) — all per-__batch windows, no global sort
          val wB = org.apache.spark.sql.expressions.Window
            .partitionBy(col("__batch"))
          val r = r0
            .withColumn("__ins_idx",
              max(when(col("__seq").isNull, col("batch_idx"))).over(wB))
            .withColumn("__next", min(when(
              col("batch_idx") === col("__ins_idx") + 1, col("__seq"))).over(wB))
            .withColumn("__max", max(col("__seq")).over(wB))
            .withColumn("__seq",
              when(col("__seq").isNotNull, col("__seq") * 2)
                .otherwise(coalesce(col("__next") * 2 - 1,
                  col("__max") * 2 + 1, lit(0L))))
            .drop("__ins_idx", "__next", "__max", "batch_idx")
          if (had) r else r.drop("__batch")
        }
      case "archive" =>
        // processors/archive.adoc:26 — each BATCH folds into ONE
        // message: per __batch when the batched input assigned one,
        // else the whole stream is one batch
        val fmt = body.path("format").asText("lines")
        df => {
          val d = withSeq(df)
          val batchKey =
            if (d.columns.contains("__batch")) col("__batch") else lit(0L)
          val archived = fmt match {
            case "lines" | "concatenate" =>
              BatchOps.archiveLines(d, batchKey, col("value"), col("__seq"))
            case "json_array" =>
              BatchOps.archiveJsonArray(d, batchKey, col("value"), col("__seq"))
            case other => throw new IllegalArgumentException(
              s"archive format '$other' unsupported in config form (tar/zip are source scanners)")
          }
          // "The resulting archived message adopts the metadata of the
          // _first_ message part of the batch" (processors/archive.adoc:38)
          val firstMeta =
            if (df.columns.contains("metadata"))
              d.groupBy(batchKey.as("key"))
                .agg(min_by(col("metadata"), col("__seq")).as("metadata"))
            else null
          val res = archived.select(col("archived").as("value"),
            col("key").cast("long").as("__seq"), col("key"))
          val withMeta =
            if (firstMeta == null)
              res.withColumn("metadata", map().cast("map<string,string>"))
            else res.join(firstMeta, Seq("key"))
          withMeta.drop("key")
        }
      case "unarchive" =>
        val fmt = body.path("format").asText("lines")
        df => fmt match {
          case "lines" => explodeParts(df,
            split(col("value"), java.util.regex.Pattern.quote("\n")))
          case "json_array" => explodeParts(df,
            transform(try_parse_json(col("value")).cast("array<variant>"),
              v => to_json(v)))
          case "json_map" =>
            val d = withSeq(df)
            val cols = d.columns.filterNot(_ == "value").map(col)
            d.select(cols :+
                posexplode(try_parse_json(col("value"))
                  .cast("map<string,variant>"))
                  .as(Seq("__pos", "part_key", "__pv")): _*)
              .withColumn("value", to_json(col("__pv")))
              .withColumn("__seq", col("__seq") * 1000000 + col("__pos"))
              .withColumn("metadata", metaPut(metaColOf(d),
                lit("archive_key"), col("part_key")))
              .drop("__pv", "__pos", "part_key")
          case "csv" =>
            val lines = split(col("value"), "\n")
            val header = split(element_at(lines, 1), ",")
            val rows = slice(lines, lit(2), greatest(size(lines) - 1, lit(0)))
            explodeParts(df, transform(rows,
              r => to_json(map_from_arrays(header, split(r, ",")))))
          case other => throw new IllegalArgumentException(
            s"unarchive format '$other' unsupported in config form")
        }
      case "string_split" =>
        // processor_string_split.go:84-115 — the message's structured
        // content BECOMES the array of segments (no batch expansion);
        // empty_as_null maps empty segments to null. Spark split keeps
        // trailing empties (limit -1), matching Go strings.Split.
        val delim = body.path("delimiter").asText("\n")
        val emptyAsNull = body.path("empty_as_null").asBoolean(false)
        df => df.withColumn("value", to_json {
          val parts = split(col("value"),
            java.util.regex.Pattern.quote(delim), -1)
          if (emptyAsNull)
            transform(parts, s => when(length(s) === 0, lit(null)).otherwise(s))
          else parts
        })
      case "text_chunker" =>
        val size = body.path("chunk_size").asInt(512)
        val overlap = body.path("chunk_overlap").asInt(0)
        val strategy = body.path("strategy").asText("fixed")
        df => explodeParts(df, strategy match {
          case "recursive_character" =>
            TextFunctions.chunksRecursive(col("value"), size, overlap)
          case "token" =>
            // text_chunker_processor.go:61,75 — size/overlap in tokens
            TextFunctions.chunksToken(col("value"), size, overlap)
          case _ => TextFunctions.chunks(col("value"), size, overlap)
        })
      case "dedupe" =>
        // processors/dedupe.adoc:26 — keep the FIRST occurrence per key
        val keyTpl = body.path("key").asText("${! content() }")
        df =>
          if (df.isStreaming) {
            // streaming form: keyed state — the first sighting wins
            // ACROSS micro-batches, and WITHIN one the lowest-__seq row
            // is picked explicitly (dropDuplicates alone keeps an
            // arbitrary row per key inside a batch, which would diverge
            // from the batch window's deterministic first-occurrence).
            // State is unbounded; the TTL-bounded form is
            // StreamDedupe.withinWatermark when an event-time column
            // exists.
            import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
            val d = df.withColumn("__dedupe_key",
              Blobl.interpolateJson(df, keyTpl, env, metadataCol = metaColOf(df)))
            val schema = d.schema
            val keyIdx = schema.fieldIndex("__dedupe_key")
            val seqIdx =
              if (d.columns.contains("__seq")) Some(schema.fieldIndex("__seq"))
              else None
            implicit val rowEnc = org.apache.spark.sql.Encoders.row(schema)
            implicit val boolEnc = org.apache.spark.sql.Encoders.scalaBoolean
            implicit val keyEnc = org.apache.spark.sql.Encoders.STRING
            d.groupByKey(r =>
                if (r.isNullAt(keyIdx)) "\u0000" else r.getString(keyIdx))
              .flatMapGroupsWithState(OutputMode.Append,
                GroupStateTimeout.NoTimeout) {
                (_: String, rows: Iterator[org.apache.spark.sql.Row],
                 state: GroupState[Boolean]) =>
                  if (state.exists) Iterator.empty
                  else {
                    state.update(true)
                    val all = rows.toVector
                    Iterator.single(seqIdx match {
                      case Some(i) => all.minBy(r =>
                        if (r.isNullAt(i)) Long.MaxValue else r.getLong(i))
                      case None => all.head
                    })
                  }
              }.drop("__dedupe_key")
          } else {
            val d = withSeq(df).withColumn("__dedupe_key",
              Blobl.interpolateJson(df, keyTpl, env, metadataCol = metaColOf(df)))
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("__dedupe_key")).orderBy(col("__seq"))
            d.withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1).drop("__rn", "__dedupe_key")
          }
      case "bounds_check" =>
        val min = body.path("min").asInt(0)
        val max = body.path("max").asInt(Int.MaxValue)
        df => BatchOps.boundsCheck(df, col("value"), min, max)

      // ── codecs (§2.10) ───────────────────────────────────────────
      case "compress" =>
        val algo = body.path("algorithm").asText("gzip")
        kernels { df => df.withColumn("value",
          base64(CodecFunctions.compress(col("value").cast("binary"), algo))) }
      case "decompress" =>
        val algo = body.path("algorithm").asText("gzip")
        kernels { df => df.withColumn("value",
          CodecFunctions.decompress(unbase64(col("value")), algo)
            .cast("string")) }
      case "avro" =>
        // processors/avro.adoc:26 — operator to_json / from_json
        val schema = body.get("schema").toString
        body.path("operator").asText("to_json") match {
          case "from_json" => kernels { df => df.withColumn("value",
            base64(CodecFunctions.avroEncode(col("value"), schema))) }
          case _ => kernels { df => df.withColumn("value",
            CodecFunctions.avroDecode(unbase64(col("value")), schema)) }
        }
      case "protobuf" if body.has("message") =>
        // the real config form (processors/protobuf.adoc): a message
        // FQN + `.proto` schema files from import_paths, proto3 JSON
        // mapping both ways. Errors (unknown fields, bad wire bytes)
        // land on the ROW's error channel so try/catch composes
        // (config/test/protobuf/{house,people}.yaml).
        val fqn = body.get("message").asText
        val fromJson = body.path("operator").asText("to_json") == "from_json"
        val joined = Option(body.get("import_paths"))
          .map(_.elements().asScala.toSeq.map(_.asText)).getOrElse(Nil)
          .flatMap { dir =>
            val d = java.nio.file.Paths.get(dir)
            if (!java.nio.file.Files.isDirectory(d)) Nil
            else {
              import scala.jdk.CollectionConverters._
              java.nio.file.Files.list(d).iterator().asScala
                .filter(_.toString.endsWith(".proto")).toSeq.sortBy(_.toString)
                .map(p => java.nio.file.Files.readString(p))
            }
          }.mkString(graft.functions.expressions.ProtoSchema.FileSep)
        require(joined.nonEmpty,
          s"protobuf: no .proto files found under import_paths")
        // compile-time parse so schema errors surface at build
        graft.functions.expressions.ProtoSchema.registryFor(joined)
          .message(fqn)
        df0 => {
          val df = FlowControl.withErrorChannel(df0)
          val schema = df.schema
          implicit val enc = org.apache.spark.sql.Encoders.row(schema)
          val vI = schema.fieldIndex("value")
          val eI = schema.fieldIndex("error")
          df.mapPartitions { it =>
            val reg = graft.functions.expressions.ProtoSchema
              .registryFor(joined)
            val m = new ObjectMapper()
            it.map { r =>
              if (r.get(eI) != null) r // errored rows skip (try contract)
              else try {
                val out =
                  if (fromJson)
                    java.util.Base64.getEncoder.encodeToString(
                      graft.functions.expressions.ProtoSchema
                        .jsonToWire(reg, fqn, m.readTree(r.getString(vI))))
                  else
                    graft.functions.expressions.ProtoSchema.wireToJson(
                      reg, fqn, java.util.Base64.getDecoder
                        .decode(r.getString(vI))).toString
                org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(vI, out))
              } catch {
                case e: Exception =>
                  org.apache.spark.sql.Row.fromSeq(
                    r.toSeq.updated(eI, Option(e.getMessage)
                      .getOrElse(e.getClass.getSimpleName)))
              }
            }
          }
        }
      case "protobuf" =>
        val schema = body.get("schema").asText
        body.path("operator").asText("to_json") match {
          case "from_json" => kernels { df => df.withColumn("value",
            base64(CodecFunctions.protoEncode(col("value"), schema))) }
          case _ => kernels { df => df.withColumn("value",
            CodecFunctions.protoDecode(unbase64(col("value")), schema)) }
        }
      case "msgpack" =>
        body.path("operator").asText("to_json") match {
          case "from_json" => kernels { df => df.withColumn("value",
            base64(CodecFunctions.msgpackEncode(col("value")))) }
          case _ => kernels { df => df.withColumn("value",
            CodecFunctions.msgpackDecode(unbase64(col("value")))) }
        }
      case "schema_registry_encode" =>
        // internal/impl/confluent/: subject → latest (id, schema) via a
        // provider (`registry`/`url` + `subject` config), or an inline
        // schema
        (providerOf(body), Option(body.get("subject")).map(_.asText)) match {
          case (Some(p), Some(subj)) =>
            kernels { df => df.withColumn("value",
              base64(CodecFunctions.wireEncodeSubject(col("value"), subj, p))) }
          case _ =>
            val schema = body.get("schema").toString
            val id = body.path("schema_id").asInt(1)
            kernels { df => df.withColumn("value",
              base64(CodecFunctions.wireEncode(col("value"), schema, id))) }
        }
      case "schema_registry_decode" =>
        // provider path: schema resolved per row from the wire header's
        // id; unknown ids keep the message and take the error channel
        // (the reference's ErrBadHeader handling). The lenient kernel
        // (null = unknown id) makes one code path serve both the
        // map-backed provider and the HTTP provider, whose known-id set
        // is not enumerable for a pre-guard.
        providerOf(body) match {
          case Some(p) =>
            kernels { df =>
              val d = FlowControl.withErrorChannel(df)
              val bin = unbase64(col("value"))
              // a valid wire header is >= 5 bytes and starts with the
              // magic byte 0 — wireSchemaId requires both, so the guard
              // must too or a truncated/wrong-magic payload whose bytes
              // 2-5 decode to a registered id would reach the kernel
              // and throw instead of erroring the row
              val headerOk = length(bin) >= 5 &&
                substring(bin, 1, 1) === lit(Array[Byte](0))
              val id = CodecFunctions.wireSchemaId(bin)
              d.withColumn("__sr_dec", when(headerOk,
                  CodecFunctions.wireDecodeProvider(bin, p, lenient = true)))
                .withColumn("error",
                  when(col("error").isNotNull, col("error"))
                    .when(!headerOk,
                      lit("schema registry: invalid wire format header"))
                    .when(col("__sr_dec").isNull, concat(
                      lit("schema registry: unknown schema id "), id)))
                .withColumn("value",
                  coalesce(col("__sr_dec"), col("value")))
                .drop("__sr_dec")
            }
          case None =>
            val schema = body.get("schema").toString
            kernels { df => df.withColumn("value",
              CodecFunctions.wireDecode(unbase64(col("value")), schema)) }
        }
      case "parquet_decode" =>
        // processors/parquet_decode.adoc:26 — a parquet file message
        // becomes one message per row (ParquetBlobOps kernel)
        kernels { df => explodeParts(df,
          transform(try_parse_json(call_function("graft_parquet_decode",
              unbase64(col("value")))).cast("array<variant>"),
            v => to_json(v))) }
      case "parquet_encode" =>
        // processors/parquet_encode.adoc:26 — each BATCH folds into ONE
        // parquet file message (schema = parquet MessageType); per
        // __batch when the batched input assigned one
        val schema = body.get("schema").asText
        kernels { df =>
          val d = withSeq(df)
          val batchKey =
            if (d.columns.contains("__batch")) col("__batch") else lit(0L)
          BatchOps.archiveJsonArray(d, batchKey, col("value"), col("__seq"))
            .select(
              base64(call_function("graft_parquet_encode",
                col("archived"), lit(schema))).as("value"),
              col("key").cast("long").as("__seq"),
              map().cast("map<string,string>").as("metadata"))
        }
      case "parquet" =>
        // deprecated combined form (processors/parquet.adoc): operator
        // from_json = encode, to_json = decode
        val op = body.path("operator").asText
        val schemaNode = Option(body.get("schema")).map(_.asText)
        op match {
          case "from_json" =>
            compile(yamlObj("parquet_encode",
              new ObjectMapper().createObjectNode().put("schema",
                schemaNode.getOrElse(throw new IllegalArgumentException(
                  "parquet from_json needs a schema")))), env)
          case "to_json" => compile(yamlObj("parquet_decode",
            new ObjectMapper().createObjectNode()), env)
          case other => throw new IllegalArgumentException(s"parquet operator: $other")
        }
      case "xml" =>
        // processors/xml.adoc:26 — operator to_json
        kernels { df => df.withColumn("value",
          call_function("graft_parse_xml", col("value"))) }
      case "grok" =>
        // processors/grok.adoc:26 — named captures become a JSON doc
        val tpl = body.path("expression").asText(body.asText)
        df => {
          val (_, names) = Grok.compile(tpl)
          val parsed = Grok.parse(df, col("value"), tpl)
          parsed.withColumn("value",
              to_json(struct(names.map(col): _*)))
            .drop(names: _*)
        }
      case "parse_log" =>
        // processors/parse_log.adoc:26 — syslog line → structured JSON
        val fmt = body.path("format").asText("syslog_rfc5424")
        val f = if (fmt.contains("3164")) "rfc3164" else "rfc5424"
        df => df.withColumn("value",
          to_json(CodecFunctions.parseSyslog(col("value"), f)))
      case "json_schema" =>
        val schema = body.toString
        kernels { df =>
          df.filter(call_function("graft_json_schema_check",
            col("value"), lit(schema)).isNull)
        }

      // ── caches / resources / external calls ──────────────────────
      case "cache" =>
        // processors/cache.adoc:26 — `get` replaces content with the
        // cache value for the key; a miss feeds the error channel.
        // In-process mutable backends (memory family + file +
        // multilevel over those) run as an ORDERED per-row kernel over
        // the live stores, so set/add/delete and mid-batch
        // get-after-set coherence have upstream semantics
        // (config/examples/joining_streams.yaml's for_each hydration).
        // Snapshot backends (redis/memcached/… views) keep the
        // broadcast-join form — the scale path for read-only
        // enrichment. Multilevel: read-through with promotion into
        // earlier levels, write-through to all levels.
        val resource = body.get("resource").asText
        val keyTpl = body.path("key").asText("${! content() }")
        val valueTpl = body.path("value").asText("${! content() }")
        val op = body.path("operator").asText("get")
        df => Pipeline.cacheLevelsOf(resource) match {
          case Some(levels) =>
            val writing = op == "set" || op == "add"
            val withErr = FlowControl.withErrorChannel(df)
            val keyed0 = withErr.withColumn("__ck",
              Blobl.interpolateJson(withErr, keyTpl, env,
                metadataCol = metaColOf(withErr)).cast("string"))
            val keyed = if (writing)
              keyed0.withColumn("__cvw",
                Blobl.interpolateJson(keyed0, valueTpl, env,
                  metadataCol = metaColOf(keyed0)).cast("string"))
              else keyed0
            // a MUTATING cache is a sequential per-process construct in
            // the reference; serialize exactly here (tiny control-state
            // batches), never on the relational path
            val ordered =
              if (keyed.columns.contains("__seq"))
                keyed.coalesce(1).sortWithinPartitions(col("__seq"))
              else keyed.coalesce(1)
            val schema = ordered.schema
            implicit val enc = org.apache.spark.sql.Encoders.row(schema)
            val vI = schema.fieldIndex("value")
            val eI = schema.fieldIndex("error")
            val kI = schema.fieldIndex("__ck")
            val wI = if (writing) schema.fieldIndex("__cvw") else -1
            val lvls = levels
            val theOp = op
            val out = ordered.mapPartitions { it =>
              it.map { r =>
                val vals = r.toSeq.toArray
                val k = r.getString(kI)
                theOp match {
                  case "get" =>
                    val hitIdx = lvls.indexWhere(_.get(k).isDefined)
                    if (hitIdx >= 0) {
                      val v = lvls(hitIdx).get(k).get
                      vals(vI) = v
                      // read-through promotion into warmer levels
                      (0 until hitIdx).foreach(i => lvls(i).put(k, v))
                    } else vals(eI) = "cache miss"
                  case "set" =>
                    lvls.foreach(_.put(k, r.getString(wI)))
                  case "add" =>
                    if (lvls.exists(_.get(k).isDefined))
                      vals(eI) = "key already exists"
                    else lvls.foreach(_.put(k, r.getString(wI)))
                  case "delete" =>
                    lvls.foreach(_.delete(k))
                  case other => throw new IllegalArgumentException(
                    s"cache operator '$other' not supported")
                }
                org.apache.spark.sql.Row.fromSeq(vals.toIndexedSeq)
              }
            }
            if (writing) out.drop("__ck", "__cvw") else out.drop("__ck")
          case None =>
            require(op == "get",
              s"cache operator '$op': snapshot cache backends are read-only here")
            val cacheDf = df.sparkSession.table(s"cache_$resource")
              .select(col("key").as("__ck"), col("value").as("__cv"))
            val keyed = df.withColumn("__ck",
              Blobl.interpolateJson(df, keyTpl, env, metadataCol = metaColOf(df)))
            val d = FlowControl.withErrorChannel(keyed)
              .join(broadcast(cacheDf), Seq("__ck"), "left")
            d.withColumn("value", coalesce(col("__cv"), col("value")))
              .withColumn("error", when(col("__cv").isNull,
                lit("cache miss")).otherwise(col("error")))
              .drop("__ck", "__cv")
        }
      case "cached" =>
        // processors/cached.adoc:26 — memoize children per distinct key
        val keyTpl = body.get("key").asText
        val procs = children(body.get("processors"), env)
        df => {
          val keyed = df.withColumn("__cache_key",
            Blobl.interpolateJson(df, keyTpl, env, metadataCol = metaColOf(df)))
          // children run ONCE per distinct key on a representative row
          // (the relational memoization of Resources.cachedCompute)
          val reps = keyed.groupBy(col("__cache_key"))
            .agg(first(col("value")).as("value"))
          val results = procs(reps).select(col("__cache_key"),
            col("value").as("__cached_value"))
          keyed.join(results, Seq("__cache_key"), "left")
            .withColumn("value", coalesce(col("__cached_value"), col("value")))
            .drop("__cache_key", "__cached_value")
        }
      case "google_drive_search" =>
        // processors/google_drive_search.adoc — interpolated query;
        // the message becomes the file-resource array
        val endpoint = body.get("endpoint").asText
        val token = body.path("token").asText("")
        df => {
          val meta = metaColOf(df)
          val qC = Blobl.interpolateJson(df, body.get("query").asText,
            env, metadataCol = meta)
          graft.sources.GoogleDrive.searchProcessor(df, endpoint, token, qC)
        }
      case "google_drive_list_labels" =>
        // processors/google_drive_list_labels.adoc — the message
        // becomes the label-resource array for the interpolated id
        val endpoint = body.get("endpoint").asText
        val token = body.path("token").asText("")
        df => {
          val meta = metaColOf(df)
          val idC = Blobl.interpolateJson(df, body.get("file_id").asText,
            env, metadataCol = meta)
          val src = graft.sources.Envelope.ensure(df)
            .withColumn("__gl", idC.cast("string"))
          import org.apache.spark.sql.Row
          import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
          val schema = src.schema
          val vI = schema.fieldIndex("value")
          val eI = schema.fieldIndex("error")
          val iI = schema.fieldIndex("__gl")
          src.mapPartitions { it =>
            val cl = new graft.sources.GoogleDrive.Client(endpoint, token)
            it.map { row =>
              val vals = row.toSeq.toArray
              try vals(vI) = cl.listLabels(row.getString(iI))
                .mkString("[", ",", "]")
              catch { case ex: Exception =>
                vals(eI) = Option(ex.getMessage).getOrElse("drive error")
              }
              Row.fromSeq(vals.toIndexedSeq)
            }
          }(ExpressionEncoder(RowEncoder.encoderFor(schema)))
            .drop("__gl")
        }
      case "google_drive_download" =>
        // processors/google_drive_download.adoc — interpolated file id
        val endpoint = body.get("endpoint").asText
        val token = body.path("token").asText("")
        df => {
          val meta = metaColOf(df)
          val idC = Blobl.interpolateJson(df, body.get("file_id").asText,
            env, metadataCol = meta)
          graft.sources.GoogleDrive.downloadProcessor(df, endpoint, token,
            idC)
        }
      case "gcp_bigquery_select" =>
        // processors/gcp_bigquery_select.adoc — parameterized SELECT
        // per message; the message becomes the result-row array
        val endpoint = body.get("endpoint").asText
        val token = body.path("token").asText("")
        val project = body.get("project").asText
        val parts = graft.sources.BigQuerySelect.QueryParts(
          body.get("table").asText,
          body.get("columns").elements().asScala.toSeq.map(_.asText),
          where = body.path("where").asText(""),
          prefix = body.path("prefix").asText(""),
          suffix = body.path("suffix").asText(""))
        val argCols = Option(body.get("args_columns"))
          .map(_.elements().asScala.toSeq.map(a => col(a.asText)))
          .getOrElse(Nil)
        df => graft.sources.BigQuerySelect.processor(df, endpoint, token,
          project, parts, argCols)
      case "azure_cosmosdb" =>
        // processors/azure_cosmosdb.adoc — per-message document op
        val endpoint = body.get("endpoint").asText
        val acct = graft.sources.CosmosDb.Account(
          body.path("account_key").asText(""))
        val (dbn, ctn) = (body.get("database").asText,
          body.get("container").asText)
        val op = body.path("operation").asText("Create").toLowerCase
        df => {
          val meta = metaColOf(df)
          val pkC = Blobl.interpolateJson(df,
            body.get("partition_keys_map").asText, env, metadataCol = meta)
          val idC = Blobl.interpolateJson(df,
            body.path("item_id").asText("${! json(\"id\") }"), env,
            metadataCol = meta)
          graft.sources.CosmosDb.processor(df, endpoint, acct, dbn, ctn,
            op, pkC, idC)
        }
      case "aws_lambda" =>
        // processors/aws_lambda.adoc — invoke per message
        val endpoint = body.get("endpoint").asText
        val fn = body.get("function").asText
        val creds = graft.sources.S3.Credentials(
          body.at("/credentials/id").asText(""),
          body.at("/credentials/secret").asText(""),
          body.path("region").asText("us-east-1"))
        df => graft.sources.AwsApi.lambdaProcessor(df, endpoint, creds, fn)
      case "aws_dynamodb_partiql" =>
        // processors/aws_dynamodb_partiql.adoc — statement + args
        val endpoint = body.get("endpoint").asText
        val stmt = body.get("query").asText
        val creds = graft.sources.S3.Credentials(
          body.at("/credentials/id").asText(""),
          body.at("/credentials/secret").asText(""),
          body.path("region").asText("us-east-1"))
        val argCols = Option(body.get("args_columns"))
          .map(_.elements().asScala.toSeq.map(a => col(a.asText)))
          .getOrElse(Nil)
        df => graft.sources.AwsApi.partiqlProcessor(df, endpoint, creds,
          stmt, argCols)
      case "a2a_message" =>
        // processors/a2a_message.adoc — JSON-RPC agent round-trip
        val cardUrl = body.get("agent_card_url").asText
        val extract = body.path("extract_text").asBoolean(true)
        df => graft.operators.A2a.processor(df, cardUrl, extract)
      case "couchbase" =>
        // processors/couchbase.adoc — per-message KV op over the
        // binary protocol; id interpolates, content maps from value
        val url = body.get("url").asText
        val op = body.path("operation").asText("get")
        require(op == "get" || Option(body.get("content")).nonEmpty ||
          op == "remove",
          "couchbase: content must be set for insert/replace/upsert")
        df => {
          val meta = metaColOf(df)
          val idC = Blobl.interpolateJson(df, body.get("id").asText, env,
            metadataCol = meta)
          val contentC = Option(body.get("content")).map(c =>
            Blobl.exprJson(df, c.asText
              .replaceFirst("^\\s*root\\s*=\\s*", ""), env,
              metadataCol = meta).cast("string")).orNull
          graft.sources.Couchbase.processor(df, url, op, idC, contentC)
        }
      case "nats_kv" =>
        // processors/nats_kv.adoc — per-row bucket operation; get-ops
        // replace content, mutation ops set revision metadata,
        // failures (create-exists, CAS mismatch) error the row
        val urls = body.get("urls").elements().asScala.toSeq.map(_.asText)
        val mem = urls.find(_.startsWith("mem://")).getOrElse(
          throw new IllegalArgumentException(
            "nats_kv: only mem:// transports exist in this environment"))
        val bucket = body.get("bucket").asText
        val op = body.get("operation").asText
        val keyTpl = Option(body.get("key")).map(_.asText).getOrElse("")
        val revTpl = Option(body.get("revision")).map(_.asText)
        df => {
          // the op writes nats_kv_* metadata — the column must exist
          val d0 = if (df.columns.contains("metadata")) df
            else df.withColumn("metadata", map().cast(
              org.apache.spark.sql.types.MapType(
                org.apache.spark.sql.types.StringType,
                org.apache.spark.sql.types.StringType)))
          val meta = Some("metadata")
          val withCols = FlowControl.withErrorChannel(d0)
            .withColumn("__kvkey", if (keyTpl.isEmpty)
              lit(null).cast("string")
              else Blobl.interpolateJson(d0, keyTpl, env, metadataCol = meta))
            .withColumn("__kvrev", revTpl.map(t =>
              Blobl.interpolateJson(d0, t, env, metadataCol = meta)
                .cast("long")).getOrElse(lit(0L)))
          graft.sources.NatsKv.applyOps(withCols, mem, bucket, op)
        }
      case "redis" =>
        // processors/redis.adoc:26 — run `command` with args from
        // `args_mapping` for each message; the message contents are
        // replaced with the result (merge via `branch`, per the doc);
        // command failures take the error channel (processor.go:400)
        val url = body.get("url").asText
        val cmdTpl = Option(body.get("command")).map(_.asText).getOrElse(
          throw new IllegalArgumentException(
            "redis processor needs a command (operator-form configs are " +
              "expressed as commands here)"))
        val argsExpr = Option(body.get("args_mapping")).map(_.asText)
          .map(_.replaceFirst("^\\s*root\\s*=\\s*", ""))
        df => {
          val meta = metaColOf(df)
          val withCols = FlowControl.withErrorChannel(df)
            .withColumn("__rcmd",
              Blobl.interpolateJson(df, cmdTpl, env, metadataCol = meta))
            .withColumn("__rargs", argsExpr.map(e =>
              Blobl.exprJson(df, e, env, metadataCol = meta).cast("string"))
              .getOrElse(lit(null).cast("string")))
          graft.sources.Redis.applyCommands(withCols, url)
        }
      case "command" =>
        // processors/command.adoc:26 — fork per message
        val argv = argvOf(body)
        df => Command.perMessage(df, argv)
      case "subprocess" =>
        // processors/subprocess.adoc:26 — one child per partition
        val argv = argvOf(body)
        df => Command.perPartition(df, argv)
      case "sql_raw" | "sql" =>
        if (body.has("dsn"))
          // external-database form (processors/sql_raw.adoc): driver +
          // dsn + query/queries with per-message args_mapping —
          // postgres:// resolves to the in-process pgvector engine,
          // jdbc: URLs run through JDBC (Derby on this classpath)
          df => SqlRaw.processor(df, body, env)
        else {
          // dsn-less form — Spark IS the SQL engine: the current stream
          // registers as view `stream` and the query's result becomes
          // the new frame
          val query = body.path("query").asText(body.asText)
          df => {
            df.createOrReplaceTempView("stream")
            df.sparkSession.sql(query)
          }
        }
      case "sql_select" if body.has("dsn") =>
        // external-database form (processors/sql_select.adoc: driver +
        // dsn + table/columns/where/args_mapping/prefix/suffix) — the
        // message becomes the ARRAY of result rows. Built as one
        // sql_raw statement so the DSN routing (postgres:// → pgvector
        // engine, jdbc: → JDBC) and the per-partition executor are
        // shared. `?` placeholders normalize to $N for postgres-style
        // drivers, as the reference's query builder does.
        val driver = body.path("driver").asText("")
        val table = body.get("table").asText
        val cols = body.get("columns").elements().asScala.toSeq
          .map(_.asText).mkString(", ")
        val prefix = body.path("prefix").asText("")
        val suffix = body.path("suffix").asText("")
        val whereC = Option(body.get("where")).map(_.asText)
          .filter(_.nonEmpty)
        var q = s"SELECT $cols FROM $table" +
          whereC.map(w => s" WHERE $w").getOrElse("") +
          (if (suffix.nonEmpty) s" $suffix" else "")
        if (prefix.nonEmpty) q = s"$prefix $q"
        if (driver == "postgres" || driver == "clickhouse") {
          var n = 0
          q = q.map(c => c.toString).map {
            case "?" => n += 1; s"$$$n"
            case c => c
          }.mkString
        }
        val raw = {
          val o = com.fasterxml.jackson.databind.node.JsonNodeFactory
            .instance.objectNode()
          o.put("dsn", body.get("dsn").asText)
          o.put("query", q)
          Option(body.get("args_mapping")).foreach(m =>
            o.set[JsonNode]("args_mapping", m.deepCopy[JsonNode]()))
          Option(body.get("init_statement")).foreach(m =>
            o.set[JsonNode]("init_statement", m.deepCopy[JsonNode]()))
          o
        }
        df => SqlRaw.processor(df, raw, env)
      case "sql_select" =>
        // processors/sql_select.adoc:26 — enrichment lookup against a
        // registered table OR, with `url`, a real JDBC table (driver
        // jar on the classpath — Derby ships with Spark); columns
        // merge into the doc
        val table = body.get("table").asText
        val keyCol = body.get("key_column").asText
        val keyTpl = body.get("key").asText
        val columns = body.get("columns").elements().asScala.toSeq.map(_.asText)
        val jdbcUrl = Option(body.get("url")).map(_.asText)
        df => {
          val src = jdbcUrl match {
            case Some(u) =>
              graft.sources.Sources.jdbc(df.sparkSession, u, table)
            case None => df.sparkSession.table(table)
          }
          val lookup = src.select((keyCol +: columns).map(col): _*)
          val keyed = df.withColumn("__lk",
            Blobl.interpolateJson(df, keyTpl, env, metadataCol = metaColOf(df))
              .cast(lookup.schema(keyCol).dataType))
          keyed.join(broadcast(lookup),
              keyed("__lk") === lookup(keyCol), "left")
            .withColumn("value",
              to_json(struct(try_parse_json(col("value")).as("doc") +:
                columns.map(col): _*)))
            .drop("__lk", keyCol)
        }
      case "sql_insert" =>
        // processors/sql_insert.adoc:26 — insert each message's mapped
        // fields into a SQL table as rows FLOW (per-partition batched
        // PreparedStatement — the distributed form of the reference's
        // per-message insert loop); messages pass through unchanged.
        // Driver jar on the classpath (Derby ships with Spark).
        val url = body.get("url").asText
        val table = body.get("table").asText
        val columns = body.get("columns").elements().asScala.toSeq.map(_.asText)
        // dialect-correct statement text per driver registration
        // (conn_fields.go:30): placeholders/quoting/options rendered by
        // SqlDialect; the embedded engine runs the derby form
        val dialect = graft.sources.SqlDialect(
          body.path("driver").asText("derby"))
        val insertSql = dialect.insert(table, columns,
          prefix = body.path("prefix").asText(""),
          options = if (body.has("options"))
            body.get("options").elements().asScala.toSeq.map(_.asText)
          else Nil,
          suffix = body.path("suffix").asText(""))
        df0 => {
          // error channel: a malformed `value` errors the ROW (the
          // reference processor's behavior), not the task; already-
          // errored rows pass through without inserting
          val df = FlowControl.withErrorChannel(df0)
          val schema = df.schema
          implicit val enc = org.apache.spark.sql.Encoders.row(schema)
          val vIdx = schema.fieldIndex("value")
          val eIdx = schema.fieldIndex("error")
          val inserted = df.mapPartitions { it =>
            if (!it.hasNext) it
            else {
              val mapper = new ObjectMapper()
              val conn = java.sql.DriverManager.getConnection(url)
              val ps = conn.prepareStatement(insertSql)
              var closed = false
              def close(): Unit = if (!closed) {
                try { ps.executeBatch(); ps.close(); conn.close() }
                finally { closed = true }
              }
              // close on task completion too — a downstream limit() may
              // abandon the iterator mid-partition
              Option(org.apache.spark.TaskContext.get())
                .foreach(_.addTaskCompletionListener[Unit](_ => close()))
              var pending = 0
              new scala.collection.AbstractIterator[org.apache.spark.sql.Row] {
                override def hasNext: Boolean = {
                  val h = it.hasNext
                  if (!h) close()
                  h
                }
                override def next(): org.apache.spark.sql.Row = {
                  val r = it.next()
                  if (r.get(eIdx) != null) r
                  else try {
                    val doc = mapper.readTree(r.getString(vIdx))
                    if (doc == null || doc.isMissingNode)
                      throw new IllegalArgumentException("empty document")
                    columns.zipWithIndex.foreach { case (c, i) =>
                      val n = doc.get(c)
                      if (n == null || n.isNull) ps.setObject(i + 1, null)
                      else if (n.isIntegralNumber) ps.setLong(i + 1, n.asLong)
                      else if (n.isNumber) ps.setDouble(i + 1, n.asDouble)
                      else if (n.isBoolean) ps.setBoolean(i + 1, n.asBoolean)
                      else ps.setString(i + 1, n.asText)
                    }
                    ps.addBatch()
                    pending += 1
                    if (pending >= 500) { ps.executeBatch(); pending = 0 }
                    r
                  } catch {
                    case e @ (_: com.fasterxml.jackson.core.JacksonException |
                              _: IllegalArgumentException) =>
                      org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(eIdx,
                        s"sql_insert: ${e.getMessage}"))
                  }
                }
              }
            }
          }
          // the insert is a side effect of computing the pass-through
          // plan: barrier it (eager localCheckpoint) so a second action
          // on the runner's DataFrame — or a recomputed stage — replays
          // checkpointed blocks instead of re-running the inserts
          inserted.localCheckpoint()
        }
      case "http" =>
        // processors/http.adoc:26 — batched pluggable transport; the
        // URL scheme selects it (stub:// = offline echo client, else
        // the JDK client). Response replaces value; non-2xx keeps the
        // original, errors the row, and records http_status_code.
        val urlTpl = body.get("url").asText
        val verb = body.path("verb").asText("POST")
        val headers = Option(body.get("headers"))
          .map(_.properties().asScala.map(e =>
            e.getKey -> e.getValue.asText).toMap)
          .getOrElse(Map.empty[String, String])
        val batchSize = body.path("batch_size").asInt(16)
        val successfulOn = Option(body.get("successful_on"))
          .map(_.elements().asScala.map(_.asInt).toSet)
          .getOrElse(Set.empty[Int])
        df => Http.enrich(df,
          Blobl.interpolateJson(df, urlTpl, env, metadataCol = metaColOf(df)),
          verb, headers, batchSize, Http.clientFor(urlTpl),
          successfulOn)

      case "sentry_capture" =>
        // processors/sentry_capture.adoc — pass-through observation:
        // one event per (sampled) message to the DSN's store endpoint;
        // context/extras are bloblang expressions rendered to JSON
        val dsn = body.path("dsn").asText(
          sys.env.getOrElse("SENTRY_DSN", ""))
        require(dsn.nonEmpty, "sentry_capture: dsn (or SENTRY_DSN) required")
        val msgTpl = body.get("message").asText
        val ctx = Option(body.get("context")).map(_.asText).filter(_.nonEmpty)
        val ext = Option(body.get("extras")).map(_.asText).filter(_.nonEmpty)
        val tags = Option(body.get("tags")).map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asText).toMap)
          .getOrElse(Map.empty[String, String])
        // context/extras are single-assignment MAPPINGS per the adoc
        // ('root = {...}'); compile the right-hand side as the value
        // expression
        def mappingExpr(src: String): String = {
          val m = "(?s)\\s*root\\s*=\\s*(.*)".r
          src match {
            case m(rhs) => rhs
            case _ => throw new IllegalArgumentException(
              "sentry_capture: context/extras must be a single " +
                s"'root = <object>' mapping, got: $src")
          }
        }
        df => Sentry.capture(df, dsn,
          messageCol = Blobl.interpolateJson(df, msgTpl, env,
            metadataCol = metaColOf(df)),
          contextJson = ctx.map(x =>
            Blobl.exprJson(df, mappingExpr(x), env)).orNull,
          extrasJson = ext.map(x =>
            Blobl.exprJson(df, mappingExpr(x), env)).orNull,
          tags = tags,
          environment = body.path("environment").asText(""),
          release = body.path("release").asText(""),
          level = body.path("level").asText("INFO"),
          samplingRate = body.path("sampling_rate").asDouble(1.0))

      case "openai_chat_completion" | "ollama_chat" | "cohere_chat" |
           "aws_bedrock_chat" | "gcp_vertex_ai_chat" =>
        // cloud chat processors — batched pluggable client. With a
        // base_url/server_address each name speaks its service's REAL
        // wire shape (AiApis; loopback servers in tests); without one,
        // the deterministic echo client stands in for the remote model
        // (openai_chat_completion.adoc:26; clients are injectable)
        val promptTpl = body.path("prompt").asText("${! content() }")
        val batchSize = body.path("batch_size").asInt(16)
        val base = aiBaseUrl(body)
        val model = body.path("model").asText("default")
        val client: Ai.ChatClient =
          if (base.isEmpty) Ai.echoClient
          else kind match {
            case "openai_chat_completion" =>
              graft.operators.AiApis.openAiChat(base, aiApiKey(body), model)
            case "ollama_chat" =>
              graft.operators.AiApis.ollamaChat(base, model)
            case "cohere_chat" =>
              graft.operators.AiApis.cohereChat(base, aiApiKey(body), model)
            case "aws_bedrock_chat" =>
              graft.operators.AiApis.bedrockChat(base, awsCredsOf(body), model)
            case _ => // gcp_vertex_ai_chat rides the openai-compatible
              // chat surface Vertex publishes for its endpoints
              graft.operators.AiApis.openAiChat(base, aiApiKey(body), model)
          }
        df => {
          val d = df.withColumn("__prompt",
            Blobl.interpolateJson(df, promptTpl, env, metadataCol = metaColOf(df)))
          Ai.chatCompletion(d, "__prompt", "__completion", batchSize,
              client)
            .withColumn("value", col("__completion"))
            .drop("__prompt", "__completion")
        }

      case "openai_embeddings" | "ollama_embeddings" | "cohere_embeddings" |
           "aws_bedrock_embeddings" | "gcp_vertex_ai_embeddings" =>
        // named embedding variants (openai_embeddings.adoc:26 et al.):
        // each speaks its service's documented REST shape; the message
        // becomes the JSON vector (the reference replaces the payload
        // with the embedding). No base_url → deterministic offline
        // md5 batcher (NOT a model), so configs stay compilable
        // `text` is ollama_embeddings' field name for the same knob
        // (ollama_embeddings.adoc; the rag ollama_embed template sets it)
        val tpl = body.path("text_mapping").asText(
          body.path("text").asText(
            body.path("prompt").asText("${! content() }")))
        val batchSize = body.path("batch_size").asInt(16)
        val dims = body.path("dimensions").asInt(8)
        val base = aiBaseUrl(body)
        val model = body.path("model").asText("embed-default")
        val batcher: Embeddings.Batcher =
          if (base.isEmpty) graft.operators.AiApis.offlineEmbeddings(dims)
          else kind match {
            case "openai_embeddings" =>
              graft.operators.AiApis.openAiEmbeddings(base, aiApiKey(body),
                model, dims)
            case "ollama_embeddings" =>
              graft.operators.AiApis.ollamaEmbeddings(base, model, dims)
            case "cohere_embeddings" =>
              graft.operators.AiApis.cohereEmbeddings(base, aiApiKey(body),
                model, dims)
            case "aws_bedrock_embeddings" =>
              graft.operators.AiApis.bedrockEmbeddings(base,
                awsCredsOf(body), model, dims)
            case _ =>
              graft.operators.AiApis.vertexEmbeddings(base,
                body.path("project").asText("proj"),
                body.path("location").asText("us-central1"), model, dims,
                aiApiKey(body))
          }
        df => {
          val d = df.withColumn("__prompt",
            Blobl.interpolateJson(df, tpl, env, metadataCol = metaColOf(df)))
          Embeddings.embedBatched(d, "__prompt", "__vec", batchSize, batcher)
            .withColumn("value", to_json(col("__vec")))
            .drop("__prompt", "__vec")
        }

      case "openai_moderation" | "ollama_moderation" =>
        // moderation: the verdict lands in metadata (`moderation_
        // flagged`), the payload passes through unchanged
        val tpl = body.path("text_mapping").asText("${! content() }")
        val base = aiBaseUrl(body)
        val client: Ai.ChatClient =
          if (base.isEmpty) graft.operators.AiApis.offlineModeration
          else if (kind == "openai_moderation")
            graft.operators.AiApis.openAiModeration(base, aiApiKey(body))
          else graft.operators.AiApis.ollamaModeration(base,
            body.path("model").asText("llama-guard3"))
        df => {
          val d = df.withColumn("__mtext",
            Blobl.interpolateJson(df, tpl, env, metadataCol = metaColOf(df)))
          val flagged = Ai.chatCompletion(d, "__mtext", "__flag",
            body.path("batch_size").asInt(32), client)
          tagMeta(flagged, "moderation_flagged", col("__flag"))
            .drop("__mtext", "__flag")
        }

      case "openai_image_generation" =>
        // prompt → base64 PNG payload (images/generations b64_json)
        val tpl = body.path("prompt").asText("${! content() }")
        val base = aiBaseUrl(body)
        val client: Ai.ChatClient =
          if (base.isEmpty)
            prompts => prompts.map(p => java.util.Base64.getEncoder
              .encodeToString(graft.operators.AiApis.imagePng(p, 16, 16)))
          else graft.operators.AiApis.openAiImage(base, aiApiKey(body),
            body.path("model").asText("image-default"),
            body.path("size").asText("16x16"))
        df => {
          val d = df.withColumn("__prompt",
            Blobl.interpolateJson(df, tpl, env, metadataCol = metaColOf(df)))
          Ai.chatCompletion(d, "__prompt", "__img", 1, client)
            .withColumn("value", col("__img"))
            .drop("__prompt", "__img")
        }

      case "openai_speech" =>
        // text → base64 audio payload (audio/speech returns raw bytes)
        val tpl = body.path("input").asText("${! content() }")
        val base = aiBaseUrl(body)
        val voice = body.path("voice").asText("alloy")
        val client: Ai.ChatClient =
          if (base.isEmpty)
            texts => texts.map(t => java.util.Base64.getEncoder
              .encodeToString(graft.operators.AiApis.speechAudio(t, voice)))
          else graft.operators.AiApis.openAiSpeech(base, aiApiKey(body),
            body.path("model").asText("tts-default"), voice)
        df => {
          val d = df.withColumn("__in",
            Blobl.interpolateJson(df, tpl, env, metadataCol = metaColOf(df)))
          Ai.chatCompletion(d, "__in", "__audio", 1, client)
            .withColumn("value", col("__audio"))
            .drop("__in", "__audio")
        }

      case "openai_transcription" | "openai_translation" =>
        // base64 audio in the message → multipart upload → text
        val base = aiBaseUrl(body)
        val endpoint =
          if (kind == "openai_translation") "translations"
          else "transcriptions"
        val client: Ai.ChatClient =
          if (base.isEmpty)
            b64s => b64s.map { b =>
              val audio = java.util.Base64.getDecoder.decode(b)
              val t = graft.operators.AiApis.transcript(audio)
              if (endpoint == "translations") "en:" + t else t
            }
          else graft.operators.AiApis.openAiAudioToText(base, aiApiKey(body),
            body.path("model").asText("whisper-default"), endpoint)
        df => Ai.chatCompletion(df.withColumn("__b64", col("value")),
            "__b64", "__text", 1, client)
          .withColumn("value", col("__text"))
          .drop("__b64", "__text")

      case "cohere_rerank" =>
        throw new IllegalArgumentException(
          "cohere_rerank runs as a topology-level operator (Ai.rerank / " +
            "AiApis.cohereRerank), not a per-message processor: reranking " +
            "needs the whole candidate set — see the s_* rerank gates")

      case other if EnvBlocked(other) =>
        throw new IllegalArgumentException(
          s"processor '$other' is environment-blocked here: it needs a connector jar, " +
            "network egress, or an embedded runtime this container lacks")
      case other => Templates.lookup("processor", other) match {
        case Some(t) =>
          // expansion needs a session; defer to first use so compile
          // stays callable before any frame exists
          df => Templates.guard("processor", other) {
            compile(Templates.expand(df.sparkSession, t, body, env),
              env)(df)
          }
        case None => throw new IllegalArgumentException(
          s"processor '$other' not supported in config form yet")
      }
    }
  }

  /** Connector/runtime processors that cannot run in this environment —
    * kept as an explicit list so the error names the real reason.
    */
  private val EnvBlocked: Set[String] = Set(
    "mongodb", "redis", "redis_script", "nats_kv",
    "nats_request_reply", "jira", "slack_thread", "qdrant",
    "wasm", "ffi",
    "redpanda_data_transform",
    "sync_response", "awk")

  /** AI endpoint knobs shared by the named processor variants:
    * `base_url` (graft-level; loopback servers in tests — the real
    * cloud endpoints are egress-blocked here) with the reference's
    * `server_address` accepted as an alias, bearer `api_key`, and AWS
    * credentials for the SigV4-signed Bedrock forms.
    */
  private def aiBaseUrl(body: JsonNode): String =
    body.path("base_url").asText(body.path("server_address").asText(""))
      .stripSuffix("/")
  private def aiApiKey(body: JsonNode): String =
    body.path("api_key").asText("test-key")
  private def awsCredsOf(body: JsonNode): graft.sources.S3.Credentials =
    graft.sources.S3.Credentials(
      body.at("/credentials/id").asText(body.path("access_key").asText("AK")),
      body.at("/credentials/secret").asText(
        body.path("secret_key").asText("SK")),
      body.path("region").asText("us-east-1"))

  private def childList(n: JsonNode,
                        env: Map[String, String]): Seq[DataFrame => DataFrame] =
    Option(n).map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
      .map(compile(_, env))

  private def children(n: JsonNode, env: Map[String, String]): DataFrame => DataFrame =
    childList(n, env).reduceOption(_ andThen _)
      .getOrElse((df: DataFrame) => df)

  /** try semantics (processors/try.adoc): each child runs over the rows
    * no earlier child errored; an errored row skips the rest. The rows
    * set aside at each step join the last child's output in one union.
    * Each step reads its input twice (healthy and errored slices), so a
    * batch plan barriers every child's output that a later child reads
    * (eager localCheckpoint): each child runs once per row, which the
    * side-effecting ones (`http`, a labeled `metric`, `log`) need. A
    * single child needs no barrier. Streaming plans cannot checkpoint:
    * their children run as one chain over the healthy slice, so there a
    * row an earlier child errored still reaches the later children.
    */
  private def tryEach(procs: Seq[DataFrame => DataFrame]): DataFrame => DataFrame =
    df => {
      val d = FlowControl.withErrorChannel(df)
      val steps =
        if (d.isStreaming) procs.reduceOption(_ andThen _).toSeq else procs
      val (out, skipped) = steps.zipWithIndex.foldLeft(
          (d, List.empty[DataFrame])) {
        case ((prev, skip), (p, i)) =>
          val cur = if (i == 0) prev else prev.localCheckpoint()
          (p(cur.filter(col("error").isNull)),
            cur.filter(col("error").isNotNull) :: skip)
      }
      (out :: skipped).reduce(_.unionByName(_, allowMissingColumns = true))
    }

  private def argvOf(body: JsonNode): Seq[String] = {
    val name = body.get("name").asText
    val args = Option(body.get("args_mapping")).map(_ => Seq.empty[String])
      .getOrElse(Option(body.get("args"))
        .map(_.elements().asScala.toSeq.map(_.asText)).getOrElse(Seq.empty))
    name +: args
  }

  private def yamlObj(key: String, value: JsonNode): JsonNode = {
    val m = new ObjectMapper()
    m.createObjectNode().set[JsonNode](key, value)
  }

  /** Ensure the in-batch ordinal column exists. */
  private def withSeq(df: DataFrame): DataFrame =
    if (df.columns.contains("__seq")) df
    else df.withColumn("__seq", monotonically_increasing_id())

  /** Explode a parts array into one row per part, deriving a new stable
    * ordinal (`parent*1e6 + pos`) so later part-indexed ops keep input
    * order.
    */
  private def explodeParts(df: DataFrame, parts: Column): DataFrame = {
    val d = withSeq(df)
    val keep = d.columns.filterNot(_ == "value").map(col)
    d.select(keep :+ posexplode(parts).as(Seq("__pos", "value")): _*)
      .withColumn("__seq", col("__seq") * 1000000 + col("__pos"))
      .drop("__pos")
  }

  /** Write a key into the metadata map (creating it when absent). */
  private def tagMeta(df: DataFrame, key: String, value: Column): DataFrame =
    df.withColumn("metadata", metaPut(metaColOf(df), lit(key), value))

  /** After a group tag lands in metadata, the batch identity refines
    * to (previous batch, group) — the reference's regrouped batches —
    * so from_all / batch_index / split downstream scope per group.
    */
  private def regroup(df: DataFrame): DataFrame = {
    val base = if (df.columns.contains("__batch")) col("__batch") else lit(0L)
    df.withColumn("__batch", xxhash64(base, col("metadata")("group")))
  }

  private def metaPut(metaCol: Option[String], key: Column, value: Column): Column =
    metaCol match {
      case Some(c) => map_concat(
        map_filter(col(c), (k, _) => k =!= key), map(key, value))
      case None => map(key, value)
    }

  /** `registry:` config block → map-backed [[graft.functions.expressions.SchemaProvider]]:
    * `{schemas: {<id>: <avro schema>}, subjects: {<name>: <id>}}`.
    */
  private def registryOf(body: JsonNode): Option[graft.functions.expressions.MapSchemaProvider] =
    Option(body.get("registry")).map { r =>
      val byId = Option(r.get("schemas")).map(_.properties().asScala.map(e =>
        e.getKey.toInt -> e.getValue.toString).toMap).getOrElse(Map.empty)
      val bySubject = Option(r.get("subjects")).map(_.properties().asScala.map(e =>
        e.getKey -> e.getValue.asInt).toMap).getOrElse(Map.empty)
      graft.functions.expressions.MapSchemaProvider(byId, bySubject)
    }

  /** Provider selection for the schema_registry processors: a `url:`
    * resolves over HTTP ([[graft.functions.expressions.HttpSchemaProvider]]
    * — the reference's registry client); an inline `registry:` block
    * resolves from the map. A `stub://` url serves the inline
    * `registry:` block THROUGH the full HTTP path (URL construction,
    * envelope parsing, id cache) — the same offline-stub convention as
    * the `http` processor's `stub://` transport.
    */
  private def providerOf(body: JsonNode): Option[graft.functions.expressions.SchemaProvider] =
    Option(body.get("url")).map(_.asText) match {
      case Some(u) if u.startsWith("stub://") =>
        val m = registryOf(body).getOrElse(
          graft.functions.expressions.MapSchemaProvider(Map.empty))
        Some(new graft.functions.expressions.HttpSchemaProvider(u,
          client = graft.functions.expressions.HttpSchemaProvider
            .stubTransport(m.byId, m.bySubject)))
      case Some(u) =>
        Some(new graft.functions.expressions.HttpSchemaProvider(u))
      case None => registryOf(body)
    }

  private def kernels(f: DataFrame => DataFrame): DataFrame => DataFrame =
    df => {
      graft.functions.expressions.GraftFunctions.register(df.sparkSession)
      f(df)
    }

  private def metaColOf(df: DataFrame): Option[String] =
    if (df.columns.contains("metadata")) Some("metadata") else None

}
