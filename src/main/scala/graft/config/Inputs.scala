package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blobl.Blobl
import graft.config.Component.{awsCreds, durMs, memUrl, memUrlOf, redisUrl, stringMap, strings}
import graft.operators.BatchOps
import graft.sources.{Amqp1, Broker, AzureQueue, Beanstalkd, Cassandra, CloudQueue, CloudWatch, Cockroach, Cursors, Discord, DynamoCdc, HttpClient, HttpPushServer, Jira, Kinesis, MongoCdc, Mq, Nanomsg, NatsKv, Nsq, Otlp, OtlpGrpc, PollStream, PubSub, Redis, Salesforce, SalesforceApi, SalesforceCdc, SchemaRegistryIO, Slack, SlackSocket, Sources, SpannerCdc, SpiceDb, Mongo, Splunk, Tcp, Twitter, WebSocket}

/** The input family: every input's batch form (a bounded read for
  * [[Pipeline.build]] and [[Pipeline.run]]) and, where the input can
  * tail, its stream form (an unbounded read for [[Pipeline.runStream]]),
  * side by side in one entry.
  */
private[config] object Inputs {

  private type Read = (SparkSession, JsonNode, Map[String, String]) => DataFrame

  private final case class Input(batch: Option[Read], stream: Option[Read])

  /** The bounded read of an input node, its attached processors applied. */
  def batch(spark: SparkSession, n: JsonNode, env: Map[String, String]): DataFrame =
    read(spark, n, env, streaming = false)

  /** The unbounded read of an input node, its attached processors applied. */
  def stream(spark: SparkSession, n: JsonNode, env: Map[String, String]): DataFrame =
    read(spark, n, env, streaming = true)

  private def read(spark: SparkSession, n: JsonNode, env: Map[String, String],
                   streaming: Boolean): DataFrame =
    family.resolve(n, env) match {
      case Component.Found(in, node) =>
        val form = (if (streaming) in.stream else in.batch).getOrElse(
          throw new IllegalArgumentException(
            s"${if (streaming) "streaming " else ""}input '${node.kind}' not supported"))
        node.after(form(spark, node.body, env))
      case t: Component.Templated =>
        t.node.after(t.expand(spark)(read(spark, _, env, streaming)))
    }

  private def entry(names: String*)(batch: Read): Seq[(String, Input)] =
    names.map(_ -> Input(Some(batch), None))

  private def tailing(names: String*)(batch: Read, stream: Read): Seq[(String, Input)] =
    names.map(_ -> Input(Some(batch), Some(stream)))

  /** A registered [[PollStream]] poller as a stream: offset = cursor,
    * committed through Spark's checkpoint WAL.
    */
  private def pollStream(spark: SparkSession, poller: String): DataFrame =
    spark.readStream.format("graft.sources.PollSourceProvider")
      .option("poller", poller).load()

  /** The stream form of a cursor-polled input: its poller, registered
    * under a fresh name, swept once per micro-batch.
    */
  private def polled(poller: JsonNode => PollStream.Poller): Read =
    (spark, b, _) => {
      val name = "poll_" + java.util.UUID.randomUUID.toString
      PollStream.register(name, poller(b))
      pollStream(spark, name)
    }

  /** A `cache` field naming a file cache resource: its writable cursor
    * store (the only backend writable across runs here).
    */
  private def fileCursor(kind: String, field: String, lbl: String): Cursors.Store =
    new Cursors.FileStore(Caches.fileCacheDirs.getOrElse(lbl,
      throw new IllegalArgumentException(
        s"$kind: $field '$lbl' must be a file cache resource")))

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

  private def pubsubIn(kind: String): Read = (spark, b, _) => {
    // inputs/nats.adoc, inputs/nats_jetstream.adoc, inputs/mqtt.adoc —
    // subject/topic-filtered reads from the replayable subject log
    // (PubSub seam); NATS `*`/`>` and MQTT `+`/`#` wildcards
    val mem = memUrlOf(kind, b)
    val pattern =
      if (kind == "mqtt") strings(b.get("topics")) match {
        case Seq(onlyOne) => onlyOne
        case many => throw new IllegalArgumentException(
          s"mqtt input: one topic filter per input, got $many")
      }
      else b.get("subject").asText
    PubSub.read(spark, if (kind == "mqtt") "mqtt" else "nats", mem, pattern)
  }

  // inputs/kafka.adoc / input_redpanda.go:103 — `mem://` seed brokers
  // resolve to the in-process Broker fake (the injectable transport
  // seam), kafka:// addresses to the wire client; other brokers need
  // the spark-sql-kafka connector jar
  private def kafkaWire(b: JsonNode, wire: String): String =
    Component.kafkaAddr(wire, Component.kafkaSaslQuery(b).toSeq ++
      Option(b.get("transaction_isolation_level")).map(_.asText).map { lvl =>
        // franz_reader.go:67 — read_committed rides the address query so
        // the wire client fetches at isolation level 1 (LSO-bounded,
        // aborted records withheld)
        require(lvl == "read_committed" || lvl == "read_uncommitted",
          s"transaction_isolation_level: $lvl")
        s"isolation=$lvl"
      }.toSeq)

  private val kafka: Seq[(String, Input)] = tailing(
    "kafka", "redpanda", "kafka_franz", "redpanda_common")(
    batch = (spark, b, _) => {
      val brokers = Component.kafkaBrokers(b, "input")
      val topics0 = strings(b.get("topics"))
      // an explicit wire address is read through its transport, as the
      // stream form and the output do; a list of bare host:port brokers
      // only goes through the native connector
      brokers.explicit match {
        case Some(w) =>
          val mem = kafkaWire(b, w)
          // `regexp_topics: true` (inputs/kafka.adoc): the topic list is
          // regex patterns matched against the broker's metadata
          val topics =
            if (b.path("regexp_topics").asBoolean(false))
              Broker.transportFor(mem).listTopics()
                .filter(t => topics0.exists(p => t.matches(p)))
            else topics0
          require(topics.nonEmpty,
            s"kafka input: no topics match ${topics0.mkString(", ")}")
          val read =
            Sources.broker(topics.map(t => Sources.brokerRead(spark, mem, t)))
          // `batching:` count/period policy at the input — batch identity
          // scopes group_by_value / batch_index downstream. period has no
          // effect on a bounded snapshot (all messages of the replay share
          // one instant) — count is the operative bound, exactly like the
          // batched input without event time
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
          // streaming source (a readStream frame can't be executed by the
          // batch processors/output path)
          Sources.kafkaBatch(spark, brokers.addrs.mkString(","),
            topics0.mkString(","))
      }
    },
    stream = (spark, b, _) => {
      // resumable micro-batch broker read (BrokerSourceProvider):
      // per-partition offsets ride Spark's checkpoint commit log — the
      // consumer-group-commit semantics of inputs/kafka.adoc
      val brokers = Component.kafkaBrokers(b, "input")
      val topics = strings(b.get("topics"))
      brokers.wire match {
        case Some(w) =>
          require(topics.size == 1,
            "streaming kafka input: one topic per input (use a broker combinator for fan-in)")
          spark.readStream.format("graft.sources.BrokerSourceProvider")
            .option("address", kafkaWire(b, w))
            .option("topic", topics.head).load()
        case None =>
          Sources.kafka(spark, brokers.addrs.mkString(","), topics.mkString(","))
      }
    })

  private val family = new Component.Family[Input]("input", attaches = true,
    other => s"input '$other' not supported")(
    tailing("generate")(
      // count absent = unbounded in the reference (interval-driven); the
      // bounded engine executes ONE interval tick per run — repeated runs
      // are repeated ticks (the stateful_polling.yaml cron shape)
      batch = (spark, b, env) => Sources.generate(spark,
        b.path("count").asLong(1L), b.get("mapping").asText, env),
      stream = (spark, b, env) => Sources.generateStream(spark,
        b.path("rate").asInt(10), b.get("mapping").asText, env)),
    tailing("file")(
      batch = (spark, b, _) => {
        val path = b.get("path").asText
        b.path("format").asText("lines") match {
          case "csv" => Sources.csv(spark, path)
          case "json" => Sources.jsonLines(spark, path)
          case "parquet" => Sources.parquet(spark, path)
          case "lines" | "" => Sources.lines(spark, path)
          case other => throw new IllegalArgumentException(s"file format: $other")
        }
      },
      stream = (spark, b, _) => {
        val schema = b.get("schema").asText
        b.path("format").asText("parquet") match {
          case "parquet" => Sources.parquetStream(spark, b.get("path").asText, schema)
          case "csv" => Sources.csvStream(spark, b.get("path").asText, schema)
          case other => throw new IllegalArgumentException(s"stream format: $other")
        }
      }),
    Seq("poll" -> Input(None, Some((spark, b, _) =>
      // generic streaming poll form: a pre-registered PollStream poller
      pollStream(spark, b.get("poller").asText)))),
    entry("batched") { (spark, b, env) =>
      // inputs/batched.adoc:110-133 — child input + batch-formation
      // policy; the emitted __batch identity scopes from_all /
      // batch_index / windowed ops downstream
      val child = batch(spark, Option(b.get("child")).getOrElse(
        throw new IllegalArgumentException("batched input needs a child")), env)
      val pol = Option(b.get("policy")).getOrElse(
        throw new IllegalArgumentException("batched input needs a policy"))
      val count = pol.path("count").asInt(0)
      val byteSize = pol.path("byte_size").asInt(0)
      val periodMs = durMs(pol, "period", 0L)
      val checkTpl = Option(pol.get("check")).map(_.asText).filter(_.nonEmpty)
      // ONE driver-ordered stream, like the reference's single-threaded
      // input ack loop (partition-parallel callers use
      // BatchOps.formBatches directly and batch per partition)
      val seqd = (if (child.columns.contains("__seq")) child
                  else child.withColumn("__seq", monotonically_increasing_id()))
        .repartition(1)
      val withCheck = checkTpl.map(c => seqd.withColumn("__check",
        Blobl.predicateJson(seqd, c, env, metadataCol = Component.metaColOf(seqd))))
        .getOrElse(seqd)
      val tsCol = if (periodMs > 0 && withCheck.columns.contains("ts"))
        Some("ts") else None
      BatchOps.formBatches(withCheck, "__seq", count, byteSize, periodMs,
          checkTpl.map(_ => "__check"), tsCol)
        .drop("__check")
    },
    kafka,
    entry("socket") { (spark, b, _) =>
      // inputs/socket.adoc (client mode): connect and read
      // newline-delimited messages to EOF
      Tcp.read(spark, b.get("address").asText)
    },
    entry("inproc") { (spark, b, _) =>
      // inputs/inproc.adoc — consume the frame an inproc output of a
      // sibling pipeline registered under this id (temp-view handoff,
      // the streams-mode wiring)
      spark.table("inproc_" + b.asText)
    },
    entry("sequence") { (spark, b, env) =>
      // inputs/sequence.adoc — children consumed in order, first to
      // exhaustion then the next; bounded form = ordered concat
      val kids = Option(b.get("inputs")).getOrElse(
        throw new IllegalArgumentException("sequence needs inputs"))
        .elements().asScala.toSeq
      kids.map(k => batch(spark, k, env))
        .reduce(_.unionByName(_, allowMissingColumns = true))
    },
    entry("stdin") { (spark, _, _) =>
      // inputs/stdin.adoc — bounded snapshot: read standard input to
      // EOF, one message per line (the lines scanner default)
      val lines = Iterator.continually(scala.io.StdIn.readLine())
        .takeWhile(_ != null).toSeq
      import spark.implicits._
      lines.zipWithIndex.map { case (l, i) => (l, i.toLong) }
        .toDF("value", "__seq")
    },
    entry("nats_kv") { (spark, b, _) =>
      // inputs/nats_kv.adoc — bounded watch: current live entry per key
      // with nats_kv_* metadata
      NatsKv.read(spark, memUrl("nats_kv", strings(b.get("urls"))),
        b.get("bucket").asText)
    },
    entry("pulsar") { (spark, b, _) =>
      // inputs/pulsar.adoc — partitioned-topic consume over the broker
      // seam with the pulsar_* metadata contract
      val url = b.get("url").asText
      require(url.startsWith("mem://"),
        "pulsar: only mem:// transports exist in this environment")
      strings(b.get("topics")).map(t => Sources.pulsarRead(spark, url, t))
        .reduce(_.unionByName(_))
    },
    entry("amqp_0_9") { (spark, b, _) =>
      // inputs/amqp_0_9.adoc — consume ONE queue (FIFO); optional
      // queue_declare + bindings_declare set up topology first. mem://
      // resolves to the in-process Mq fake (transport seam).
      val mem = memUrlOf("amqp_0_9", b)
      val queue = b.get("queue").asText
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
    },
    entry("nats")(pubsubIn("nats")),
    entry("nats_jetstream")(pubsubIn("nats_jetstream")),
    entry("mqtt")(pubsubIn("mqtt")),
    entry("http_client") { (spark, b, _) =>
      // inputs/http_client.adoc — bounded paginated poll over the
      // pluggable client (stub:// = offline echo)
      HttpClient.read(spark, b.get("url").asText,
        verb = b.path("verb").asText("GET"),
        headers = stringMap(b.get("headers")),
        payload = b.path("payload").asText(""),
        streamLines = b.at("/stream/enabled").asBoolean(false),
        maxRequests = b.path("max_requests").asInt(100))
    },
    tailing("jira")(
      batch = (spark, b, _) => {
        // inputs/jira.adoc — incremental JQL poll (one catch-up sweep in
        // batch form); mem:// base URLs resolve to a registered test
        // client; cursor.cache must name a FILE cache resource (the only
        // backend writable across runs here)
        val cursorOpt = Option(b.at("/cursor/cache"))
          .filterNot(_.isMissingNode).map(_.asText).filter(_.nonEmpty)
          .map(lbl => (fileCursor("jira", "cursor.cache", lbl),
            b.at("/cursor/key").asText match {
              case "" => "jira_cursor"; case k => k }))
        Jira.read(spark, b.get("base_url").asText, jiraAuth(b),
          resource = b.path("resource").asText("issues"),
          jql = b.path("jql").asText(""),
          fields = Option(b.get("fields")).map(strings).getOrElse(Seq("*all")),
          expand = Option(b.get("expand")).map(strings).getOrElse(Seq.empty),
          pageSize = b.path("page_size").asInt(50),
          overlapMs = durMs(Option(b.at("/cursor/overlap"))
            .filterNot(_.isMissingNode).map(_.asText)
            .filter(_.nonEmpty).getOrElse("60s")),
          cursor = cursorOpt)
      },
      // streaming jira: one incremental JQL sweep per micro-batch — the
      // reference's continuous poll loop (inputs/jira.adoc)
      stream = polled(b => Jira.issuesPoller(b.get("base_url").asText,
        jiraAuth(b), jql = b.path("jql").asText(""),
        pageSize = b.path("page_size").asInt(50)))),
    entry("schema_registry") { (spark, b, _) =>
      // inputs/schema_registry.adoc — bulk subject/version walk
      SchemaRegistryIO.read(spark, b.get("url").asText,
        subjectFilter = b.path("subject_filter").asText(""),
        includeDeleted = b.path("include_deleted").asBoolean(false),
        fetchInOrder = b.path("fetch_in_order").asBoolean(true))
    },
    tailing("twitter_search")(
      batch = (spark, b, _) => {
        // twitter search template contract as a first-class input;
        // `cache` must name a file cache resource (writable cursor)
        val cur = Option(b.get("cache")).map(_.asText).filter(_.nonEmpty)
          .map(lbl => (fileCursor("twitter_search", "cache", lbl),
            b.path("cache_key").asText("last_tweet_id")))
        Twitter.searchRead(spark, b.get("query").asText,
          apiKey = b.get("api_key").asText,
          apiSecret = b.get("api_secret").asText,
          tweetFields = Option(b.get("tweet_fields")).map(strings)
            .getOrElse(Seq.empty),
          backfillSec = durMs(b.path("backfill_period").asText("5m")) / 1000,
          cursor = cur,
          baseUrl = b.path("base_url").asText("https://api.twitter.com"))
      },
      // streaming recent-search: cursor = newest tweet id, stale cursors
      // self-heal through the backfill window
      stream = polled(b => Twitter.poller(b.get("query").asText,
        b.at("/api_key").asText, b.at("/api_secret").asText,
        backfillSec = b.path("backfill_period_sec").asLong(300L),
        baseUrl = b.path("base_url").asText("https://api.twitter.com")))),
    tailing("discord")(
      batch = (spark, b, _) => {
        // inputs/discord.adoc — REST backfill sweep from the cached
        // last_message_id (the gateway-websocket half is env-blocked);
        // `cache` must name a file cache resource (writable)
        val cur = Option(b.get("cache")).map(_.asText).filter(_.nonEmpty)
          .map(lbl => (fileCursor("discord", "cache", lbl),
            b.path("cache_key").asText("last_message_id")))
        Discord.read(spark, b.get("channel_id").asText,
          b.get("bot_token").asText, cursor = cur,
          baseUrl = b.path("base_url").asText("https://discord.com/api/v10"),
          limit = b.path("limit").asInt(100))
      },
      // streaming discord backfill→follow: cursor = newest message id
      stream = polled(b => Discord.poller(b.get("channel_id").asText,
        b.get("bot_token").asText,
        baseUrl = b.path("base_url").asText("https://discord.com/api/v10"),
        limit = b.path("limit").asInt(100)))),
    entry("splunk") { (spark, b, _) =>
      // inputs/splunk.adoc — one Search API export POST, one message per
      // NDJSON line
      Splunk.searchRead(spark, b.get("url").asText,
        b.get("user").asText, b.get("password").asText,
        b.get("query").asText)
    },
    entry("slack_users") { (spark, b, _) =>
      // inputs/slack_users.adoc — users.list cursor walk; base_url is the
      // seam extension (mem:// = registered test transport)
      Slack.usersRead(spark, b.get("bot_token").asText,
        teamId = b.path("team_id").asText(""),
        baseUrl = b.path("base_url").asText("https://slack.com"))
    },
    // inputs/redis_{scan,list,pubsub,streams}.adoc over the Redis store
    // seam (mem:// = in-process fake)
    entry("redis_scan") { (spark, b, _) =>
      Redis.scanRead(spark, redisUrl("redis_scan", b),
        Option(b.get("match")).map(_.asText).filter(_.nonEmpty).getOrElse("*"))
    },
    entry("redis_list") { (spark, b, _) =>
      Redis.listRead(spark, redisUrl("redis_list", b), b.get("key").asText)
    },
    entry("redis_pubsub") { (spark, b, _) =>
      Redis.pubsubRead(spark, redisUrl("redis_pubsub", b),
        strings(b.get("channels")), b.path("use_patterns").asBoolean(false))
    },
    entry("redis_streams") { (spark, b, _) =>
      Redis.streamsRead(spark, redisUrl("redis_streams", b),
        strings(b.get("streams")), b.path("body_key").asText("body"))
    },
    entry("salesforce") { (spark, b, _) =>
      // inputs/salesforce.adoc — one SOQL extract, one message per
      // record. Config-form DIVERGENCE: `args` is a static literal list
      // (the adoc's args_mapping is a startup-time Bloblang eval with no
      // message context; the static list covers the same placeholder
      // substitution without an interpreter dependency)
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
        columns = strings(b.get("columns")),
        where = b.path("where").asText(""),
        args = Option(b.get("args")).map(_.elements().asScala.toSeq
          .map(sfArg)).getOrElse(Seq.empty),
        prefix = b.path("prefix").asText(""),
        suffix = b.path("suffix").asText(""),
        apiVersion = b.path("api_version").asText("v65.0"))
    },
    entry("postgres_cdc", "pg_stream") { (spark, b, _) =>
      // inputs/postgres_cdc.adoc (pg_stream is the deprecated alias,
      // inputs/pg_stream.adoc) — the reference's flagship connector. A
      // live START_REPLICATION socket is env-blocked here, so the input
      // replays a RECORDED pgoutput stream (wal_file: length-prefixed
      // CopyData frames) through the same native wire decoder
      // (PgOutput), emitting the StreamMessage envelope shape. frameFile
      // + the chunked admission inside `changes` keep the replay
      // O(admit-chunk) driver heap at snapshot scale
      graft.sources.PgOutput.changes(spark,
        graft.sources.PgOutput.frameFile(b.get("wal_file").asText))
    },
    entry("cassandra") { (spark, b, _) =>
      // inputs/cassandra.adoc — one SELECT, one message per row
      val addr = strings(b.get("addresses")).find(_.startsWith("mem://"))
        .getOrElse(throw new IllegalArgumentException(
          "cassandra: only mem:// loopback servers exist here"))
      Cassandra.read(spark, addr, b.get("query").asText)
    },
    entry("hdfs") { (spark, b, _) =>
      // inputs/hdfs.adoc — one message per file in the directory
      // (WebHDFS LISTSTATUS + OPEN; the native RPC needs hadoop jars)
      graft.sources.Hdfs.read(spark, b.get("url").asText,
        b.get("directory").asText)
    },
    entry("mongodb") { (spark, b, _) =>
      // inputs/mongodb.adoc — one find/aggregate cursor walk, one message
      // per document (BSON + OP_MSG over the mem:// loopback)
      Mongo.read(spark, b.get("url").asText,
        b.get("database").asText, b.get("collection").asText,
        queryJson = b.path("query").asText("{}"),
        operation = b.path("operation").asText("find"),
        sortJson = b.path("sort").asText(""),
        batchSize = b.path("batch_size").asInt(101))
    },
    entry("websocket") { (spark, b, _) =>
      // inputs/websocket.adoc — bounded drain over the RFC 6455 stack
      WebSocket.read(spark, b.get("url").asText,
        headers = stringMap(b.get("headers")),
        openMessage = Option(b.get("open_message")).map(_.asText))
    },
    entry("mysql_cdc") { (spark, b, _) =>
      // mysql_cdc (internal/impl/mysql) — a live replication socket is
      // env-blocked, so the input replays a RECORDED binlog file through
      // the native event decoder (MySqlBinlog). Column
      // names/signedness/enum literals are not on the wire: the `tables`
      // block registers them, the config-form analogue of the
      // reference's information_schema lookup (schema.go)
      import graft.sources.MySqlBinlog
      val schemas = b.get("tables").elements().asScala.map { t =>
        val db = t.path("db").asText("")
        val nm = t.get("name").asText
        val cols = t.get("columns").elements().asScala.map(c =>
          MySqlBinlog.ColDef(c.get("name").asText, c.get("type").asText)).toVector
        s"$db.$nm" -> MySqlBinlog.TableDef(db, nm, cols)
      }.toMap
      MySqlBinlog.changes(spark,
        MySqlBinlog.readBinlogFile(b.get("binlog_file").asText), schemas)
    },
    entry("zmq4") { (spark, b, _) =>
      // inputs/zmq4.adoc — bounded drain over the ZMTP 3.0 stack
      val uri = java.net.URI.create(b.get("urls").elements().asScala.next().asText)
      graft.sources.Zmtp.read(spark, uri.getHost, uri.getPort,
        b.get("socket_type").asText,
        count = b.path("count").asInt(0) match {
          case 0 => throw new IllegalArgumentException(
            "zmq4: a bounded batch read needs count")
          case n => n
        },
        subFilters = Option(b.get("sub_filters")).map(strings).getOrElse(Nil))
    },
    entry("sftp") { (spark, b, _) =>
      // inputs/sftp.adoc — one message per file, over the real SSH2 +
      // SFTP v3 stack (address host:port, password credentials)
      val Array(host, portS) = b.get("address").asText.split(":", 2)
      graft.sources.Sftp.read(spark, host, portS.toInt,
        b.at("/credentials/username").asText(""),
        b.at("/credentials/password").asText(""),
        strings(b.get("paths")).headOption.getOrElse("/"))
    },
    entry("gcp_cloud_storage") { (spark, b, _) =>
      // inputs/gcp_cloud_storage.adoc — bucket/prefix scan over the JSON
      // API, one message per object
      graft.sources.Gcs.read(spark, b.get("endpoint").asText,
        b.path("token").asText(""), b.get("bucket").asText,
        prefix = b.path("prefix").asText(""))
    },
    entry("azure_blob_storage") { (spark, b, _) =>
      // inputs/azure_blob_storage.adoc — container/prefix scan, one
      // message per blob over the Shared Key REST protocol
      graft.sources.AzureBlob.read(spark, b.get("endpoint").asText,
        graft.sources.AzureBlob.Account(
          b.path("storage_account").asText(""),
          b.path("storage_access_key").asText("")),
        b.get("container").asText,
        prefix = b.path("prefix").asText(""))
    },
    entry("aws_s3") { (spark, b, _) =>
      // inputs/aws_s3.adoc — bucket/prefix scan, one message per object;
      // endpoint selects the wire target (mem:// loopback with SigV4
      // verification, or a real S3-compatible endpoint)
      graft.sources.S3.read(spark, b.get("endpoint").asText,
        awsCreds(b, "", ""),
        b.get("bucket").asText,
        prefix = b.path("prefix").asText(""))
    },
    entry("git") { (spark, b, _) =>
      // inputs/git.adoc — one message per file at the branch head, read
      // through the native object-store reader (a remote repository_url
      // clone needs egress; local paths work)
      graft.sources.GitRepo.read(spark,
        b.get("repository_url").asText.stripPrefix("file://"),
        branchName = b.path("branch").asText(""),
        include = Option(b.get("include_patterns")).map(strings).getOrElse(Nil),
        exclude = Option(b.get("exclude_patterns")).map(strings).getOrElse(Nil),
        maxFileSize = b.path("max_file_size").asLong(0L))
    },
    entry("timeplus") { (spark, b, _) =>
      // inputs/timeplus.adoc — one message per query result row
      graft.sources.Timeplus.read(spark, b.get("url").asText,
        b.get("query").asText,
        workspace = b.path("workspace").asText("default"),
        apikey = b.path("apikey").asText(""))
    },
    entry("oracledb_cdc") { (spark, b, _) =>
      // internal/impl/oracledb — a live LogMiner session is env-blocked
      // (no Oracle engine); the input replays a RECORDED
      // V$LOGMNR_CONTENTS stream (redo_file: JSON lines) through the
      // same SQL_REDO parser + XID transaction cache
      import graft.sources.OracleCdc
      val rows = OracleCdc.readRedoFile(b.get("redo_file").asText)
      val table = b.get("table").asText
      val cols = strings(b.get("columns"))
      OracleCdc.changes(spark, rows, table, cols).select(
        to_json(struct(cols.map(col): _*)).as("value"),
        map(lit("table"), lit(table),
          lit("operation"), col("__op"),
          lit("ord"), col("__ord").cast("string")).as("metadata"),
        lit(null).cast("string").as("error"))
    },
    entry("microsoft_sql_server_cdc") { (spark, b, _) =>
      // input_mssqlserver_cdc.go — SQL Server CDC is a polled SQL
      // surface: change tables + LSN windows. The connection_string is a
      // JDBC url (embedded Derby runs the same queries through the
      // dialect seam; a real SQL Server url selects the reference's
      // exact bracket-quoted/NOLOCK text)
      import graft.sources.MsSqlCdc
      val url = b.get("connection_string").asText
      val dialect =
        if (url.contains(":derby:")) MsSqlCdc.DerbyDialect
        else MsSqlCdc.MsSqlDialect
      val tables = strings(b.get("include")).map { t =>
        val parts = t.split("\\.", 2)
        if (parts.length == 2) MsSqlCdc.TableRef(parts(0), parts(1))
        else MsSqlCdc.TableRef("dbo", parts(0))
      }
      require(tables.nonEmpty, "microsoft_sql_server_cdc: include " +
        "must name at least one schema.table")
      val to = MsSqlCdc.maxLsn(url, tables, dialect).getOrElse(MsSqlCdc.ZeroLsn)
      tables.map { t =>
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
      }.reduce(_ unionByName _)
    },
    entry("aws_sqs") { (spark, b, _) =>
      // inputs/aws_sqs.adoc — url names the queue; mem:// resolves the
      // in-process transport (the real service needs its SDK)
      val (addr, queue) = Component.splitQueueUrl(b.get("url").asText)
      CloudQueue.sqsRead(spark, addr, queue,
        visibilityTimeoutMs = durMs(b, "visibility_timeout", 30000L),
        deleteMessage = b.path("delete_message").asBoolean(true))
    },
    entry("gcp_pubsub") { (spark, b, _) =>
      // inputs/gcp_pubsub.adoc — project routes to the transport
      // registry (mem://name), subscription selects the pull stream
      CloudQueue.pubsubRead(spark, b.get("project").asText,
        b.get("subscription").asText,
        ackDeadlineMs = durMs(b, "ack_deadline", 30000L))
    },
    entry("aws_kinesis") { (spark, b, _) =>
      // inputs/aws_kinesis.adoc — streams: [name...]; shard=partition
      Kinesis.read(spark, b.get("url").asText, strings(b.get("streams")))
    },
    entry("nsq") { (spark, b, _) =>
      // inputs/nsq.adoc — one topic+channel per input; channel consumers
      // compete, FIN-on-emit
      Nsq.read(spark, memUrl("nsq", strings(b.get("nsqd_tcp_addresses"))),
        b.get("topic").asText, b.get("channel").asText)
    },
    entry("beanstalkd") { (spark, b, _) =>
      // inputs/beanstalkd.adoc — reserve → emit → delete on one tube
      Beanstalkd.read(spark, b.get("address").asText)
    },
    entry("azure_queue_storage") { (spark, b, _) =>
      // inputs/azure_queue_storage.adoc — storage_account routes to the
      // transport registry; track_properties adds message-lag
      AzureQueue.read(spark, b.get("storage_account").asText,
        b.get("queue_name").asText,
        visibilityTimeoutMs = durMs(b, "dequeue_visibility_timeout", 30000L),
        trackProperties = b.path("track_properties").asBoolean(false))
    },
    tailing("mongodb_cdc")(
      // inputs/mongodb_cdc.adoc — snapshot-then-stream change events
      batch = (spark, b, _) => MongoCdc.read(spark, b.get("url").asText,
          b.get("database").asText, strings(b.get("collections")),
          streamSnapshot = b.path("stream_snapshot").asBoolean(true),
          snapshotParallelism = b.path("snapshot_parallelism").asInt(1),
          checkpointPath = Option(b.get("checkpoint_cache")).map(_.asText))
        .toDF(),
      // streaming change-stream poll: cursor = resume token; the first
      // micro-batch snapshots, later batches stream
      stream = polled(b => MongoCdc.poller(b.get("url").asText,
        b.get("database").asText,
        b.get("collections").elements().asScala.next().asText))),
    tailing("aws_dynamodb_cdc")(
      batch = (spark, b, env) => {
        // inputs/aws_dynamodb_cdc.adoc — segmented snapshot + shard
        // lineage streams over the SigV4-verified JSON protocol.
        // `tables:` is the documented list form; the single-table engine
        // reads its head. `checkpoint_table` stores checkpoints in
        // DynamoDB itself (auto-created; `global_table` +
        // `global_table_replicas` provision it as a Global Table v2 for
        // cross-region failover resume — adoc:144,178).
        val dEndpoint = awsEndpoint(b, env, "DYNAMODB")
        val dCreds = awsCreds(b)
        val dTable = Option(b.get("table")).map(_.asText).getOrElse(
          b.get("tables").elements().asScala.next().asText)
        val ckStore = Option(b.get("checkpoint_table")).map(_.asText)
          .map { ct =>
            new DynamoCdc.DynamoCkptStore(dEndpoint, dCreds, ct, dTable,
              globalTable = b.path("global_table").asBoolean(false),
              replicas = Option(b.get("global_table_replicas")).map(strings)
                .getOrElse(Nil)): DynamoCdc.CkptStore
          }
        val dEvents = DynamoCdc.read(spark, dEndpoint, dCreds, dTable,
            snapshotSegments = b.path("snapshot_segments").asInt(4),
            checkpointPath = Option(b.get("checkpoint_cache")).map(_.asText),
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
      },
      // streaming shard poll: cursor = per-shard sequence numbers
      stream = polled(b => DynamoCdc.poller(b.get("endpoint").asText,
        awsCreds(b), b.get("table").asText))),
    tailing("gcp_spanner_cdc")(
      // inputs/gcp_spanner_cdc.adoc — change-stream TVF partitions with
      // per-partition watermarks
      batch = (spark, b, _) => SpannerCdc.read(spark, b.get("endpoint").asText,
          b.path("bearer_token").asText("spanner-token"),
          b.get("database").asText, b.get("stream_name").asText,
          checkpointPath = Option(b.get("checkpoint_cache")).map(_.asText))
        .toDF(),
      // streaming TVF poll: cursor = per-partition watermarks
      stream = polled(b => SpannerCdc.poller(b.get("endpoint").asText,
        b.path("bearer_token").asText("spanner-token"),
        b.get("database").asText, b.get("stream_name").asText))),
    tailing("salesforce_cdc")(
      // inputs/salesforce_cdc.adoc — Pub/Sub Subscribe with Avro payloads
      // and replay-id resume
      batch = (spark, b, _) => SalesforceCdc.read(spark, b.get("host").asText,
          b.get("port").asInt, salesforceCdcAuth(b), b.get("topic").asText,
          checkpointPath = Option(b.get("checkpoint_cache")).map(_.asText))
        .toDF(),
      // streaming Pub/Sub poll: cursor = newest replay id
      stream = polled(b => SalesforceCdc.poller(b.get("host").asText,
        b.get("port").asInt, salesforceCdcAuth(b), b.get("topic").asText))),
    entry("salesforce_graphql") { (spark, b, _) =>
      // inputs/salesforce_graphql.adoc — UIAPI edges/pageInfo walk
      SalesforceApi.graphqlRead(spark, b.get("org_url").asText,
        b.path("client_id").asText(""),
        b.path("client_secret").asText(""),
        b.get("query").asText,
        variablesJson = b.path("variables").asText("{}"))
    },
    tailing("spicedb_watch")(
      // inputs/spicedb_watch.adoc — Watch RPC with zed-token cache
      batch = (spark, b, _) => SpiceDb.watch(spark, b.get("host").asText,
          b.get("port").asInt, b.path("bearer_token").asText(""),
          cachePath = Option(b.get("cache")).map(_.asText),
          startCursor = Option(b.get("start_cursor")).map(_.asText))
        .toDF(),
      // streaming watch poll: cursor = newest zed token
      stream = polled(b => SpiceDb.poller(b.get("host").asText,
        b.get("port").asInt, b.path("bearer_token").asText(""),
        startCursor = Option(b.get("start_cursor")).map(_.asText)))),
    entry("aws_cloudwatch_logs") { (spark, b, env) =>
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
        streamNames = Option(b.get("log_stream_names")).map(strings).getOrElse(Nil),
        streamPrefix = Option(b.get("log_stream_prefix")).map(_.asText).orNull,
        startTime = startMs,
        filterPattern = Option(b.get("filter_pattern")).map(_.asText).orNull,
        structuredLog = b.path("structured_log").asBoolean(true))
    },
    entry("amqp_1") { (spark, b, _) =>
      // inputs/amqp_1.adoc — drain one receiver link over the native AMQP
      // 1.0 stack; url = amqp://host:port (loopback Amqp1.Server)
      val (h1, p1) = hostPort(Option(b.get("url")).map(_.asText)
        .getOrElse(throw new IllegalArgumentException("amqp_1 input needs url")))
      Amqp1.read(spark, h1, p1, b.get("source_address").asText,
        max = b.path("max_in_flight").asInt(10000),
        user = b.at("/sasl/user").asText(null),
        pass = b.at("/sasl/password").asText(null))
    },
    entry("broker") { (spark, b, env) =>
      // inputs/broker.adoc — child inputs merged into one stream;
      // `copies` replicates the whole set (the reference's
      // consumer-parallelism knob — literal duplicate consumption in the
      // bounded form)
      val kids = Option(b.get("inputs")).getOrElse(
        throw new IllegalArgumentException("broker input needs inputs"))
        .elements().asScala.toSeq
      require(kids.nonEmpty, "broker input needs inputs")
      Sources.broker(Seq.fill(b.path("copies").asInt(1))(kids).flatten
        .map(k => batch(spark, k, env)))
    },
    entry("cockroachdb_changefeed") { (spark, b, _) =>
      // inputs/cockroachdb_changefeed.adoc — the Core Changefeed
      // statement executes against the mem:// MVCC cluster seam (a live
      // rangefeed socket is env-blocked); cursor resume rides a file
      // cache resource under `cursor_cache`
      Cockroach.read(spark,
        Cockroach.clusterFor(b.get("dsn").asText).feed,
        strings(b.get("tables")),
        Option(b.get("options")).map(strings).getOrElse(Nil),
        Option(b.get("cursor_cache")).map(_.asText).filter(_.nonEmpty)
          .map(fileCursor("cockroachdb_changefeed", "cursor_cache", _)).orNull)
    },
    entry("nanomsg") { (spark, b, _) =>
      // inputs/nanomsg.adoc — bounded drain over SP-on-TCP (PULL or SUB);
      // the bounded batch form needs an explicit message budget (`count`
      // — a live stream has no natural end)
      val (nh, np) = hostPort(strings(b.get("urls")).head)
      Nanomsg.read(spark, nh, np,
        b.path("socket_type").asText("PULL").toUpperCase,
        count = Option(b.get("count")).map(_.asInt).getOrElse(
          throw new IllegalArgumentException(
            "nanomsg input needs count (bounded drain budget)")),
        subFilters = Option(b.get("sub_filters")).map(strings).getOrElse(Nil))
    },
    entry("otlp_http") { (spark, b, _) =>
      // inputs/otlp_http.adoc — `address` resolves to the live loopback
      // collector; accepted exports unbatch to one row per span / log
      // record / metric point
      val osrv = Otlp.HttpServer.serverAt(b.path("address").asText(""))
        .getOrElse(throw new IllegalArgumentException(
          "otlp_http: no live collector at this address (start Otlp.HttpServer first)"))
      Otlp.unbatchDf(osrv.drain(spark))
    },
    entry("otlp_grpc") { (spark, b, _) =>
      // inputs/otlp_grpc.adoc — same drain over the h2c gRPC stack
      val gsrv = OtlpGrpc.GrpcServer.serverAt(b.path("address").asText(""))
        .getOrElse(throw new IllegalArgumentException(
          "otlp_grpc: no live collector at this address (start OtlpGrpc.GrpcServer first)"))
      Otlp.unbatchDf(gsrv.drain(spark))
    },
    entry("read_until") { (spark, b, env) =>
      // inputs/read_until.adoc — consume the child until a message passes
      // `check`; the triggering row is kept and tagged
      // benthos_read_until=final
      val ruChild0 = batch(spark, Option(b.get("input")).getOrElse(
        throw new IllegalArgumentException("read_until needs input")), env)
      Option(b.get("check")).map(_.asText).filter(_.nonEmpty) match {
        case None => ruChild0
        case Some(c) =>
          val withSeq =
            if (ruChild0.columns.contains("__seq")) ruChild0
            else ruChild0.withColumn("__seq", monotonically_increasing_id())
          val ruChild = graft.sources.Envelope.ensure(withSeq)
          val pred = Blobl.predicateJson(ruChild, c, env,
            metadataCol = Some("metadata"))
          val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
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
    },
    entry("redpanda_migrator") { (spark, b, _) =>
      // inputs/redpanda_migrator.adoc — consume the SOURCE cluster's
      // topics (kafka-shaped rows; topic rides metadata so the paired
      // output can write to matching topics). Schema/ACL sync is
      // Migrator.migrate — the whole-pipeline form.
      val mAddrs = Option(b.get("seed_brokers")).map(strings)
        .getOrElse(throw new IllegalArgumentException(
          "redpanda_migrator input needs seed_brokers"))
      val mMem = mAddrs.find(_.startsWith("mem://")).getOrElse(
        throw new IllegalArgumentException(
          "redpanda_migrator: only mem:// clusters exist in this environment"))
      val mTopics = Option(b.get("topics")).map(strings)
        .getOrElse(Broker.transportFor(mMem).listTopics())
      require(mTopics.nonEmpty, "redpanda_migrator: source has no topics")
      Sources.broker(mTopics.map(t => Sources.brokerRead(spark, mMem, t)))
    },
    entry("slack") { (spark, b, _) =>
      // inputs/slack.adoc — Socket Mode drain (events_api envelopes,
      // acked first-class); base_url targets the loopback server
      SlackSocket.read(spark, b.get("app_token").asText,
        graft.operators.Http.javaClient(),
        baseUrl = b.path("base_url").asText("https://slack.com/api"))
    },
    entry("socket_server") { (spark, b, _) =>
      // inputs/socket_server.adoc — the config's own `address` field
      // resolves to the live line server; the bounded run drains the
      // arrival log (push inputs snapshot, the stdin treatment)
      val tAddr = b.get("address").asText
      Tcp.serverAt(tAddr).getOrElse(
        throw new IllegalArgumentException(
          s"socket_server: no live server at $tAddr (start Tcp.LineServer first)"))
        .drain(spark)
    },
    entry("http_server", "gateway") { (spark, b, _) =>
      // inputs/http_server.adoc + inputs/gateway.adoc — `address`
      // resolves to the live push server; bounded drain of the arrival
      // log with the http_server_* metadata contract
      val hAddr = b.path("address").asText("")
      HttpPushServer.serverAt(hAddr).getOrElse(
        throw new IllegalArgumentException(
          s"http_server: no live server at '$hAddr' (start HttpPushServer first)"))
        .drain(spark)
    },
    entry("dynamic") { (spark, b, env) =>
      // inputs/dynamic.adoc — a set of NAMED child inputs that can be
      // enabled/disabled at runtime. The reference toggles them through
      // its HTTP admin endpoints; here the same toggles live on the
      // [[Pipeline.Dynamic]] registry (`prefix` scopes the names).
      val prefix = b.path("prefix").asText("")
      val children = Option(b.get("inputs")).map(_.properties().asScala
        .toSeq.map(e => e.getKey -> e.getValue)).getOrElse(Nil)
      require(children.nonEmpty, "dynamic input needs inputs")
      val active = children.filter { case (label, _) =>
        Pipeline.Dynamic.enabled(prefix, label)
      }
      require(active.nonEmpty, "dynamic input: every child is disabled")
      val emptyMeta = map().cast("map<string,string>")
      active.map { case (label, spec) =>
        val child = batch(spark, spec, env)
        val withMeta =
          if (child.columns.contains("metadata")) child
          else child.withColumn("metadata", emptyMeta)
        withMeta.withColumn("metadata", map_concat(
          coalesce(col("metadata"), emptyMeta),
          map(lit("dynamic_input"), lit(label))))
      }.reduce(_ unionByName _)
    })

  private def jiraAuth(b: JsonNode): Jira.Auth =
    Jira.Auth(b.at("/auth/email").asText, b.at("/auth/api_token").asText)

  private def salesforceCdcAuth(b: JsonNode): SalesforceCdc.Auth =
    SalesforceCdc.Auth(b.path("access_token").asText("tok"),
      b.path("instance_url").asText(""), b.path("tenant_id").asText(""))
}
