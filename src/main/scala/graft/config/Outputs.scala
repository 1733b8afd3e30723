package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.blobl.Blobl
import graft.config.Component.{awsCreds, durMs, interp, memUrl, memUrlOf, metaColOf, redisUrl, stringMap, strings}
import graft.sinks.Sinks
import graft.sources.{Envelope, AzureQueue, Beanstalkd, Cassandra, CloudQueue, Discord, HttpClient, Mq, Nsq, PubSub, Redis, SalesforceApi, SchemaRegistryIO, Slack, Splunk, Tcp, WebSocket, Mongo}

/** The output family: every output's batch form (a bounded write for
  * [[Pipeline.run]]) and, where the output can take an unbounded frame,
  * its stream form (a started query for [[Pipeline.runStream]]), side by
  * side in one entry.
  */
private[graft] object Outputs {

  private type Write = (DataFrame, JsonNode, Map[String, String]) => Unit
  private type Stream = (DataFrame, JsonNode) => StreamingQuery

  private final case class Output(batch: Write, stream: Option[Stream])

  /** Write a bounded frame through an output node. Its attached
    * `processors:` run on every batch as it is written
    * (components/outputs/about.adoc "Processors" — the retrieval configs
    * shape their sync_response reply this way).
    */
  def write(df: DataFrame, n: JsonNode, env: Map[String, String]): Unit =
    family.resolve(n, env) match {
      case Component.Found(out, node) => out.batch(node.after(df), node.body, env)
      case t: Component.Templated =>
        t.expand(df.sparkSession)(write(t.node.after(df), _, env))
    }

  /** Start a streaming frame's query through an output node. */
  def stream(df: DataFrame, n: JsonNode, env: Map[String, String]): StreamingQuery =
    family.resolve(n, env) match {
      case Component.Found(out, node) =>
        out.stream.getOrElse(throw new IllegalArgumentException(
          s"streaming output '${node.kind}' not supported"))(node.after(df), node.body)
      case t: Component.Templated =>
        t.expand(df.sparkSession)(stream(t.node.after(df), _, env))
    }

  private def entry(names: String*)(batch: Write): Seq[(String, Output)] =
    names.map(_ -> Output(batch, None))

  private def streaming(names: String*)(batch: Write, stream: Stream): Seq[(String, Output)] =
    names.map(_ -> Output(batch, Some(stream)))

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

  private def seqOrder(df: DataFrame): Column =
    if (df.columns.contains("__seq")) col("__seq") else monotonically_increasing_id()

  private def batchCount(b: JsonNode, dflt: Int): Int =
    b.at("/batching/count").asInt(dflt) match {
      case 0 => dflt
      case n => n
    }

  private def pubsubOut(kind: String): Write = (df, b, _) => {
    // outputs/nats.adoc + outputs/mqtt.adoc — per-row interpolated
    // subject/topic, published executor-side to the subject log
    val mem = memUrlOf(kind, b)
    val subjTpl =
      (if (kind == "mqtt") Option(b.get("topic")) else Option(b.get("subject")))
        .map(_.asText).getOrElse(throw new IllegalArgumentException(
          s"$kind output needs a subject/topic"))
    PubSub.write(df.withColumn("__subject", interp(df, subjTpl))
      .sortWithinPartitions(seqOrder(df)), mem, "__subject")
  }

  /** outputs/elasticsearch_v8.adoc / opensearch.adoc — _bulk NDJSON with
    * per-message interpolated index/action/id. An opensearch `aws` block
    * with `enabled: true` signs every request with SigV4 (service `es`).
    */
  private def bulk(signs: Boolean): Write = (df, b, _) => {
    def field(name: String, dflt: String) =
      Option(b.get(name)).map(_.asText).filter(_.nonEmpty)
        .map(interp(df, _)).getOrElse(lit(dflt))
    val url = Option(b.get("urls")).map(strings).getOrElse(Seq(b.path("url").asText))
      .headOption.filter(_.nonEmpty).getOrElse(
        throw new IllegalArgumentException("bulk output needs urls"))
    val (index, action, id) = (field("index", "docs"), field("action", "index"),
      field("id", ""))
    Option(b.get("aws")).filter(a => signs && a.path("enabled").asBoolean(false)) match {
      case Some(aws) => graft.sinks.OpenSearch.bulkWrite(df, url, index, action,
        id, batchSize = batchCount(b, 500), creds = Some(awsCreds(aws)))
      case None => graft.sinks.Search.bulkWrite(df, url, index, action, id,
        batchSize = batchCount(b, 500))
    }
  }

  private val family = new Component.Family[Output]("output", attaches = true,
    other => s"output '$other' not supported")(
    streaming("lakehouse")(
      // iceberg-shaped upsert output (output_iceberg.go contract):
      // identifier keys + optional partitioning + delete column
      batch = (df, b, _) => Sinks.lakehouse(unpackForTable(df, b),
        b.get("table").asText, strings(b.get("keys")),
        Option(b.get("partition_by")).map(strings).getOrElse(Seq.empty),
        Option(b.get("delete_column")).map(_.asText)),
      // streaming MERGE per micro-batch — the CDC-apply sink shape
      stream = (df, b) => graft.sinks.Lakehouse.upsertStream(
        unpackForTable(df, b), b.get("table").asText, strings(b.get("keys")),
        b.get("checkpoint").asText,
        partitionCols = Option(b.get("partition_by")).map(strings)
          .getOrElse(Seq.empty),
        deleteCol = Option(b.get("delete_column")).map(_.asText))),
    streaming("parquet")(
      batch = (df, b, _) => Sinks.parquet(df, b.get("path").asText),
      stream = (df, b) => Sinks.parquetStream(df, b.get("path").asText,
        b.get("checkpoint").asText)),
    entry("csv") { (df, b, _) => Sinks.csv(df, b.get("path").asText) },
    entry("json") { (df, b, _) => Sinks.jsonLines(df, b.get("path").asText) },
    entry("kafka", "redpanda", "kafka_franz", "redpanda_common") { (df, b, _) =>
      // outputs/kafka.adoc — key is an interpolated string; partition
      // comes from `partitioner: manual` + `partition`, else the default
      // fnv1a_hash of the key (output_sarama_kafka.go:367)
      val brokers = Component.kafkaBrokers(b, "output")
      val topic = b.get("topic").asText
      val keyC = Option(b.get("key")).map(_.asText).filter(_.nonEmpty)
        .map(interp(df, _)).getOrElse(lit(null).cast("string"))
      val partitioner = Option(b.get("partitioner")).map(_.asText)
        .getOrElse("fnv1a_hash")
      val partC =
        if (partitioner == "manual")
          Some(interp(df, Option(b.get("partition")).map(_.asText)
            .filter(_.nonEmpty).getOrElse(throw new IllegalArgumentException(
              "partitioner: manual needs `partition`"))).cast("int"))
        else None
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
        .filterNot(_.isMissingNode).map(strings).getOrElse(Nil)
      val headersC =
        if (headerPats.nonEmpty && df.columns.contains("metadata"))
          Some(map_filter(col("metadata"),
            (k, _) => headerPats.map(p => k.rlike(p)).reduce(_ || _)))
        else None
      brokers.wire match {
        case Some(mem) =>
          val addr = Component.kafkaAddr(mem,
            txnId.map(t => "transactional_id=" +
              java.net.URLEncoder.encode(t, "UTF-8")).toSeq ++
              (if (idem) Seq("idempotent=true") else Nil) ++
              Component.kafkaSaslQuery(b).toSeq)
          Sinks.brokerWrite(df, addr, topic, keyC, col("value"), seqOrder(df),
            partitioner, partC, headersCol = headersC)
        case None =>
          // real brokers: the connector's batch writer (symmetric with
          // the input case; needs the spark-sql-kafka jar at runtime)
          df.select(keyC.cast("binary").as("key"),
              col("value").cast("binary").as("value"))
            .write.format("kafka")
            .option("kafka.bootstrap.servers", brokers.addrs.mkString(","))
            .option("topic", topic)
            .save()
      }
    },
    entry("amqp_0_9") { (df, b, _) =>
      // outputs/amqp_0_9.adoc — publish to an exchange with an
      // interpolated routing key; the BROKER routes into queues
      // (direct/fanout/topic), so the write is a narrow partition-
      // parallel pass. exchange_declare optionally creates/verifies the
      // exchange first.
      val mem = memUrlOf("amqp_0_9", b)
      val exchange = b.get("exchange").asText
      val decl = b.path("exchange_declare")
      if (decl.path("enabled").asBoolean(false))
        Mq.transportFor(mem).declareExchange(exchange,
          decl.path("type").asText("direct"))
      val keyC = interp(df, Option(b.get("key")).map(_.asText).getOrElse(""))
      // producer order holds within a task (connection); cross-task
      // interleave is a real competing-producers broker's behavior
      Mq.amqpWrite(df.withColumn("__amqp_key", keyC)
          .sortWithinPartitions(seqOrder(df)),
        mem, exchange, "__amqp_key")
    },
    entry("nats")(pubsubOut("nats")),
    entry("nats_jetstream")(pubsubOut("nats_jetstream")),
    entry("mqtt")(pubsubOut("mqtt")),
    entry("schema_registry") { (df, b, _) =>
      // outputs/schema_registry.adoc — one registration POST per message
      // under the interpolated subject
      SchemaRegistryIO.write(df, b.get("url").asText,
        subject = interp(df, b.get("subject").asText))
    },
    entry("discord") { (df, b, _) =>
      // outputs/discord.adoc — POST per message to the channel; JSON
      // objects post directly, raw text wraps as {"content": ...}
      Discord.write(df, b.get("channel_id").asText,
        b.get("bot_token").asText,
        baseUrl = b.path("base_url").asText("https://discord.com/api/v10"))
    },
    entry("splunk_hec") { (df, b, _) =>
      // outputs/splunk_hec.adoc — batched collector POSTs with event
      // wrapping and configured field overrides
      Splunk.hecWrite(df, b.get("url").asText, b.get("token").asText,
        eventHost = b.path("event_host").asText(""),
        eventSource = b.path("event_source").asText(""),
        eventSourceType = b.path("event_sourcetype").asText(""),
        eventIndex = b.path("event_index").asText(""),
        gzip = b.path("gzip").asBoolean(false),
        batchSize = math.max(1, b.at("/batching/count").asInt(100)))
    },
    entry("slack_reaction") { (df, b, _) =>
      // outputs/slack_reaction.adoc — reactions.add/.remove per message
      // with interpolated channel/timestamp/emoji
      Slack.reactionWrite(df, b.get("bot_token").asText,
        channelId = interp(df, b.get("channel_id").asText),
        timestamp = interp(df, b.get("timestamp").asText),
        emoji = interp(df, b.get("emoji").asText),
        action = b.path("action").asText("add"),
        baseUrl = b.path("base_url").asText("https://slack.com"))
    },
    entry("slack_post") { (df, b, _) =>
      // outputs/slack_post.adoc — chat.postMessage per message with
      // interpolated channel/thread/text; `blocks` is a bloblang
      // expression returning the JSON array (mutually exclusive with
      // text, enforced in Slack.postWrite)
      val textOpt = Option(b.get("text")).map(_.asText).filter(_.nonEmpty)
      val blocksOpt = Option(b.get("blocks")).map(_.asText).filter(_.nonEmpty)
      Slack.postWrite(df, b.get("bot_token").asText,
        channelId = interp(df, b.get("channel_id").asText),
        text = textOpt.map(interp(df, _)).orNull,
        blocksJson = blocksOpt.map(x => Blobl.exprJson(df, x)).orNull,
        threadTs = Option(b.get("thread_ts")).map(_.asText)
          .filter(_.nonEmpty).map(interp(df, _)).orNull,
        markdown = b.path("markdown").asBoolean(true),
        unfurlLinks = b.path("unfurl_links").asBoolean(false),
        unfurlMedia = b.path("unfurl_media").asBoolean(true),
        linkNames = b.path("link_names").asBoolean(false),
        baseUrl = b.path("base_url").asText("https://slack.com"))
    },
    entry("http_client") { (df, b, _) =>
      // outputs/http_client.adoc — one request per message, URL
      // interpolated per row
      val url = b.get("url").asText
      HttpClient.write(df, interp(df, url),
        verb = b.path("verb").asText("POST"),
        headers = stringMap(b.get("headers")),
        batchSize = b.path("batch_size").asInt(16),
        clientUrl = url)
    },
    // outputs/redis_{list,hash,pubsub,streams}.adoc — interpolated
    // key/channel per row; per-key FIFO order via one sorted reducer per
    // key (the Redis.listWrite contract)
    entry("redis_list") { (df, b, _) =>
      Redis.listWrite(df, redisUrl("redis_list", b),
        interp(df, b.get("key").asText), col("value"), seqOrder(df))
    },
    entry("redis_pubsub") { (df, b, _) =>
      Redis.pubsubWrite(df, redisUrl("redis_pubsub", b),
        interp(df, b.get("channel").asText), col("value"), seqOrder(df))
    },
    entry("redis_streams") { (df, b, _) =>
      Redis.streamWrite(df, redisUrl("redis_streams", b), b.get("stream").asText,
        interp(df, b.path("id").asText("*")), col("value"), seqOrder(df),
        b.path("body_key").asText("body"), metaColOf(df))
    },
    entry("redis_hash") { (df, b, _) =>
      // fields come from explicit `fields` interpolations, the walked
      // JSON object, and/or walked metadata (adoc order: walked sources
      // first, explicit fields override)
      val url = redisUrl("redis_hash", b)
      val explicit = Option(b.get("fields")).map(_.properties().asScala
        .toSeq.map(e => (e.getKey, e.getValue.asText))).getOrElse(Seq.empty)
      val explicitC =
        if (explicit.isEmpty) lit(null).cast("map<string,string>")
        else map(explicit.flatMap { case (f, tpl) =>
          Seq(lit(f), interp(df, tpl))
        }: _*)
      val walkJson =
        if (b.path("walk_json_object").asBoolean(false))
          from_json(col("value"), org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))
        else lit(null).cast("map<string,string>")
      val walkMeta =
        if (b.path("walk_metadata").asBoolean(false) && metaColOf(df).nonEmpty)
          col("metadata")
        else lit(null).cast("map<string,string>")
      val empty = map().cast("map<string,string>")
      // map_concat rejects duplicate keys (mapKeyDedupPolicy) — overlay
      // drops a's entries that b overrides
      def overlay(a: Column, b: Column): Column =
        map_concat(map_filter(a, (k, _) => !map_contains_key(b, k)), b)
      val fieldsC = overlay(overlay(coalesce(walkMeta, empty),
        coalesce(walkJson, empty)), coalesce(explicitC, empty))
      Redis.hashWrite(df, url, interp(df, b.get("key").asText), fieldsC,
        seqOrder(df))
    },
    entry("socket") { (df, b, _) =>
      // outputs/socket.adoc — one ordered connection (lines codec)
      Tcp.write(df, b.get("address").asText)
    },
    entry("inproc") { (df, b, _) =>
      // outputs/inproc.adoc — register under the id for a sibling
      // pipeline's inproc input (one output per id; a collision replaces
      // the previous registration, per the adoc)
      df.createOrReplaceTempView("inproc_" + b.asText)
    },
    entry("stdout") { (df, _, _) =>
      // outputs/stdout.adoc — newline-delimited messages to standard out;
      // driver-side ordered drain (a console is one consumer), streamed
      // partition-by-partition so the driver never holds the full result
      // (toLocalIterator, same shape as Tcp/HttpPush)
      val orderedOut = if (df.columns.contains("__seq"))
        df.orderBy(col("__seq")) else df
      orderedOut.select(col("value")).toLocalIterator().asScala
        .foreach(r => Console.out.println(r.getString(0)))
    },
    entry("nats_kv") { (df, b, _) =>
      // outputs/nats_kv.adoc — put each value under its interpolated key
      graft.sources.NatsKv.write(df, memUrl("nats_kv", strings(b.get("urls"))),
        b.get("bucket").asText, interp(df, b.get("key").asText),
        col("value"), seqOrder(df))
    },
    entry("elasticsearch_v8", "elasticsearch_v9", "elasticsearch")(bulk(signs = false)),
    entry("opensearch")(bulk(signs = true)),
    entry("pulsar") { (df, b, _) =>
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
      val keyCP = Option(b.get("key")).map(_.asText).filter(_.nonEmpty)
        .map(interp(df, _)).getOrElse(lit(null).cast("string"))
      Sinks.brokerWrite(df, url, topic, keyCP, col("value"), seqOrder(df),
        partitioner = "java_hash")
    },
    entry("qdrant") { (df, b, _) =>
      // outputs/qdrant.adoc — id is interpolated, vector_mapping is a
      // bloblang expression over the message producing the point's
      // vector; points batch-upsert executor-side into the collection
      // (mem:// = in-process VectorStore fake; real stores need gRPC)
      val meta = metaColOf(df)
      val idC = interp(df, b.get("id").asText).cast("long")
      val vecExpr = Option(b.get("vector_mapping")).map(_.asText)
        .getOrElse("root = this.embedding")
        .replaceFirst("^\\s*root\\s*=\\s*", "")
      val vecC = from_json(Blobl.exprJson(df, vecExpr, metadataCol = meta)
        .cast("string"), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))
      graft.sinks.VectorStore.upsert(
        df.select(idC.as("__vid"), vecC.as("__vec")),
        b.get("grpc_host").asText, b.get("collection_name").asText,
        "__vid", "__vec")
    },
    entry("sftp") { (df, b, _) =>
      // outputs/sftp.adoc — interpolated path, one upload per message
      val Array(hostO, portO) = b.get("address").asText.split(":", 2)
      graft.sources.Sftp.write(df, hostO, portO.toInt,
        b.at("/credentials/username").asText(""),
        b.at("/credentials/password").asText(""),
        interp(df, b.get("path").asText))
    },
    entry("aws_sns") { (df, b, _) =>
      // outputs/aws_sns.adoc — Query-API Publish per message
      graft.sources.AwsApi.snsWrite(df, b.get("endpoint").asText,
        awsCreds(b, "", ""),
        b.get("topic_arn").asText)
    },
    entry("gcp_cloud_storage") { (df, b, _) =>
      // outputs/gcp_cloud_storage.adoc — interpolated path uploads
      graft.sources.Gcs.write(df, b.get("endpoint").asText,
        b.path("token").asText(""), b.get("bucket").asText,
        interp(df, b.get("path").asText))
    },
    entry("azure_blob_storage") { (df, b, _) =>
      // outputs/azure_blob_storage.adoc — interpolated path PUTs
      graft.sources.AzureBlob.write(df, b.get("endpoint").asText,
        graft.sources.AzureBlob.Account(
          b.path("storage_account").asText(""),
          b.path("storage_access_key").asText("")),
        b.get("container").asText, interp(df, b.get("path").asText))
    },
    entry("aws_s3") { (df, b, _) =>
      // outputs/aws_s3.adoc — interpolated path, one PUT per message
      graft.sources.S3.write(df, b.get("endpoint").asText,
        awsCreds(b, "", ""),
        b.get("bucket").asText, interp(df, b.get("path").asText))
    },
    entry("arc") { (df, b, _) =>
      // outputs/arc.adoc — msgpack ingestion with columnar transpose
      graft.sinks.Arc.write(df, b.get("url").asText,
        b.get("database").asText, interp(df, b.get("table").asText),
        format = b.path("format").asText("columnar"),
        token = b.path("token").asText(""),
        gzip = b.path("compression").asText("") == "gzip")
    },
    entry("timeplus") { (df, b, _) =>
      // outputs/timeplus.adoc — columnar ingest POSTs
      graft.sources.Timeplus.write(df, b.get("url").asText,
        b.get("stream").asText,
        columns = strings(b.get("columns")),
        target = b.path("target").asText("timeplus"),
        workspace = b.path("workspace").asText("default"),
        apikey = b.path("apikey").asText(""))
    },
    entry("cypher") { (df, b, _) =>
      // outputs/cypher.adoc — query per message against a Bolt endpoint;
      // args_mapping (bloblang) builds the parameter map
      val uri = java.net.URI.create(b.get("uri").asText)
      val mapped = Option(b.get("args_mapping")).map(_.asText) match {
        case Some(m) => Blobl.mapping(df, m, metadataCol = metaColOf(df))
        case None => df.withColumn("value", lit("{}"))
      }
      graft.sinks.CypherGraph.writeJsonArgs(mapped, uri.getHost,
        uri.getPort,
        b.at("/basic_auth/user").asText("neo4j"),
        b.at("/basic_auth/password").asText(""),
        b.get("cypher").asText, col("value"),
        db = b.path("database_name").asText(""))
    },
    entry("doris_stream_load") { (df, b, _) =>
      // outputs/doris_stream_load.adoc — one stream-load request per
      // chunk; FE redirect + verdict classification inside write
      val fe = Option(b.get("url")).map(_.asText)
        .orElse(Option(b.get("fe_urls")).flatMap(strings(_).headOption))
        .getOrElse(throw new IllegalArgumentException(
          "doris_stream_load: url or fe_urls required"))
      graft.sinks.Doris.write(df, fe, graft.sinks.Doris.Conf(
        b.get("database").asText, b.get("table").asText,
        format = b.path("format").asText("json"),
        labelPrefix = b.path("label_prefix").asText("graft"),
        groupCommit = b.path("group_commit").asText("off_mode"),
        columns = Option(b.get("columns")).map(strings).getOrElse(Nil)),
        batchSize = batchCount(b, 2000))
    },
    entry("hdfs") { (df, b, _) =>
      // outputs/hdfs.adoc — directory + interpolated per-message path
      graft.sources.Hdfs.write(df, b.get("url").asText,
        b.get("directory").asText, interp(df, b.get("path").asText))
    },
    entry("pusher") { (df, b, _) =>
      // outputs/pusher.adoc — interpolated channel, 10-event batches,
      // signed requests
      graft.sinks.Pusher.write(df, b.get("url").asText,
        graft.sinks.Pusher.Conf(b.get("appId").asText,
          b.get("key").asText, b.get("secret").asText,
          b.path("cluster").asText("mt1"), b.get("event").asText),
        interp(df, b.get("channel").asText))
    },
    entry("questdb") { (df, b, _) =>
      // outputs/questdb.adoc — ILP/HTTP lines; symbols/doubles/designated
      // timestamp field map straight through. `addresses` (a list) is the
      // sharded scale extension: partitions fan out round-robin over the
      // ingest endpoints (QuestDb.writeSharded)
      def strSet(field: String): Set[String] =
        Option(b.get(field)).map(strings(_).toSet).getOrElse(Set.empty)
      graft.sinks.QuestDb.writeSharded(df,
        Option(b.get("addresses")).map(strings)
          .getOrElse(Seq(b.get("address").asText)),
        b.get("table").asText,
        symbols = strSet("symbols"), doubles = strSet("doubles"),
        designatedTimestampField =
          b.path("designated_timestamp_field").asText(""),
        designatedTimestampUnit =
          b.path("designated_timestamp_unit").asText("auto"),
        batchSize = batchCount(b, 1000))
    },
    entry("pinecone") { (df, b, _) =>
      // outputs/pinecone.adoc — operation enum, interpolated id,
      // vector_mapping producing a float array
      val idC = interp(df, b.path("id").asText("${! json(\"id\") }"))
      val op = b.path("operation").asText("upsert-vectors")
      val vecC =
        if (op == "delete-vectors") null
        else {
          val vecExpr = Option(b.get("vector_mapping")).map(_.asText)
            .getOrElse("root = this.embedding")
            .replaceFirst("^\\s*root\\s*=\\s*", "")
          from_json(Blobl.exprJson(df, vecExpr, metadataCol = metaColOf(df))
            .cast("string"), org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType))
        }
      graft.sinks.Pinecone.write(df, b.get("host").asText, op, idC, vecC,
        namespace = b.path("namespace").asText(""),
        batchSize = batchCount(b, 100))
    },
    entry("websocket") { (df, b, _) =>
      // outputs/websocket.adoc — one connection per partition
      WebSocket.write(df, b.get("url").asText,
        headers = stringMap(b.get("headers")))
    },
    entry("cassandra") { (df, b, _) =>
      // outputs/cassandra.adoc — parameterized query per message with
      // args from columns (the args_mapping result), logged batches
      val addr = strings(b.get("addresses")).find(_.startsWith("mem://"))
        .getOrElse(throw new IllegalArgumentException(
          "cassandra: only mem:// loopback servers exist here"))
      Cassandra.write(df, addr, b.get("query").asText,
        argCols = b.get("args").elements().asScala.toSeq.map(a =>
          (a.get("column").asText, a.get("type").asText)),
        consistency = b.path("consistency").asText("QUORUM"),
        loggedBatch = b.path("logged_batch").asBoolean(true),
        batchSize = b.path("batch_size").asInt(64))
    },
    entry("mongodb") { (df, b, _) =>
      // outputs/mongodb.adoc — per-row operation over one connection per
      // partition
      Mongo.write(df, b.get("url").asText, b.get("database").asText,
        b.get("collection").asText,
        operation = b.path("operation").asText("insert-one"),
        upsert = b.path("upsert").asBoolean(false))
    },
    entry("gcp_bigquery") { (df, b, _) =>
      // outputs/gcp_bigquery.adoc — batches as polled load jobs
      graft.sinks.BigQuery.write(df, graft.sinks.BigQuery.Conf(
        b.get("project").asText, b.get("dataset").asText,
        b.get("table").asText,
        format = b.path("format").asText("NEWLINE_DELIMITED_JSON"),
        writeDisposition =
          b.path("write_disposition").asText("WRITE_APPEND"),
        createDisposition =
          b.path("create_disposition").asText("CREATE_IF_NEEDED"),
        csvHeader = Option(b.at("/csv/header")).filterNot(_.isMissingNode)
          .map(strings).getOrElse(Seq.empty)),
        baseUrl = b.path("base_url").asText("https://bigquery.googleapis.com"))
    },
    entry("snowflake_streaming") { (df, b, _) =>
      // outputs/snowflake_streaming.adoc — channel-per-partition with
      // offset-token exactly-once
      graft.sinks.Snowpipe.write(df, b.get("account_url").asText,
        b.get("database").asText, b.get("schema").asText,
        b.get("table").asText,
        channelPrefix = b.path("channel_prefix").asText("graft"),
        offsetTokenCol = b.path("offset_token").asText("__offset_token"))
    },
    entry("aws_sqs") { (df, b, _) =>
      // outputs/aws_sqs.adoc — per-row group/dedup from optional
      // message_group_id / message_deduplication_id COLUMNS (the adoc's
      // per-message interpolations resolve to columns here)
      val (addr, queue) = Component.splitQueueUrl(b.get("url").asText)
      CloudQueue.sqsWrite(df, addr, queue,
        groupIdCol = Option(b.get("message_group_id")).map(_.asText),
        dedupIdCol = Option(b.get("message_deduplication_id")).map(_.asText),
        attributeCols = Option(b.get("metadata_columns")).map(strings)
          .getOrElse(Seq.empty))
    },
    entry("gcp_pubsub") { (df, b, _) =>
      CloudQueue.pubsubWrite(df, b.get("project").asText,
        b.get("topic").asText,
        orderingKeyCol = Option(b.get("ordering_key")).map(_.asText))
    },
    entry("nsq") { (df, b, _) =>
      Nsq.write(df, b.get("nsqd_tcp_address").asText, b.get("topic").asText)
    },
    entry("beanstalkd") { (df, b, _) =>
      Beanstalkd.write(df, b.get("address").asText,
        priCol = Option(b.get("priority")).map(_.asText))
    },
    entry("azure_queue_storage") { (df, b, _) =>
      AzureQueue.write(df, b.get("storage_account").asText,
        b.get("queue_name").asText)
    },
    entry("iceberg") { (df, b, _) =>
      // outputs/iceberg.adoc — the REAL v2 table format: append or
      // upsert-by-identifier_fields commits (sinks/Iceberg.scala)
      val loc = b.get("location").asText
      val parts = Option(b.get("partition_by")).map(strings).getOrElse(Nil)
      val keys = Option(b.get("identifier_fields")).map(strings).getOrElse(Nil)
      val rows = unpackForTable(df, b)
      if (keys.isEmpty) graft.sinks.Iceberg.append(rows, loc, parts)
      else b.path("commit_mode").asText("merge_on_read") match {
        // the reference commits keyed batches merge-on-read
        // (committer.go:99); copy_on_write is the opt-in compacting form
        case "merge_on_read" =>
          graft.sinks.Iceberg.upsertMergeOnRead(rows, loc, keys, parts,
            deleteCol = Option(b.get("delete_column")).map(_.asText))
        case "copy_on_write" =>
          graft.sinks.Iceberg.upsert(rows, loc, keys, parts,
            deleteCol = Option(b.get("delete_column")).map(_.asText))
        case other => throw new IllegalArgumentException(
          s"iceberg commit_mode: $other")
      }
    },
    entry("azure_table_storage") { (df, b, _) =>
      graft.sinks.AzureTables.write(df, b.get("endpoint").asText,
        graft.sources.AzureBlob.Account(
          b.get("storage_account").asText,
          b.get("storage_access_key").asText),
        b.get("table_name").asText,
        partitionKeyCol = col("metadata")("partition_key"),
        rowKeyCol = col("metadata")("row_key"),
        insertType = b.path("insert_type").asText("INSERT"))
    },
    entry("azure_data_lake_gen2") { (df, b, _) =>
      graft.sinks.AzureDataLake.write(df, b.get("endpoint").asText,
        graft.sources.AzureBlob.Account(
          b.get("storage_account").asText,
          b.get("storage_access_key").asText),
        b.get("filesystem").asText,
        pathCol = lit(b.path("path").asText("out")))
    },
    entry("snowflake_put") { (df, b, _) =>
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
    },
    entry("aws_kinesis_firehose") { (df, b, _) =>
      graft.sinks.Firehose.write(df, b.get("endpoint").asText,
        awsCreds(b), b.get("stream").asText,
        batchSize = b.at("/batching/count").asInt(500) match {
          case 0 => 500; case n => math.min(n, 500)
        })
    },
    entry("salesforce_sink", "salesforce") { (df, b, _) =>
      SalesforceApi.write(df, b.get("org_url").asText,
        b.path("client_id").asText(""),
        b.path("client_secret").asText(""),
        b.get("object").asText,
        operation = b.path("operation").asText("upsert"),
        externalIdField = b.path("external_id_field").asText("Id"),
        mode = b.path("mode").asText("realtime"),
        allOrNone = b.path("all_or_none").asBoolean(false),
        batchSize = b.path("bulk_batch_size").asInt(200))
    },
    entry("dynamic") { (df, b, env) =>
      // outputs/dynamic.adoc — fan the frame to every ENABLED child
      val prefix = b.path("prefix").asText("")
      val children = Option(b.get("outputs")).map(_.properties().asScala
        .toSeq.map(e => e.getKey -> e.getValue)).getOrElse(Nil)
      require(children.nonEmpty, "dynamic output needs outputs")
      children.foreach { case (label, spec) =>
        if (Pipeline.Dynamic.enabled(prefix, label)) write(df, spec, env)
      }
    },
    entry("noop") { (df, _, _) => df.write.format("noop").mode("overwrite").save() },
    streaming("memory")(
      batch = (df, b, _) => df.createOrReplaceTempView(b.get("name").asText),
      stream = (df, b) => df.writeStream.format("memory")
        .queryName(b.get("name").asText).outputMode("append").start()),
    // ── output combinators (outputs/broker.adoc, switch.adoc,
    // fallback.adoc, reject.adoc, drop.adoc, sync_response.adoc) — the
    // YAML forms over the Sinks combinator functions ──────────────────
    entry("broker") { (df, b, env) =>
      val kids = Option(b.get("outputs")).getOrElse(
        throw new IllegalArgumentException("broker output needs outputs"))
        .elements().asScala.toSeq
      require(kids.nonEmpty, "broker output needs outputs")
      b.path("pattern").asText("fan_out") match {
        case "fan_out" | "fan_out_sequential" | "fan_out_fail_fast" =>
          // sequential vs parallel delivery is a real-broker concern; the
          // batch writers below are each internally parallel, so all
          // three patterns share the persist-once fan
          Sinks.fanOut(df, kids.map(k => (d: DataFrame) => write(d, k, env)))
        case "round_robin" | "greedy" =>
          // rows rotate across children by PARTITION-LOCAL ordinal —
          // monotonically_increasing_id is (pid << 33) + consecutive
          // local ordinal, so its value mod n cycles through every child
          // within each partition: a plain projection, NO exchange and no
          // sort, fair within ±numPartitions rows (a row_number window
          // here would hash-exchange and sort the whole input — r17
          // advice). greedy's work-stealing has no batch analog, so it
          // shares the rotation (documented divergence). persist() pins
          // the nondeterministic ids so every child filter sees the same
          // assignment.
          val n = kids.size
          val cached = df.withColumn("__rr",
            pmod(monotonically_increasing_id(), lit(n))).persist()
          try kids.zipWithIndex.foreach { case (k, i) =>
            write(cached.filter(col("__rr") === i).drop("__rr"), k, env)
          } finally { cached.unpersist(); () }
        case other => throw new IllegalArgumentException(
          s"broker output pattern '$other' not supported")
      }
    },
    entry("switch") { (df, b, env) =>
      // outputs/switch.adoc: first matching case wins unless the match
      // carries `continue: true`, in which case later cases still test
      val cases = Option(b.get("cases")).getOrElse(
        throw new IllegalArgumentException("switch output needs cases"))
        .elements().asScala.toSeq
      val cached = df.persist()
      try {
        // reach(i): rows not yet claimed by an earlier non-continue match
        var reach: Column = lit(true)
        cases.foreach { c =>
          val check = Option(c.get("check")).map(_.asText).filter(_.nonEmpty)
            .map(t => Blobl.predicateJson(cached, t, env,
              metadataCol = metaColOf(df)))
            .getOrElse(lit(true))
          val matched = reach && coalesce(check, lit(false))
          write(cached.filter(matched), Option(c.get("output"))
            .getOrElse(throw new IllegalArgumentException(
              "switch output case needs an output")), env)
          if (!c.path("continue").asBoolean(false))
            reach = reach && !coalesce(check, lit(false))
        }
      } finally { cached.unpersist(); () }
    },
    entry("fallback") { (df, b, env) =>
      // the body is an ARRAY of child outputs, tried in order
      Sinks.fallback(df,
        b.elements().asScala.toSeq.map(k => (d: DataFrame) => write(d, k, env)))
    },
    entry("reject_errored") { (df, b, env) =>
      // healthy rows to the wrapped output; errored rows are REJECTED — in
      // a bounded run a nack has nowhere to requeue, so it fails the run
      // loudly with the first error (the reference nacks upstream)
      val d = Envelope.ensure(df).persist()
      try {
        write(d.filter(col(Envelope.ErrorCol).isNull), b, env)
        val bad = d.filter(col(Envelope.ErrorCol).isNotNull)
          .select(col(Envelope.ErrorCol)).limit(1).collect()
        if (bad.nonEmpty) throw new IllegalStateException(
          s"reject_errored: ${bad.head.getString(0)}")
      } finally { d.unpersist(); () }
    },
    entry("reject") { (df, b, _) =>
      // every row reaching this output is rejected with the interpolated
      // reason (outputs/reject.adoc)
      val tpl = if (b.isTextual) b.asText else b.path("reason").asText("rejected")
      val hit = df.withColumn("__reason", interp(df, tpl))
        .select(col("__reason")).limit(1).collect()
      if (hit.nonEmpty)
        throw new IllegalStateException(hit.head.getString(0))
    },
    entry("drop") { (df, _, _) =>
      // acknowledge-and-discard: the pipeline's processors still run
      // (side effects count), the rows just go nowhere
      df.write.format("noop").mode("overwrite").save()
    },
    entry("drop_on") { (df, b, env) =>
      // outputs/drop_on.adoc: silently drop rows matching the configured
      // conditions, pass the rest to the wrapped output. `error: true`
      // drops errored rows; `error_patterns` drops rows whose error
      // matches any regex. `back_pressure` is a liveness condition with
      // no batch analog (a bounded run has no broker to time out
      // against) — rejected loudly rather than faked.
      require(!b.has("back_pressure"),
        "drop_on.back_pressure has no bounded-batch analog here")
      val child = Option(b.get("output")).getOrElse(
        throw new IllegalArgumentException("drop_on needs an output"))
      val d = Envelope.ensure(df)
      val patterns = Option(b.get("error_patterns")).map(strings).getOrElse(Nil)
      val dropCond: Column =
        if (patterns.nonEmpty)
          patterns.map(p => col(Envelope.ErrorCol).isNotNull &&
            col(Envelope.ErrorCol).rlike(p)).reduce(_ || _)
        else if (b.path("error").asBoolean(false)) col(Envelope.ErrorCol).isNotNull
        else lit(false)
      write(d.filter(!coalesce(dropCond, lit(false))), child, env)
    },
    entry("retry") { (df, b, env) =>
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
        try { write(df, child, env); done = true }
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
    },
    entry("sql_raw") { (df, b, _) =>
      // outputs/sql_raw.adoc — per-message statements (or a `queries`
      // list) against the DSN-selected engine; `batching`/`max_in_flight`
      // are delivery knobs with no bounded-batch effect. A statement
      // failure fails the output (fallback/reject_errored see it).
      SqlRaw.output(df, b)
    },
    entry("sync_response") { (df, _, _) =>
      // store the processed payloads for the request-scoped reader — the
      // http server's synchronous reply and the serverless handler's
      // return value (internal/serverless/handler.go:99-133)
      Pipeline.SyncResponse.store(
        Envelope.ensure(df).select(col(Envelope.ValueCol)).collect()
          .map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq)
    },
    entry("cache") { (df, b, _) =>
      // outputs/cache.adoc: upsert each row into a cache resource under
      // the interpolated key. File caches write one file per key;
      // view-backed caches (memory/lru/...) merge into the temp view.
      val label = b.get("target").asText
      val kv = Envelope.ensure(df).select(
        interp(df, b.path("key").asText("${! uuid_v4() }")).as("key"),
        col(Envelope.ValueCol).as("value"))
      val spark = df.sparkSession
      Caches.cacheLevelsOf(label) match {
        case Some(levels) =>
          // write-through all resolvable levels (multilevel contract);
          // bounded control-state batch (a cursor, a dedupe key…)
          kv.collect().foreach { r =>
            levels.foreach(_.put(r.getString(0), r.getString(1)))
          }
          // keep the relational view in step for store-backed labels —
          // downstream plans read `cache_<label>` as a table
          if (Caches.liveCacheStores.contains(label)) {
            import spark.implicits._
            Caches.liveCacheStores(label).toSeq.toDF("key", "value")
              .createOrReplaceTempView(s"cache_$label")
          }
        case None =>
          val view = s"cache_$label"
          require(spark.catalog.tableExists(view),
            s"cache output: unknown cache resource '$label'")
          // last-write-wins upsert into the view (new keys shadow old)
          spark.table(view).join(kv, Seq("key"), "left_anti")
            .unionByName(kv).localCheckpoint()
            .createOrReplaceTempView(view)
      }
    })
}
