package graft.sources

import graft.SparkSpec
import graft.sinks.Sinks
import org.apache.spark.sql.functions._

/** Broker (kafka-shaped) transport contract: the semantics of
  * inputs/kafka.adoc + outputs/kafka.adoc that matter to the engine —
  * per-partition offset ordering (franz_reader_ordered.go), key
  * partitioning (output_sarama_kafka.go fnv1a default), metadata
  * columns, tombstones, headers — all through the injectable
  * [[Broker.Transport]] seam with the in-memory fake.
  */
class KafkaSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(parts: Int, topic: String = "t"): String = {
    val name = "spec_" + java.util.UUID.randomUUID.toString.replace("-", "")
    Broker.InMemory.named(name).createTopic(topic, parts)
    s"mem://$name"
  }

  test("fnv1a matches the public FNV-1a 32-bit test vectors") {
    assert(Broker.fnv1a(Array.empty[Byte]) == 0x811c9dc5)
    assert(Broker.fnv1a("a".getBytes("UTF-8")) == 0xe40c292c)
    assert(Broker.fnv1a("foobar".getBytes("UTF-8")) == 0xbf9cf968)
  }

  test("partitioners are deterministic, in-range, and spread keys") {
    for (p <- Seq("fnv1a_hash", "murmur2_hash")) {
      val parts = (0 until 1000).map(i =>
        Broker.partitionFor(p, s"key_$i".getBytes, 8))
      assert(parts.forall(x => x >= 0 && x < 8), s"$p out of range")
      assert(parts.distinct.size == 8, s"$p failed to use all partitions")
      assert(parts == (0 until 1000).map(i =>
        Broker.partitionFor(p, s"key_$i".getBytes, 8)), s"$p nondeterministic")
    }
  }

  test("concurrent appends keep offsets contiguous and per-chunk ordered") {
    val t = Broker.InMemory.named("conc_" + java.util.UUID.randomUUID)
    t.createTopic("t", 1)
    val threads = (0 until 8).map { tid =>
      new Thread(() => {
        (0 until 50).foreach { i =>
          t.append("t", 0, Seq(
            Broker.Record(null, s"$tid:$i:a".getBytes),
            Broker.Record(null, s"$tid:$i:b".getBytes)))
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val recs = t.fetch("t", 0, 0, t.endOffset("t", 0)).toVector
    assert(recs.size == 800)
    assert(recs.map(_.offset) == (0L until 800L).toVector,
      "offsets must be gapless and monotonic")
    // each append call is atomic: its records are adjacent and in order
    val byPair = recs.map(r => new String(r.value)).grouped(2).toVector
    assert(byPair.forall(p => p(0).dropRight(1) == p(1).dropRight(1) &&
      p(0).endsWith("a") && p(1).endsWith("b")),
      "append batches must not interleave")
  }

  test("brokerWrite + brokerRead round-trip: partitioning, ordering, metadata") {
    val addr = fresh(4)
    val df = (0 until 200).map(i => (i.toLong, s"v_$i")).toDF("id", "v")
    // manual partitioning: id % 4, ordered by id
    Sinks.brokerWrite(df, addr, "t", col("id"), col("v"), col("id"),
      partitionCol = Some(col("id") % 4), timestampMsCol = Some(col("id") * 1000))
    val back = Sources.brokerRead(spark, addr, "t")
    val rows = back.select(
        col("metadata")("kafka_key").cast("long").as("id"),
        col("metadata")("kafka_partition").cast("int").as("part"),
        col("metadata")("kafka_offset").cast("long").as("off"),
        col("metadata")("kafka_lag").cast("long").as("lag"),
        col("metadata")("kafka_timestamp_ms").cast("long").as("ts"),
        col("metadata")("kafka_topic").as("topic"),
        col("value"))
      .collect()
    assert(rows.length == 200)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == (id % 4).toInt, "manual partition must be honored")
      // ordering: within partition p the ids are p, p+4, p+8, … so the
      // offset of id is its rank = id / 4
      assert(r.getLong(2) == id / 4, s"offset order broken for id $id")
      assert(r.getLong(3) == 50 - id / 4, "lag = hwm - offset")
      assert(r.getLong(4) == id * 1000, "timestamp must round-trip")
      assert(r.getString(5) == "t")
      assert(r.getString(6) == s"v_$id")
    }
    // one Spark partition per broker partition on the read side
    assert(back.rdd.getNumPartitions == 4)
  }

  test("default fnv1a partitioning groups identical keys; order kept per key") {
    val addr = fresh(3)
    val df = (0 until 90).map(i => (s"k${i % 9}", i.toLong)).toDF("k", "i")
    Sinks.brokerWrite(df, addr, "t", col("k"),
      concat(col("k"), lit(":"), col("i")), col("i"))
    val back = Sources.brokerRead(spark, addr, "t")
      .select(col("metadata")("kafka_key").as("k"),
        col("metadata")("kafka_partition").cast("int").as("part"),
        col("metadata")("kafka_offset").cast("long").as("off"),
        col("value"))
      .collect()
    assert(back.length == 90)
    // every record of a key sits in that key's fnv1a partition
    back.foreach { r =>
      assert(r.getInt(1) ==
        Broker.partitionFor("fnv1a_hash", r.getString(0).getBytes, 3))
    }
    // per-key ordering: offsets within a key increase with i
    back.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byOff = rs.sortBy(_.getLong(2))
        .map(_.getString(3).split(":")(1).toLong).toSeq
      assert(byOff == byOff.sorted, "same-key records must keep order")
    }
  }

  test("tombstones and headers surface as metadata") {
    val addr = fresh(1)
    val t = Broker.transportFor(addr)
    t.append("t", 0, Seq(
      Broker.Record("k1".getBytes, "alive".getBytes,
        headers = Map("h1" -> "v1", "h2" -> "v2"), timestampMs = 5000),
      Broker.Record("k2".getBytes, null)))
    val rows = Sources.brokerRead(spark, addr, "t")
      .orderBy(col("__seq"))
      .select(col("value"), col("metadata"))
      .collect()
    assert(rows(0).getString(0) == "alive")
    val m0 = rows(0).getMap[String, String](1)
    assert(m0("h1") == "v1" && m0("h2") == "v2")
    assert(m0("kafka_tombstone_message") == "false")
    assert(m0("kafka_timestamp_unix") == "5")
    assert(rows(1).getString(0) == null, "tombstone value must be null")
    assert(rows(1).getMap[String, String](1)("kafka_tombstone_message") == "true")
  }

  test("null keys spread across partitions; empty keys stay empty-not-null") {
    val addr = fresh(4)
    val df = (0 until 40).map(i =>
        (if (i < 20) null else "", i.toLong)).toDF("k", "i")
    Sinks.brokerWrite(df, addr, "t", col("k"), col("i").cast("string"),
      col("i"))
    val back = Sources.brokerRead(spark, addr, "t")
      .select(col("metadata")("kafka_key").as("k"),
        col("metadata")("kafka_partition").cast("int").as("part"),
        col("value").cast("long").as("i"))
      .collect()
    val nullKeyed = back.filter(_.getLong(2) < 20)
    assert(nullKeyed.forall(_.getString(0) == null),
      "null keys must stay null on the wire")
    assert(nullKeyed.map(_.getInt(1)).distinct.length == 4,
      "null-key records must spread over all partitions, not pile on one")
    val emptyKeyed = back.filter(_.getLong(2) >= 20)
    assert(emptyKeyed.forall(_.getString(0) == ""),
      "empty-string keys must survive as empty, not become null")
    val fnvEmpty = Broker.partitionFor("fnv1a_hash", Array.empty[Byte], 4)
    assert(emptyKeyed.forall(_.getInt(1) == fnvEmpty),
      "empty keys hash like any byte string")
  }

  test("manual partitioner rejects a null partition with a clear error") {
    val addr = fresh(2)
    val df = Seq(("a", 0), ("b", 1)).toDF("v", "i")
    val e = intercept[org.apache.spark.SparkException] {
      Sinks.brokerWrite(df, addr, "t", lit(null).cast("string"), col("v"),
        col("i"), partitioner = "manual",
        partitionCol = Some(lit(null).cast("int")))
    }
    assert(e.getMessage.contains("partitioner: manual") ||
      Option(e.getCause).exists(_.getMessage.contains("partitioner: manual")),
      s"error must name the manual-partitioner contract: ${e.getMessage}")
  }

  test("mixed address lists resolve the mem:// entry wherever it sits") {
    val addr = fresh(1, "src")
    val t = Broker.transportFor(addr)
    t.append("src", 0, Seq(Broker.Record(null, """{"n":1}""".getBytes)))
    val cfg =
      s"""input:
         |  kafka:
         |    seed_brokers: [broker-a:9092, $addr]
         |    topics: [src]
         |""".stripMargin
    import spark.implicits._
    val got = graft.config.Pipeline.build(spark, cfg)
      .select($"value").as[String].collect().toSeq
    assert(got == Seq("""{"n":1}"""))
  }

  test("mixed address lists: the stream form reads the mem:// entry too") {
    val addr = fresh(1, "src")
    Broker.transportFor(addr)
      .append("src", 0, Seq(Broker.Record(null, """{"n":2}""".getBytes)))
    val q = graft.config.Pipeline.runStream(spark,
      s"""input:
         |  kafka:
         |    seed_brokers: [broker-a:9092, $addr]
         |    topics: [src]
         |output:
         |  memory: { name: mixed_addr_stream }
         |""".stripMargin)
    try {
      q.processAllAvailable()
      val got = spark.table("mixed_addr_stream").select($"value").as[String]
        .collect().toSeq
      assert(got == Seq("""{"n":2}"""))
    } finally q.stop()
  }

  test("mixed address lists: the output writes to the mem:// entry") {
    val src = fresh(1, "src")
    val dst = fresh(1, "dst")
    Broker.transportFor(src)
      .append("src", 0, Seq(Broker.Record(null, """{"n":3}""".getBytes)))
    graft.config.Pipeline.run(spark,
      s"""input:
         |  kafka:
         |    seed_brokers: [$src]
         |    topics: [src]
         |output:
         |  kafka:
         |    seed_brokers: [broker-a:9092, $dst]
         |    topic: dst
         |""".stripMargin)
    val got = Sources.brokerRead(spark, dst, "dst").select($"value").as[String]
      .collect().toSeq
    assert(got == Seq("""{"n":3}"""))
  }

  test("config runner: kafka input → processors → kafka output round-trip") {
    val in = fresh(2, "src")
    val out = fresh(2, "dst")
    // seed the source topic: key i%2 manual partitions, ordered payloads
    Sinks.brokerWrite((0 until 20).map(i => (i.toLong, s"""{"n":$i}"""))
        .toDF("id", "v"),
      in, "src", col("id"), col("v"), col("id"),
      partitionCol = Some(col("id") % 2))
    val cfg =
      s"""input:
         |  kafka:
         |    seed_brokers: [$in]
         |    topics: [src]
         |pipeline:
         |  processors:
         |    - mapping: 'root.n = this.n * 10'
         |output:
         |  kafka:
         |    seed_brokers: [$out]
         |    topic: dst
         |    partitioner: manual
         |    partition: '$${! meta("kafka_partition") }'
         |    key: '$${! meta("kafka_key") }'
         |""".stripMargin
    graft.config.Pipeline.run(spark, cfg)
    val got = Sources.brokerRead(spark, out, "dst")
      .select(col("metadata")("kafka_key").cast("long").as("id"),
        col("metadata")("kafka_partition").cast("int").as("part"),
        col("metadata")("kafka_offset").cast("long").as("off"),
        col("value")).collect()
    assert(got.length == 20)
    got.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(3) == s"""{"n":${id * 10}}""")
      assert(r.getInt(1) == (id % 2).toInt,
        "partition metadata must carry through the pipeline")
      assert(r.getLong(2) == id / 2, "per-partition order must survive")
    }
  }

  private def appendKeyed(addr: String, topic: String, ids: Range): Unit = {
    val t = Broker.transportFor(addr)
    ids.foreach { i =>
      t.append(topic, i % t.partitionCount(topic),
        Seq(Broker.Record(s"k$i".getBytes, s"""{"id":$i}""".getBytes)))
    }
  }

  test("streaming broker source: append-while-running, no loss or duplication") {
    val addr = fresh(3)
    appendKeyed(addr, "t", 0 until 30)
    val df = spark.readStream.format("graft.sources.BrokerSourceProvider")
      .option("address", addr).option("topic", "t").load()
    val q = df.select(get_json_object($"value", "$.id").cast("long").as("id"),
        $"metadata"("kafka_partition").cast("int").as("part"),
        $"metadata"("kafka_offset").cast("long").as("off"))
      .writeStream.format("memory").queryName("bs_run")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      appendKeyed(addr, "t", 30 until 75) // append WHILE the query runs
      q.processAllAvailable()
      val rows = spark.table("bs_run")
        .select($"id", $"part", $"off").as[(Long, Int, Long)].collect().toSeq
      assert(rows.map(_._1).sorted == (0L until 75L),
        s"expected exactly ids 0..74 once each, got ${rows.size} rows")
      // per-partition offset order must match append order (id order)
      rows.groupBy(_._2).foreach { case (_, prows) =>
        val byOffset = prows.sortBy(_._3).map(_._1)
        assert(byOffset == byOffset.sorted, "offset order == append order")
      }
    } finally q.stop()
  }

  test("streaming broker source resumes from the committed checkpoint") {
    val addr = fresh(2)
    val ck = java.nio.file.Files.createTempDirectory("bs_ck").toString
    val out = java.nio.file.Files.createTempDirectory("bs_out").toString
    def start() =
      spark.readStream.format("graft.sources.BrokerSourceProvider")
        .option("address", addr).option("topic", "t").load()
        .select(get_json_object($"value", "$.id").cast("long").as("id"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).outputMode("append").start()
    appendKeyed(addr, "t", 0 until 10)
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() == 10)
    // records arriving while no query runs must be picked up on resume,
    // and nothing before the committed offset may be re-read
    appendKeyed(addr, "t", 10 until 25)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val all = spark.read.parquet(out).select($"id")
        .as[Long].collect().toSeq.sorted
      assert(all == (0L until 25L),
        s"resume must read exactly the uncommitted tail once, got $all")
    } finally q2.stop()
  }

  test("streaming broker source stays empty for a not-yet-created topic") {
    // a consumer may start before any producer creates the topic: both
    // initialOffset AND latestOffset must survive the unknown topic
    val name = "spec_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val addr = s"mem://$name"
    Broker.InMemory.named(name) // broker exists, topic does not
    val q = spark.readStream.format("graft.sources.BrokerSourceProvider")
      .option("address", addr).option("topic", "late").load()
      .writeStream.format("memory").queryName("bs_late")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // must not terminate the query
      assert(spark.table("bs_late").count() == 0)
      Broker.InMemory.named(name).createTopic("late", 2)
      appendKeyed(addr, "late", 0 until 6)
      q.processAllAvailable()
      assert(spark.table("bs_late").count() == 6,
        "records appear once the topic exists")
    } finally q.stop()
  }

  test("headline path: streaming kafka CDC → processors → pruned lakehouse MERGE") {
    // the reference's flagship pipeline shape (kafka in, iceberg out):
    // resumable broker source → mapping → per-micro-batch partition-
    // pruned upsert, exactly-once end to end
    val addr = fresh(2, topic = "cdc")
    val t = Broker.transportFor(addr)
    def send(id: Long, region: String, v: Double, del: Boolean = false): Unit =
      t.append("cdc", (id % 2).toInt, Seq(Broker.Record(s"k$id".getBytes,
        s"""{"id":$id,"region":"$region","v":$v,"del":$del}""".getBytes)))
    graft.sinks.Lakehouse.dropTable(spark, "lh_kafka")
    val ck = java.nio.file.Files.createTempDirectory("lh_kafka_ck").toString
    val config =
      s"""input:
         |  kafka:
         |    seed_brokers: [ "$addr" ]
         |    topics: [ cdc ]
         |pipeline:
         |  processors:
         |    - mapping: 'root = this\nroot.v2 = this.v * 2'
         |output:
         |  lakehouse:
         |    table: lh_kafka
         |    schema: 'id BIGINT, region STRING, v DOUBLE, v2 DOUBLE, del BOOLEAN'
         |    keys: [ id ]
         |    partition_by: [ region ]
         |    delete_column: del
         |    checkpoint: "$ck"
         |""".stripMargin
    send(1, "eu", 1.0); send(2, "us", 2.0)
    val q = graft.config.Pipeline.runStream(spark, config)
    try {
      q.processAllAvailable()
      // second micro-batch: update key 1, delete key 2, insert key 3
      send(1, "eu", 10.0); send(2, "us", 0.0, del = true); send(3, "ap", 3.0)
      q.processAllAvailable()
      val out = spark.table("lh_kafka").select($"id", $"region", $"v2")
        .as[(Long, String, Double)].collect().toSeq.sortBy(_._1)
      assert(out == Seq((1L, "eu", 20.0), (3L, "ap", 6.0)),
        s"upsert + delete must apply exactly once per micro-batch: $out")
    } finally q.stop()
  }

  test("config runner streams a kafka input through processors to a memory sink") {
    val addr = fresh(2, topic = "cfg")
    appendKeyed(addr, "cfg", 0 until 12)
    val config =
      s"""input:
         |  kafka:
         |    seed_brokers: [ "$addr" ]
         |    topics: [ cfg ]
         |pipeline:
         |  processors:
         |    - mapping: 'root.id2 = this.id * 2'
         |output:
         |  memory: { name: bs_cfg }
         |""".stripMargin
    val q = graft.config.Pipeline.runStream(spark, config)
    try {
      q.processAllAvailable()
      val out = spark.table("bs_cfg")
        .select(get_json_object($"value", "$.id2").cast("long"))
        .as[Long].collect().toSeq.sorted
      assert(out == (0L until 24L by 2L).toSeq)
    } finally q.stop()
  }

  test("kafka yaml transaction_isolation_level: read_committed hides aborted data") {
    val srv = new KafkaWire.Server()
    try {
      val c = new KafkaWire.Client("127.0.0.1", srv.port)
      c.createTopic("iso-t", 1)
      c.append("iso-t", 0, Seq(Broker.Record(null, """{"k":"keep"}""".getBytes)))
      val (pid, ep) = c.initProducerId("iso-tx")
      c.addPartitionsToTxn("iso-tx", pid, ep, Seq(("iso-t", 0)))
      c.appendRawBatches("iso-t", 0, KafkaWire.encodeBatch(
        Seq(Broker.Stored(0, 0L, null, """{"k":"dropped"}""".getBytes,
          Map.empty, 1L)),
        producerId = pid, producerEpoch = ep, baseSequence = 0,
        attrsExtra = 0x10))
      c.endTxn("iso-tx", pid, ep, commit = false)
      c.close()
      def readWith(level: String, out: String): Unit =
        graft.config.Pipeline.run(spark,
          s"""input:
             |  kafka:
             |    seed_brokers: ["kafka://127.0.0.1:${srv.port}"]
             |    topics: [iso-t]
             |    transaction_isolation_level: $level
             |output:
             |  parquet:
             |    path: $out
             |""".stripMargin)
      readWith("read_committed", "/tmp/kafka_iso_committed")
      readWith("read_uncommitted", "/tmp/kafka_iso_uncommitted")
      val committed = spark.read.parquet("/tmp/kafka_iso_committed")
        .select(col("value")).as[String].collect().toSet
      val uncommitted = spark.read.parquet("/tmp/kafka_iso_uncommitted")
        .select(col("value")).as[String].collect().toSet
      assert(committed == Set("""{"k":"keep"}"""))
      assert(uncommitted ==
        Set("""{"k":"keep"}""", """{"k":"dropped"}"""))
    } finally srv.stop()
  }

  test("kafka yaml sasl block: PLAIN credentials flow to the wire client") {
    // a SASL-gated broker (inputs/kafka.adoc `sasl` block): the yaml
    // credentials must reach every connection the transport opens —
    // produce via the output, then read back via the batch input
    val srv = new KafkaWire.Server(saslUsers = Map("svc" -> "pw"))
    try {
      val admin = new KafkaWire.Client("127.0.0.1", srv.port,
        saslPlain = Some(("svc", "pw")))
      admin.createTopic("sasl-t", 1)
      admin.close()
      val addr = s"kafka://127.0.0.1:${srv.port}"
      val writeCfg =
        s"""input:
           |  generate:
           |    count: 3
           |    mapping: 'root.n = this.seq'
           |output:
           |  kafka:
           |    seed_brokers: [$addr]
           |    topic: sasl-t
           |    sasl:
           |      - mechanism: PLAIN
           |        username: svc
           |        password: pw
           |""".stripMargin
      graft.config.Pipeline.run(spark, writeCfg)
      val readCfg =
        s"""input:
           |  kafka:
           |    seed_brokers: [$addr]
           |    topics: [sasl-t]
           |    sasl:
           |      - mechanism: PLAIN
           |        username: svc
           |        password: pw
           |output:
           |  parquet:
           |    path: /tmp/kafka_sasl_spec_out
           |""".stripMargin
      graft.config.Pipeline.run(spark, readCfg)
      val got = spark.read.parquet("/tmp/kafka_sasl_spec_out")
        .select(col("value")).as[String].collect().sorted
      assert(got.length == 3 && got.forall(_.contains("\"n\":")))
      // wrong credentials: the gated broker kills the unauthenticated
      // produce — the pipeline must fail loudly, not write nothing
      val badCfg = writeCfg.replace("password: pw", "password: nope")
      intercept[Exception] { graft.config.Pipeline.run(spark, badCfg) }
      // SCRAM-SHA-256 from the yaml block works end-to-end too
      val scramCfg = writeCfg
        .replace("mechanism: PLAIN", "mechanism: SCRAM-SHA-256")
        .replace("count: 3", "count: 2")
      graft.config.Pipeline.run(spark, scramCfg)
      // an unimplemented mechanism is rejected at config time
      val oauthCfg = writeCfg.replace("mechanism: PLAIN", "mechanism: OAUTHBEARER")
      val e = intercept[Exception] { graft.config.Pipeline.run(spark, oauthCfg) }
      assert(e.getMessage != null && e.getMessage.contains("PLAIN"))
    } finally srv.stop()
  }

  test("kafka yaml transactional_id: config-driven produce is a real transaction") {
    // outputs/kafka `transactional_id` end to end through the YAML
    // path: each partition task's produce runs as InitProducerId →
    // AddPartitionsToTxn → transactional batches → EndTxn(commit);
    // a planted failed attempt's rows abort and never reach a
    // read_committed consumer, while read_uncommitted still sees them
    val srv = new KafkaWire.Server()
    try {
      val admin = new KafkaWire.Client("127.0.0.1", srv.port)
      admin.createTopic("txn-t", 2)
      admin.close()
      val addr = s"kafka://127.0.0.1:${srv.port}"
      // a failed first attempt: same per-task tid scheme the config
      // path uses ("session-<partition>"), dies before EndTxn
      val attempt = KafkaWire.clientFor(
        s"127.0.0.1:${srv.port}?transactional_id=session")
      intercept[RuntimeException] {
        attempt.transactional("txn-t", 0) {
          attempt.append("txn-t", 0,
            Seq(Broker.Record(null, "{\"n\":999}".getBytes)))
          throw new RuntimeException("attempt died")
        }
      }
      graft.config.Pipeline.run(spark,
        s"""input:
           |  generate:
           |    count: 6
           |    mapping: 'root.n = this.seq'
           |output:
           |  kafka:
           |    seed_brokers: [$addr]
           |    topic: txn-t
           |    transactional_id: session
           |""".stripMargin)
      def readBack(level: String, out: String): Seq[String] = {
        graft.config.Pipeline.run(spark,
          s"""input:
             |  kafka:
             |    seed_brokers: [$addr]
             |    topics: [txn-t]
             |    transaction_isolation_level: $level
             |output:
             |  parquet:
             |    path: $out
             |""".stripMargin)
        spark.read.parquet(out).select(col("value")).as[String]
          .collect().toSeq.sorted
      }
      val committed = readBack("read_committed", "/tmp/kafka_txn_committed")
      val all = readBack("read_uncommitted", "/tmp/kafka_txn_uncommitted")
      assert(committed.length == 6 && !committed.exists(_.contains("999")),
        s"read_committed = exactly the committed produce, got $committed")
      assert(all.length == 7 && all.exists(_.contains("999")),
        "read_uncommitted sees the aborted attempt's row")
    } finally {
      KafkaWire.dropClient(s"127.0.0.1:${srv.port}?transactional_id=session")
      srv.stop()
    }
  }
}
