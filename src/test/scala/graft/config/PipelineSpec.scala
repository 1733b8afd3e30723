package graft.config

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The YAML pipeline runner: input → processors → output as one Spark
  * plan, including round-trips through file outputs.
  */
class PipelineSpec extends SparkSpec {

  test("generate → mapping → jq filter → memory output") {
    val config =
      """input:
        |  generate: { count: 50, mapping: 'root.id = this.seq' }
        |pipeline:
        |  processors:
        |    - mapping: |
        |        root.id = this.id
        |        root.double = this.id * 2
        |    - jq: 'select(.double >= 80)'
        |output:
        |  memory: { name: pipe_out }
        |""".stripMargin
    Pipeline.run(spark, config)
    val rows = spark.sql("SELECT value FROM pipe_out").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(rows.size == 10, s"ids 40..49 survive, got ${rows.size}")
    assert(rows.forall(_.contains("\"double\":")))
  }

  test("file lines → bounds_check → bloblang → parquet round-trip") {
    val in = java.nio.file.Files.createTempDirectory("graft_in")
    java.nio.file.Files.write(in.resolve("data.txt"),
      "short\nthis line is long enough\nno\nanother acceptable line here"
        .getBytes("UTF-8"))
    val out = java.nio.file.Files.createTempDirectory("graft_out").toString + "/result"
    val config =
      s"""input:
         |  file: { path: "$in/*.txt", format: lines }
         |pipeline:
         |  processors:
         |    - bounds_check: { min: 10, max: 1000 }
         |    - mapping: 'root.n_words = content().split(" ").length()'
         |output:
         |  parquet: { path: "$out" }
         |""".stripMargin
    Pipeline.run(spark, config)
    val back = spark.read.parquet(out)
      .select(get_json_object(col("value"), "$.n_words").cast("int"))
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(back == Seq(4, 5), s"two surviving lines with 5 and 4 words: $back")
  }

  test("env vars flow into mappings like the reference's environment") {
    val config =
      """input:
        |  generate: { count: 3, mapping: 'root.id = this.seq' }
        |pipeline:
        |  processors:
        |    - mapping: 'root.stage = env("STAGE")'
        |""".stripMargin
    val df = Pipeline.run(spark, config, env = Map("STAGE" -> "prod"))
    assert(df.select("value").collect()
      .forall(_.getString(0).contains(""""stage":"prod"""")))
  }

  test("cache_resources: memory init + file backend resolve gets") {
    // file backend: one file per key, filename = key, contents = value
    // (caches/file.adoc)
    val dir = java.nio.file.Files.createTempDirectory("graft_cache").toFile
    java.nio.file.Files.write(new java.io.File(dir, "0").toPath,
      "zero".getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(dir, "1").toPath,
      "one".getBytes("UTF-8"))
    val config =
      s"""input:
         |  generate: { count: 3, mapping: 'root.id = this.seq' }
         |pipeline:
         |  processors:
         |    - cache:
         |        resource: fcache
         |        operator: get
         |        key: '$${! this.id }'
         |cache_resources:
         |  - label: fcache
         |    file: { directory: ${dir.getPath} }
         |""".stripMargin
    val out = Pipeline.build(spark, config)
      .select(org.apache.spark.sql.functions.col("value"),
        org.apache.spark.sql.functions.col("error"))
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(out.count(_._2 == null) == 2, s"expected 2 hits: ${out.toSeq}")
    assert(out.exists(_._1 == "zero") && out.exists(_._1 == "one"))
    assert(out.count(_._2 == "cache miss") == 1, "id 2 must miss")

    val memConfig =
      """input:
        |  generate: { count: 2, mapping: 'root.id = this.seq' }
        |pipeline:
        |  processors:
        |    - cache:
        |        resource: mcache
        |        operator: get
        |        key: '${! this.id }'
        |cache_resources:
        |  - label: mcache
        |    memory:
        |      init: { "0": "seeded" }
        |""".stripMargin
    val mem = Pipeline.build(spark, memConfig)
      .select(org.apache.spark.sql.functions.col("value")).collect()
      .map(_.getString(0)).sorted
    assert(mem.contains("seeded"), s"memory init entry not served: ${mem.toSeq}")
  }

  test("cache_resources: multilevel first-hit-wins + aws_s3 + ristretto") {
    // aws_s3 cache backend (caches/aws_s3.adoc): one object per key,
    // hydrated through the SigV4-verified loopback
    val creds = graft.sources.S3.Credentials("AKC", "SKC")
    val name = "s3c_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val srv = graft.sources.S3.register(name, creds)
    srv.buckets.getOrElseUpdate("cachebkt",
      scala.collection.mutable.TreeMap.empty) ++= Seq(
      "1" -> "from-s3-1".getBytes("UTF-8"),
      "2" -> "from-s3-2".getBytes("UTF-8"))
    // multilevel (caches/multilevel.adoc): local ristretto level first,
    // the s3 level behind it — key "1" must come from the LOCAL level
    val config =
      s"""input:
         |  generate: { count: 3, mapping: 'root.id = this.seq' }
         |pipeline:
         |  processors:
         |    - cache:
         |        resource: ml
         |        operator: get
         |        key: '$${! this.id }'
         |cache_resources:
         |  - label: local
         |    ristretto:
         |      init: { "1": "from-local-1" }
         |  - label: remote
         |    aws_s3:
         |      endpoint: mem://$name
         |      bucket: cachebkt
         |      region: us-east-1
         |      credentials: { id: AKC, secret: SKC }
         |  - label: ml
         |    multilevel: [ local, remote ]
         |""".stripMargin
    val out = Pipeline.build(spark, config)
      .select(org.apache.spark.sql.functions.col("value"),
        org.apache.spark.sql.functions.col("error"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.exists(_._1 == "from-local-1"),
      s"level 0 must shadow the s3 value for key 1: ${out.toSeq}")
    assert(out.exists(_._1 == "from-s3-2"), "key 2 falls through to s3")
    assert(out.count(_._2 == "cache miss") == 1, "key 0 misses every level")
    graft.sources.S3.drop(name)
  }

  test("streaming pipeline: rate source → mapping → memory sink") {
    val config =
      """input:
        |  generate: { rate: 100, mapping: 'root.id = this.seq' }
        |pipeline:
        |  processors:
        |    - mapping: 'root.tagged = this.id.string() + "!"'
        |output:
        |  memory: { name: stream_out }
        |""".stripMargin
    val q = Pipeline.runStream(spark, config)
    try {
      // wait for at least one non-empty micro-batch
      val deadline = System.currentTimeMillis + 30000
      var n = 0L
      while (n == 0 && System.currentTimeMillis < deadline) {
        q.processAllAvailable()
        n = spark.sql("SELECT COUNT(*) FROM stream_out").head().getLong(0)
        if (n == 0) Thread.sleep(200)
      }
      assert(n > 0, "no rows arrived from the rate source")
      val sample = spark.sql("SELECT value FROM stream_out LIMIT 1")
        .head().getString(0)
      assert(sample.contains(""""tagged":"""), s"mapping did not run: $sample")
    } finally q.stop()
  }
  test("labeled metric readings reach the prometheus exposition per label set") {
    val f = java.nio.file.Files.createTempFile("prom", ".txt")
    Pipeline.run(spark,
      s"""input:
         |  generate:
         |    count: 6
         |    mapping: 'root.lang = if this.seq % 2 == 0 { "en" } else { "fr" }'
         |pipeline:
         |  processors:
         |    - metric:
         |        type: counter
         |        name: docs_seen
         |        labels:
         |          lang: $${! json("lang") }
         |output:
         |  drop: {}
         |metrics:
         |  mapping: 'root = if this != "docs_seen" { deleted() }'
         |  prometheus:
         |    file: $f
         |""".stripMargin)
    val text = java.nio.file.Files.readString(f)
    assert(text.contains("""docs_seen{lang="en"} 3"""), text)
    assert(text.contains("""docs_seen{lang="fr"} 3"""), text)
    // the metrics mapping dropped the internal counters
    assert(!text.contains("input_received"), text)
  }

  /** A fresh in-process broker with one two-partition topic holding
    * `{"id": i}` for every id.
    */
  private def memTopic(topic: String, ids: Range): String = {
    import graft.sources.Broker
    val broker = "pipe_" + java.util.UUID.randomUUID.toString.replace("-", "")
    Broker.InMemory.named(broker).createTopic(topic, 2)
    val transport = Broker.transportFor(s"mem://$broker")
    ids.foreach { i =>
      transport.append(topic, i % 2,
        Seq(Broker.Record(s"k$i".getBytes, s"""{"id":$i}""".getBytes)))
    }
    s"mem://$broker"
  }

  private def streamIds(config: String, table: String,
                        env: Map[String, String] = Map.empty): Seq[Long] = {
    val q = Pipeline.runStream(spark, config, env)
    try q.processAllAvailable() finally q.stop()
    spark.table(table).select(get_json_object(col("value"), "$.id").cast("long"))
      .collect().map(_.getLong(0)).toSeq.sorted
  }

  test("a stream config's ${VAR} substitutes as a batch config's does") {
    val addr = memTopic("orders", 0 until 6)
    val table = "stream_env_" + java.util.UUID.randomUUID.toString.take(8)
    val config =
      s"""input:
         |  kafka:
         |    addresses: [ "$addr" ]
         |    topics: [ $${TOPIC} ]
         |pipeline:
         |  processors:
         |    - mapping: 'root.id = this.id + $${STEP:100}'
         |output:
         |  memory: { name: $table }
         |""".stripMargin
    assert(streamIds(config, table, Map("TOPIC" -> "orders")) == (100L until 106L))
  }

  test("a stream input's own processors run on every batch it reads") {
    val addr = memTopic("t", 0 until 5)
    val table = "stream_inproc_" + java.util.UUID.randomUUID.toString.take(8)
    val config =
      s"""input:
         |  kafka:
         |    addresses: [ "$addr" ]
         |    topics: [ t ]
         |  processors:
         |    - mapping: 'root.id = this.id * 10'
         |pipeline:
         |  processors:
         |    - mapping: 'root.id = this.id + 1'
         |output:
         |  memory: { name: $table }
         |""".stripMargin
    assert(streamIds(config, table) == Seq(1L, 11L, 21L, 31L, 41L))
  }

  test("run substitutes ${VAR} once, as build does") {
    // an env value that itself reads like a reference stays literal
    val config =
      """input:
        |  generate: { count: 1, mapping: 'root.v = "${A}"' }
        |""".stripMargin
    val env = Map("A" -> "${B}", "B" -> "twice")
    def v(df: org.apache.spark.sql.DataFrame): String =
      df.select(get_json_object(col("value"), "$.v")).head().getString(0)
    assert(v(Pipeline.build(spark, config, env)) == "${B}")
    assert(v(Pipeline.run(spark, config, env)) == "${B}")
  }

  test("an output's own processors read the run's env, as the pipeline's do") {
    val table = "out_env_" + java.util.UUID.randomUUID.toString.take(8)
    Pipeline.run(spark,
      s"""input:
         |  generate: { count: 2, mapping: 'root.id = this.seq' }
         |pipeline:
         |  processors:
         |    - mapping: 'root.pipeline = env("STAGE")'
         |output:
         |  memory: { name: $table }
         |  processors:
         |    - mutation: 'root.output = env("STAGE")'
         |""".stripMargin, Map("STAGE" -> "blue"))
    val stages = spark.table(table).select(
        get_json_object(col("value"), "$.pipeline"),
        get_json_object(col("value"), "$.output"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(stages == Set(("blue", "blue")))
  }

  test("a stream output's own processors run on every batch it writes") {
    val addr = memTopic("o", 0 until 3)
    val table = "stream_outproc_" + java.util.UUID.randomUUID.toString.take(8)
    val config =
      s"""input:
         |  kafka:
         |    addresses: [ "$addr" ]
         |    topics: [ o ]
         |output:
         |  memory: { name: $table }
         |  processors:
         |    - mapping: 'root.id = this.id + 100'
         |""".stripMargin
    assert(streamIds(config, table) == Seq(100L, 101L, 102L))
  }
}
