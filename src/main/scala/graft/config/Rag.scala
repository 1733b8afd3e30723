package graft.config

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's flagship RAG pipeline trio, run end-to-end through
  * the YAML runner with its OWN config files (ported verbatim under
  * resources/rag/ from config/rag/ — indexing/openai_pgvector.yaml,
  * retrieval/openai_pgvector.yaml, and the templates they expand:
  * rag_topics → kafka consume, oai_embed → openai_embeddings,
  * pgvector → sql_raw against the pgvector engine).
  *
  * Gate design (p_rag_e2e): seed documents into a kafka topic, run the
  * indexing config (chunk → group per key → embed via branch → archive
  * → DELETE+INSERT into pgvector through fallback/reject_errored), then
  * serve the retrieval config over a real HTTP socket and query it.
  *
  * The RETURNED rows are the pgvector store's content for the
  * single-chunk documents — (topic, key, chunk_id, document) — which
  * the DuckDB oracle states directly from the parquet table (a doc
  * under the 512-char chunk size stores as exactly one chunk of its
  * own text). Multi-chunk documents and the retrieval loop are
  * hard-asserted inside the gate instead (chunk boundaries and hash
  * embeddings aren't SQL-expressible):
  *  - every >512-char doc stores ≥2 chunks, each a substring of the
  *    original, covering ≥90% of its length in order;
  *  - each HTTP query returns exactly `limit` hits whose keys/topics
  *    exist in the store, whose reassembled `document` equals the
  *    ordered concat of that key's stored chunks, and whose ranking
  *    equals a gate-side brute-force top-k over the dumped vectors
  *    using the embedding of the exact posted body — verifying the
  *    text that reached the embedder, the vector's JSON→pgvector
  *    round-trip, and the distance ordering end to end.
  */
object Rag {

  private val mapper = new ObjectMapper()

  def resource(name: String): String = {
    val in = getClass.getResourceAsStream("/rag/" + name)
    require(in != null, s"missing bundled RAG fixture: $name")
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  def registerTemplates(): Unit =
    Seq("pgvector_output", "openai_embeddings", "pgvector_query",
        "redpanda", "cohere_embeddings", "ollama_embeddings")
      .foreach(f => Templates.register(resource(s"templates/$f.yaml")))

  /** The trio's INGESTION config (config/rag/ingestion/redpanda-docs
    * .yaml, bundled verbatim): a real git repository (CLI fixture) →
    * git input (include/exclude globs, max_file_size, git_* metadata)
    * → `meta = @.map_each_key(key -> key.trim_prefix("git_"))` +
    * is_binary drop → kafka_franz output with metadata
    * include_patterns riding as record headers. Only the egress-bound
    * repository_url is rewritten to the local fixture (the upstream
    * URL needs network). Returns (path, document) read back from the
    * topic via the stripped `file_path` HEADER — oracle-exact: the
    * fixture writes each document row at a doc_id-derived path, and
    * planted ROOT/ (excluded), binary (is_binary-dropped), and
    * oversize (max_file_size-skipped) files must all be absent.
    */
  def ingestE2E(spark: SparkSession, sfDir: String,
                nDocs: Int = 120): DataFrame = {
    import org.apache.spark.sql.functions._
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val broker = s"mem://rag-ingest-$runId"
    val topic = "rp.ai.rag.rpdocs"
    val dir = java.nio.file.Files.createTempDirectory("graft_rag_ingest")
    def sh(cmd: String*): Unit = {
      val pb = new ProcessBuilder(cmd: _*)
      pb.directory(dir.toFile)
      pb.environment().put("GIT_AUTHOR_NAME", "g")
      pb.environment().put("GIT_AUTHOR_EMAIL", "g@x")
      pb.environment().put("GIT_COMMITTER_NAME", "g")
      pb.environment().put("GIT_COMMITTER_EMAIL", "g@x")
      pb.redirectErrorStream(true)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(),
        StandardCharsets.UTF_8)
      require(p.waitFor() == 0, s"git fixture: $out")
    }
    sh("git", "init", "-q", "-b", "main")
    val docs = spark.read.parquet(sfDir + "/documents.parquet")
      .filter(col("doc_id") < nDocs)
      .select(col("doc_id"), col("text")).collect() // bounded fixture
    docs.foreach { r =>
      val p = dir.resolve(s"modules/s${r.getLong(0) % 5}/doc_${r.getLong(0)}.adoc")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, r.getString(1))
    }
    // planted negatives: excluded section, binary content, oversize
    java.nio.file.Files.createDirectories(dir.resolve("modules/ROOT"))
    java.nio.file.Files.writeString(
      dir.resolve("modules/ROOT/skip.adoc"), "excluded by pattern")
    java.nio.file.Files.createDirectories(dir.resolve("modules/bin"))
    java.nio.file.Files.write(dir.resolve("modules/bin/binary.adoc"),
      Array[Byte](0x25, 0x00, 0x01, 0x42, 0x00, 0x7f))
    java.nio.file.Files.createDirectories(dir.resolve("modules/big"))
    java.nio.file.Files.writeString(dir.resolve("modules/big/huge.adoc"),
      "x" * (1048576 + 1))
    sh("git", "add", "-A")
    sh("git", "commit", "-q", "-m", "fixture")

    graft.sources.Broker.transportFor(broker).createTopic(topic, 4)
    val env = Map("REDPANDA_BROKERS" -> broker)
    val yamlM = new ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    // the raw config: run substitutes ${VAR} once, after the edit
    val cfg = yamlM.readTree(resource("ingestion/redpanda-docs.yaml"))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    cfg.at("/input/git")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("repository_url", dir.toString)
    Pipeline.run(spark, yamlM.writeValueAsString(cfg), env)

    graft.sources.Sources.brokerRead(spark, broker, topic)
      .select(element_at(col("metadata"), "file_path").as("path"),
        col("value").as("document"))
      .orderBy("path")
  }

  /** Index + retrieve; returns the oracle-checkable store rows.
    * nQueries sizes only the retrieval-loop ASSERTS (the oracle rows
    * come from the store) — 5 keeps the gate's full-loop coverage at
    * ~half the HTTP round-trips.
    */
  def e2e(spark: SparkSession, sfDir: String, nSmall: Int = 24,
          nBig: Int = 16, nQueries: Int = 5): DataFrame = {
    // stage attribution for the r15 heavy-query protocol: set
    // SPARK_GRAFT_RAG_STAGES=1 to print per-stage wall on stderr
    val stageT0 = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    def stage(name: String): Unit =
      if (sys.env.contains("SPARK_GRAFT_RAG_STAGES")) {
        val now = System.nanoTime()
        System.err.println(f"[rag-e2e] $name ${(now - stageT0.get) / 1e9}%.2f s")
        stageT0.set(now)
      }
    registerTemplates()
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val broker = s"mem://rag-$runId"
    val dsn = s"postgres://rag-$runId/db"
    val topic = "rp.ai.rag.docs"

    // document selection — restated verbatim by the oracle SQL:
    // globally unique texts; n_chars <= 400 docs are single-chunk
    // (chunk size 512) and become the oracle rows; n_chars > 512 docs
    // exercise multi-chunk reassembly
    val docs = spark.read.parquet(sfDir + "/documents.parquet")
    val uniq = docs.groupBy("text").count()
      .filter(col("count") === 1).select("text")
    val base = docs.join(uniq, Seq("text"), "left_semi")
    val small = base.filter(col("n_chars") <= 400)
      .orderBy("doc_id").limit(nSmall)
    val big = base.filter(col("n_chars") > 512)
      .orderBy("doc_id").limit(nBig)
    val seed = small.unionByName(big)
      .select(col("doc_id").cast("string").as("key"),
        col("text").as("value"), col("doc_id"))

    graft.sources.Broker.transportFor(broker).createTopic(topic, 4)
    graft.sinks.Sinks.brokerWrite(seed, broker, topic,
      col("key"), col("value"), col("doc_id"))

    val env = Map(
      "REDPANDA_BROKERS" -> broker,
      "INDEXING_CONSUMER" -> "rag-index",
      "REDPANDA_USER" -> "", "REDPANDA_PASS" -> "",
      "OPENAI_API_KEY" -> "test-key",
      "POSTGRES_DSN" -> dsn, "POSTGRES_TABLE" -> "rag")

    stage("seed (docs select + broker write)")
    // 1. indexing — the reference config, env-substituted like the CLI
    Pipeline.run(spark, resource("indexing/openai_pgvector.yaml"), env)
    stage("indexing pipeline")

    // 2. the store after indexing
    val table = graft.sources.PgVector.table(dsn, "rag_openai").getOrElse(
      throw new IllegalStateException("indexing created no pgvector table"))
    val stored = synchronized {
      table.rows.map { r =>
        (String.valueOf(r(0)), String.valueOf(r(1)),
          r(2).asInstanceOf[Long], String.valueOf(r(3)),
          r(4).asInstanceOf[Array[Float]])
      }.toVector
    }
    val bigDocs = big.select(col("doc_id").cast("string"), col("text"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    bigDocs.foreach { case (k, text) =>
      val chunks = stored.filter(_._2 == k).sortBy(_._3)
      require(chunks.size >= 2,
        s"doc $k (${text.length} chars) stored ${chunks.size} chunks")
      require(chunks.forall(c => text.contains(c._4)),
        s"doc $k: a stored chunk is not a substring of the original")
      require(chunks.map(_._4.length).sum >= (text.length * 9) / 10,
        s"doc $k: chunks cover <90% of the text")
      val idx = chunks.map(c => text.indexOf(c._4))
      require(idx == idx.sorted,
        s"doc $k: chunk order does not follow the text")
    }

    stage("store dump + multi-chunk reassembly asserts")
    // 3. retrieval over a real socket; ranking cross-checked against a
    // gate-side brute-force top-k from the dumped store
    val server = new graft.sources.HttpSyncServer(spark,
      Pipeline.substEnv(resource("retrieval/openai_pgvector.yaml"), env), env)
    try {
      val client = graft.operators.Http.javaClient(timeoutMs = 120000)
      val embed = graft.operators.AiApis.offlineEmbeddings(768)
      val queryTexts = small.select(col("text")).limit(nQueries)
        .collect().map(_.getString(0)) // bounded: nQueries rows
      // the round-trips are independent retrievals against a server
      // whose handler pool is 4 threads and whose sync_response capture
      // is ThreadLocal — run them CONCURRENTLY (VERDICT r19 #7: the
      // serial loop held ~35% of the gate's wall in back-to-back HTTP
      // waits). Verification per query is UNCHANGED: same brute-force
      // ranking, same asserts, every future's failure re-thrown.
      def verifyOne(qt: String): Unit = {
        val q = mapper.createObjectNode()
        q.put("query", qt)
        val body = mapper.writeValueAsString(q)
        val resp = client(Seq(graft.operators.Http.Request(server.url,
          "POST", Map("Content-Type" -> "application/json"), body))).head
        require(resp.status == 200,
          s"retrieval returned ${resp.status}: ${resp.body}")
        val hits = mapper.readTree(resp.body)
        require(hits.isArray && hits.size == 3,
          s"retrieval returned ${hits.size} hits, want 3")
        // the pipeline embeds the request body verbatim
        // (openai_embeddings' default text mapping is the content) —
        // so the expected ranking is derivable from the posted bytes
        val qv = embed(Seq(body)).head
        val expected = stored.sortBy { s =>
          val v = s._5
          var acc = 0.0
          var i = 0
          while (i < v.length) {
            acc += (v(i) - qv(i)) * (v(i) - qv(i)); i += 1
          }
          (math.sqrt(acc), Seq(s._1, s._2, s._3).mkString(" "))
        }.take(3)
        expected.zipWithIndex.foreach { case (e, i) =>
          val h = hits.get(i)
          require(h.get("key").asText == e._2 &&
              h.get("topic").asText == e._1,
            s"rank $i: got ${h.get("key")}, want ${e._2}")
          val reassembled = stored.filter(s => s._2 == e._2 && s._1 == e._1)
            .sortBy(_._3).map(_._4).mkString("")
          require(h.get("document").asText == reassembled,
            s"rank $i: reassembled document mismatch for key ${e._2}")
        }
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, math.max(1, queryTexts.length)),
        (r: Runnable) => {
          val th = new Thread(r, "rag-retrieval"); th.setDaemon(true); th
        })
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[Unit]] =
          queryTexts.toSeq.map(qt =>
            (() => verifyOne(qt)): java.util.concurrent.Callable[Unit])
        pool.invokeAll(tasks.asJava).asScala.foreach { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause }
        }
      } finally pool.shutdown()
    } finally server.stop()
    stage("retrieval loop + ranking verification")

    // 4. oracle rows: the store's single-chunk documents
    val smallKeys = small.select(col("doc_id").cast("string"))
      .collect().map(_.getString(0)).toSet
    val rows = stored.filter(s => smallKeys(s._2)).map { s =>
      Row(s._1, s._2, s._3, s._4)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("topic",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("key",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("chunk_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("document",
          org.apache.spark.sql.types.StringType))))
      .orderBy(col("key").cast("long"))
  }
}
