package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Redis, Sources}

/** `cache_resources:` blocks → `cache_<label>` (key, value) temp views,
  * the relational form the `cache` processor joins against, plus the
  * live stores behind the writable backends. In-process backends
  * (caches/memory.adoc, lru.adoc, ttlru.adoc — `init` seeds entries)
  * and the `file` backend (caches/file.adoc: one file per key,
  * filename = key, contents = value) are real; other network backends
  * are environment-blocked.
  */
object Caches {

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
    private def textArg(v: String) = JsonNodeFactory.instance.textNode(v)
    def isPg: Boolean = dsn.startsWith("postgres://") ||
      dsn.startsWith("postgresql://")
    /** `f` over one JDBC connection to the DSN, closed after. */
    def jdbc[T](f: java.sql.Connection => T): T = {
      val c = java.sql.DriverManager.getConnection(dsn)
      try f(c) finally c.close()
    }
    def get(k: String): Option[String] =
      if (isPg)
        graft.sources.PgVector.exec(dsn,
            s"SELECT $valueColumn FROM $table WHERE $keyColumn = $$1",
            Seq(textArg(k)))
          .headOption.map(_.path(valueColumn).asText)
      else jdbc { c =>
        val ps = c.prepareStatement(
          s"SELECT $valueColumn FROM $table WHERE $keyColumn = ?")
        ps.setString(1, k)
        val rs = ps.executeQuery()
        val out = if (rs.next()) Some(rs.getString(1)) else None
        rs.close(); ps.close(); out
      }
    def put(k: String, v: String): Unit =
      if (isPg) {
        graft.sources.PgVector.exec(dsn,
          s"INSERT INTO $table ($keyColumn, $valueColumn) " +
            s"VALUES ($$1, $$2) $setSuffix".trim,
          Seq(textArg(k), textArg(Option(v).getOrElse(""))))
        ()
      } else jdbc { c =>
        val del = c.prepareStatement(
          s"DELETE FROM $table WHERE $keyColumn = ?")
        del.setString(1, k); del.executeUpdate(); del.close()
        val ps = c.prepareStatement(
          s"INSERT INTO $table ($keyColumn, $valueColumn) VALUES (?, ?)")
        ps.setString(1, k); ps.setString(2, Option(v).getOrElse(""))
        ps.executeUpdate(); ps.close()
      }
    def delete(k: String): Unit =
      if (isPg) {
        graft.sources.PgVector.exec(dsn,
          s"DELETE FROM $table WHERE $keyColumn = $$1", Seq(textArg(k)))
        ()
      } else jdbc { c =>
        val ps = c.prepareStatement(
          s"DELETE FROM $table WHERE $keyColumn = ?")
        ps.setString(1, k); ps.executeUpdate(); ps.close()
      }
  }

  private[graft] val sqlCacheCfgs =
    scala.collection.concurrent.TrieMap.empty[String, SqlCacheCfg]

  /** One resolvable level for the kernel-form cache processor: a
    * memory-family live store (per-JVM), a file directory (coherent
    * across executors on shared storage), or a sql-backed table.
    * Serializable — executor closures capture the label/dir/cfg and
    * resolve the store at use time.
    */
  private[graft] final case class CacheLevel(label: String,
      fileDir: Option[String], sql: Option[SqlCacheCfg] = None)
      extends Serializable {
    private def store = Caches.liveCacheStores.getOrElseUpdate(label,
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

  /** Register each cache resource as `cache_<label>`. */
  private[graft] def register(spark: SparkSession, caches: Seq[JsonNode],
                              env: Map[String, String]): Unit = {
    // multilevel views resolve their children eagerly — register them
    // AFTER the plain backends regardless of declaration order
    // (config/examples/stateful_polling.yaml declares the multilevel
    // first)
    val (multi, plain) = caches.partition(_.has("multilevel"))
    (plain ++ multi).foreach { r =>
      val label = Option(r.get("label")).map(_.asText).getOrElse(
        throw new IllegalArgumentException("cache resource needs a label"))
      // a label re-registered as a DIFFERENT backend must not keep the
      // old backend's live routing (suites reuse labels across cases)
      liveCacheStores.remove(label)
      sqlCacheCfgs.remove(label)
      multilevelLabels.remove(label)
      fileCacheDirs.remove(label)
      family.resolve(r, env) match {
        case Component.Found(view, node) =>
          view(spark, label, node.body).createOrReplaceTempView(s"cache_$label")
        case t: Component.Templated => t.expand(spark) { expanded =>
          val labeled = JsonNodeFactory.instance.objectNode()
          labeled.put("label", label)
          labeled.setAll[JsonNode](
            expanded.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
          register(spark, Seq(labeled), env)
        }
      }
    }
  }

  /** A backend: (session, label, body) → the label's (key, value) view. */
  private type View = (SparkSession, String, JsonNode) => DataFrame

  private def entry(names: String*)(view: View): Seq[(String, View)] =
    names.map(_ -> view)

  private def keyValues(spark: SparkSession, rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("key", "value")
  }

  private val family = new Component.Family[View]("cache", attaches = false,
    other => s"cache backend '$other' is environment-blocked here (network service)")(
    entry("memory", "lru", "ttlru", "noop", "ristretto") { (spark, label, b) =>
      // ristretto (caches/ristretto.adoc) is the reference's embedded
      // dgraph cache — in-process, same view semantics as memory/lru
      // here. The seed field is `init_values` (caches/memory.adoc:40);
      // `init` stays as a legacy alias.
      val rows = Option(b.get("init_values")).orElse(Option(b.get("init")))
        .map(_.properties().asScala.toSeq.map(kv =>
          (kv.getKey, kv.getValue.asText))).getOrElse(Seq.empty)
      // fresh live store per registration (test isolation)
      val store = scala.collection.concurrent.TrieMap.empty[String, String]
      rows.foreach { case (k, v) => store.put(k, v) }
      liveCacheStores.put(label, store)
      keyValues(spark, rows)
    },
    entry("memcached") { (spark, _, b) =>
      // caches/memcached.adoc — addresses (mem:// or host:port) + prefix
      // namespace; the view hydrates via the text protocol (metadump +
      // chunked multi-get)
      val addr = Component.strings(b.get("addresses")).headOption.getOrElse(
        throw new IllegalArgumentException("memcached cache needs addresses"))
      graft.sources.Memcached.cacheView(spark, addr, b.path("prefix").asText(""))
    },
    entry("file") { (spark, label, b) =>
      val dir = b.get("directory").asText
      fileCacheDirs.update(label, dir)
      // a fresh (empty) cache dir is legal — e.g. a cursor cache before
      // its input's first sweep; the /* glob would throw
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      spark.read.format("binaryFile").load(dir)
        .select(
          element_at(split(col("path"), "/"), -1).as("key"),
          col("content").cast("string").as("value"))
    },
    entry("multilevel") { (spark, label, b) =>
      // caches/multilevel.adoc — the value is an ARRAY of child cache
      // labels; a read consults levels in order and the FIRST level
      // holding the key wins. Children must be declared earlier in
      // cache_resources (their views resolve eagerly here).
      val levels = Component.strings(b)
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
    },
    entry("aws_dynamodb") { (spark, _, b) =>
      // caches/aws_dynamodb.adoc — one item per key (hash_key/data_key
      // attributes), hydrated via a Scan over the SigV4-verified JSON
      // protocol
      val hashKey = b.path("hash_key").asText("key")
      val dataKey = b.path("data_key").asText("value")
      val items = graft.sources.DynamoCdc.scanAll(
        b.get("endpoint").asText, Component.awsCreds(b), b.get("table").asText)
      val m2 = new ObjectMapper()
      keyValues(spark, items.map { j =>
        val n2 = m2.readTree(j)
        (n2.path(hashKey).asText, n2.path(dataKey).asText)
      })
    },
    entry("aws_s3") { (spark, _, b) =>
      // caches/aws_s3.adoc — one object per key under the bucket;
      // hydrated via the SigV4-verified S3 stack (mem:// loopback or any
      // S3-compatible endpoint)
      val endpoint = b.path("endpoint").asText(b.path("url").asText(""))
      require(endpoint.nonEmpty, "aws_s3 cache needs endpoint")
      graft.sources.S3.read(spark, endpoint, Component.awsCreds(b),
          b.get("bucket").asText)
        .select(element_at(col("metadata"), "s3_key").as("key"), col("value"))
    },
    entry("gcp_cloud_storage") { (spark, _, b) =>
      // caches/gcp_cloud_storage.adoc — one object per key under the
      // bucket (impl/gcp/cache_cloud_storage.go), hydrated through the
      // GCS JSON-API stack
      graft.sources.Gcs.read(spark, b.get("endpoint").asText,
          b.path("token").asText(""), b.get("bucket").asText)
        .select(element_at(col("metadata"), "gcs_key").as("key"), col("value"))
    },
    entry("mongodb") { (spark, _, b) =>
      // caches/mongodb.adoc — key_field/value_field documents of one
      // collection, over the OP_MSG wire stack
      val kf = b.path("key_field").asText("key")
      val vf = b.path("value_field").asText("value")
      graft.sources.Mongo.read(spark, b.get("url").asText,
          b.get("database").asText, b.get("collection").asText)
        .select(get_json_object(col("value"), s"$$.$kf").as("key"),
          get_json_object(col("value"), s"$$.$vf").as("value"))
    },
    entry("sql") { (spark, label, b) =>
      // caches/sql.adoc — key/value columns of a table reached through
      // JDBC (embedded Derby) or, for postgres:// DSNs, the in-process
      // pgvector engine. The cfg registers as a LIVE level so cache
      // set/add/delete and multilevel write-through reach the table
      // (config/examples/stateful_polling.yaml's pgstate).
      val cfg = SqlCacheCfg(b.get("dsn").asText, b.get("table").asText,
        b.path("key_column").asText("key"), b.path("value_column").asText("value"),
        b.path("set_suffix").asText(""))
      import cfg.{dsn, keyColumn => kc, table, valueColumn => vc}
      Option(b.get("init_statement")).map(_.asText).filter(_.nonEmpty)
        .foreach { init =>
          init.split(";").map(_.trim).filter(_.nonEmpty).foreach { s =>
            if (cfg.isPg) graft.sources.PgVector.exec(dsn, s, Nil)
            else cfg.jdbc { c => c.createStatement().execute(s); () }
          }
        }
      sqlCacheCfgs.put(label, cfg)
      val rows =
        // snapshot view from the engine (may be empty pre-init)
        if (cfg.isPg) graft.sources.PgVector.table(dsn, table)
          .map(t => t.rows.toSeq.map(r =>
            (String.valueOf(r(t.colIdx(kc))), String.valueOf(r(t.colIdx(vc))))))
          .getOrElse(Seq.empty)
        else cfg.jdbc { c =>
          val st = c.createStatement()
          val rs = st.executeQuery(s"SELECT $kc, $vc FROM $table")
          val buf = Vector.newBuilder[(String, String)]
          while (rs.next()) buf += ((rs.getString(1), rs.getString(2)))
          rs.close(); st.close()
          buf.result()
        }
      keyValues(spark, rows)
    },
    entry("couchbase") { (spark, _, b) =>
      // caches/couchbase.adoc — KV bucket entries over the binary
      // protocol; hydrated by a bounded key sweep from `init_keys` (the
      // KV protocol has no scan op — the same bounded-hydration contract
      // as the other remote caches)
      val cl = new graft.sources.Couchbase.Client(b.get("url").asText)
      keyValues(spark, Component.strings(b.path("init_keys"))
        .flatMap(k => cl.get(k).map(v => (k, v))))
    },
    entry("redpanda") { (spark, _, b) =>
      // caches/redpanda.adoc — a COMPACTED topic as the store: the latest
      // record per key is the live entry and a null value (tombstone)
      // deletes it — Kafka log-compaction semantics over the broker seam
      val addr = b.get("seed_brokers").elements().asScala.next().asText
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key")).orderBy(col("__seq").desc)
      Sources.brokerRead(spark, addr, b.get("topic").asText)
        .select(element_at(col("metadata"), "kafka_key").as("key"),
          col("value"),
          element_at(col("metadata"), "kafka_tombstone_message").as("__tomb"),
          col("__seq"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("__tomb") =!= "true")
        .select("key", "value")
    },
    entry("redis") { (spark, _, b) =>
      // caches/redis.adoc — snapshot of the store's string keys under
      // `prefix` through the mem:// seam
      Redis.cacheView(spark, b.get("url").asText, b.path("prefix").asText(""))
    },
    entry("nats_kv") { (spark, _, b) =>
      // caches/nats_kv.adoc — live entries of the bucket
      graft.sources.NatsKv.cacheView(spark,
        Component.memUrl("nats_kv", Component.strings(b.get("urls"))),
        b.get("bucket").asText)
    })
}
