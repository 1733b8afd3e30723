package graft.config

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** YAML forms of the output combinators (outputs/broker.adoc,
  * switch.adoc, fallback.adoc, reject.adoc, drop.adoc,
  * sync_response.adoc, cache.adoc) — the output table's entries over the
  * Sinks combinator functions.
  */
class OutputCombinatorSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def readValues(path: String): Seq[String] =
    spark.read.parquet(path).select(col("value").cast("string"))
      .as[String].collect().toSeq.sorted

  test("broker fan_out: every child sees every row") {
    val (a, b) = (tmp("fan_a"), tmp("fan_b"))
    Pipeline.run(spark,
      s"""input:
         |  generate: { count: 4, mapping: 'root.n = this.seq' }
         |output:
         |  broker:
         |    pattern: fan_out
         |    outputs:
         |      - parquet: { path: $a/out }
         |      - parquet: { path: $b/out }
         |""".stripMargin)
    assert(readValues(s"$a/out") == readValues(s"$b/out"))
    assert(readValues(s"$a/out").size == 4)
  }

  test("broker round_robin: rows split fairly across children") {
    val (a, b) = (tmp("rr_a"), tmp("rr_b"))
    Pipeline.run(spark,
      s"""input:
         |  generate: { count: 64, mapping: 'root.n = this.seq' }
         |output:
         |  broker:
         |    pattern: round_robin
         |    outputs:
         |      - parquet: { path: $a/out }
         |      - parquet: { path: $b/out }
         |""".stripMargin)
    val (va, vb) = (readValues(s"$a/out"), readValues(s"$b/out"))
    assert((va ++ vb).distinct.size == 64, "no duplication, no loss")
    // partition-local rotation: fair within ±numPartitions rows
    assert(math.abs(va.size - vb.size) <= spark.sparkContext
      .defaultParallelism, s"split ${va.size}/${vb.size}")
  }

  test("switch output: first match wins; continue keeps testing") {
    val (hot, all, rest) = (tmp("sw_hot"), tmp("sw_all"), tmp("sw_rest"))
    Pipeline.run(spark,
      s"""input:
         |  generate: { count: 6, mapping: 'root.n = this.seq' }
         |output:
         |  switch:
         |    cases:
         |      - check: 'this.n % 2 == 0'
         |        continue: true
         |        output:
         |          parquet: { path: $all/out }
         |      - check: 'this.n < 3'
         |        output:
         |          parquet: { path: $hot/out }
         |      - output:
         |          parquet: { path: $rest/out }
         |""".stripMargin)
    // evens (0,2,4) land in `all` and CONTINUE; n<3 among the still
    // unclaimed stream (everything) → 0,1,2 in hot; rest = 3,4,5... but
    // 0,2 matched case 1 with continue → still tested by case 2
    val evens = readValues(s"$all/out")
    val lows = readValues(s"$hot/out")
    val others = readValues(s"$rest/out")
    def ns(vs: Seq[String]) =
      vs.map(v => v.replaceAll("\\D", "").toInt).sorted
    assert(ns(evens) == Seq(0, 2, 4))
    assert(ns(lows) == Seq(0, 1, 2))
    assert(ns(others) == Seq(3, 4, 5))
  }

  test("fallback: the second child takes over when the first throws") {
    val ok = tmp("fb_ok")
    Pipeline.run(spark,
      s"""input:
         |  generate: { count: 3, mapping: 'root.n = this.seq' }
         |output:
         |  fallback:
         |    - kafka:
         |        seed_brokers: [ mem://no_such_broker_topic_missing ]
         |        topic: missing
         |    - parquet: { path: $ok/out }
         |""".stripMargin)
    assert(readValues(s"$ok/out").size == 3)
  }

  test("reject output fails the run with the interpolated reason") {
    val e = intercept[Exception] {
      Pipeline.run(spark,
        """input:
          |  generate: { count: 2, mapping: 'root.n = this.seq' }
          |output:
          |  reject: "nope: ${! json(\"n\") }"
          |""".stripMargin)
    }
    assert(e.getMessage.startsWith("nope: "))
  }

  test("drop output discards; sync_response outside a caller is loud") {
    Pipeline.run(spark,
      """input:
        |  generate: { count: 2, mapping: 'root.n = this.seq' }
        |output:
        |  drop: {}
        |""".stripMargin)
    val e = intercept[Exception] {
      Pipeline.run(spark,
        """input:
          |  generate: { count: 1, mapping: 'root.n = this.seq' }
          |output:
          |  sync_response: {}
          |""".stripMargin)
    }
    assert(e.getMessage.contains("synchronous caller"))
  }

  test("sync_response inside a collect scope captures the batch") {
    val (_, batches) = Pipeline.SyncResponse.collect {
      Pipeline.run(spark,
        """input:
          |  generate: { count: 3, mapping: 'root.n = this.seq' }
          |output:
          |  sync_response: {}
          |""".stripMargin)
    }
    assert(batches.size == 1)
    assert(batches.head.map(_.replaceAll("\\D", "").toInt).sorted ==
      Seq(0, 1, 2))
  }

  test("cache output upserts into a view-backed cache resource") {
    Pipeline.run(spark,
      """input:
        |  generate: { count: 3, mapping: 'root.k = "key" + this.seq.string()' }
        |cache_resources:
        |  - label: sink_lut
        |    memory:
        |      init:
        |        key1: '{"old":true}'
        |output:
        |  cache:
        |    target: sink_lut
        |    key: '${! json("k") }'
        |""".stripMargin)
    val rows = spark.table("cache_sink_lut")
      .as[(String, String)].collect().toMap
    assert(rows.keySet == Set("key0", "key1", "key2"))
    assert(rows("key1").contains("\"k\""), "new value shadows the init row")
  }

  test("drop_on error: errored rows vanish, healthy rows reach the child") {
    val ok = tmp("dropon_ok")
    Pipeline.run(spark,
      s"""input:
         |  generate: { count: 4, mapping: 'root.k = if this.seq % 2 == 0 { "hit" } else { "miss" + this.seq.string() }' }
         |cache_resources:
         |  - label: do_lut
         |    memory:
         |      init:
         |        hit: '{"ok":1}'
         |pipeline:
         |  processors:
         |    - cache: { resource: do_lut, key: '$${! json("k") }' }
         |output:
         |  drop_on:
         |    error: true
         |    output:
         |      parquet: { path: $ok/out }
         |""".stripMargin)
    val vals = readValues(s"$ok/out")
    assert(vals.size == 2 && vals.forall(_.contains("\"ok\"")),
      s"only the cache hits survive: $vals")
    // error_patterns: only matching errors drop; others pass through
    val ok2 = tmp("dropon_pat")
    Pipeline.run(spark,
      s"""input:
         |  generate: { count: 2, mapping: 'root.k = "miss" + this.seq.string()' }
         |cache_resources:
         |  - label: do_lut2
         |    memory: {}
         |pipeline:
         |  processors:
         |    - cache: { resource: do_lut2, key: '$${! json("k") }' }
         |output:
         |  drop_on:
         |    error_patterns: [ "no-such-pattern" ]
         |    output:
         |      parquet: { path: $ok2/out }
         |""".stripMargin)
    assert(readValues(s"$ok2/out").size == 2,
      "non-matching errors pass to the child")
  }

  test("retry output: succeeds clean, exhausts loudly on a dead child") {
    val ok = tmp("retry_ok")
    Pipeline.run(spark,
      s"""input:
         |  generate: { count: 2, mapping: 'root.n = this.seq' }
         |output:
         |  retry:
         |    output:
         |      parquet: { path: $ok/out }
         |""".stripMargin)
    assert(readValues(s"$ok/out").size == 2)
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      Pipeline.run(spark,
        """input:
          |  generate: { count: 1, mapping: 'root.n = this.seq' }
          |output:
          |  retry:
          |    max_retries: 2
          |    backoff: { initial_interval: 20ms, max_interval: 40ms }
          |    output:
          |      kafka:
          |        seed_brokers: [ mem://retry_no_such_broker ]
          |        topic: missing
          |""".stripMargin)
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(e.getMessage.contains("3 attempts"), e.getMessage)
    assert(elapsedMs >= 60, s"backoff slept between attempts: $elapsedMs ms")
  }

  test("cache output writes file-cache entries to disk") {
    val dir = tmp("cache_files")
    Pipeline.run(spark,
      s"""input:
         |  generate: { count: 2, mapping: 'root.k = "f" + this.seq.string()' }
         |cache_resources:
         |  - label: disk_lut
         |    file: { directory: $dir }
         |output:
         |  cache:
         |    target: disk_lut
         |    key: '${"${! json(\"k\") }"}'
         |""".stripMargin)
    val names = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(names.toSeq == Seq("f0", "f1"))
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "f0")), "UTF-8")
    assert(body.contains("\"k\""))
  }
}
