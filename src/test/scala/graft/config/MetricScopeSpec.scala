package graft.config

import graft.SparkSpec

/** `metric` processor readings belong to the run that applied them: a
  * `build` or a `runStream` has no exporter, and its readings must not
  * surface in a later run's `metrics:` output. Inside flow control a
  * counter counts each row it processes once, and a `try` child skips
  * the rows an earlier child errored, in batch and stream.
  */
class MetricScopeSpec extends SparkSpec {

  private def metric(name: String): String =
    s"""    - metric:
       |        type: counter
       |        name: $name
       |        labels:
       |          lang: $${! json("lang") }
       |""".stripMargin

  test("a build's or runStream's readings never reach a later run's exporter") {
    Pipeline.build(spark,
      """input:
        |  generate: { count: 4, mapping: 'root.lang = "en"' }
        |pipeline:
        |  processors:
        |""".stripMargin + metric("build_seen")).collect()

    val q = Pipeline.runStream(spark,
      """input:
        |  generate: { rate: 100, mapping: 'root.lang = "en"' }
        |pipeline:
        |  processors:
        |""".stripMargin + metric("stream_seen") +
        """output:
          |  memory: { name: metric_scope_stream }
          |""".stripMargin)
    try {
      val deadline = System.currentTimeMillis + 30000
      var n = 0L
      while (n == 0 && System.currentTimeMillis < deadline) {
        q.processAllAvailable()
        n = spark.sql("SELECT COUNT(*) FROM metric_scope_stream")
          .head().getLong(0)
        if (n == 0) Thread.sleep(200)
      }
      assert(n > 0, "no rows arrived from the rate source")
    } finally q.stop()

    val f = java.nio.file.Files.createTempFile("prom", ".txt")
    Pipeline.run(spark,
      """input:
        |  generate: { count: 3, mapping: 'root.lang = "fr"' }
        |pipeline:
        |  processors:
        |""".stripMargin + metric("run_seen") +
        s"""output:
           |  drop: {}
           |metrics:
           |  prometheus:
           |    file: $f
           |""".stripMargin)
    val text = java.nio.file.Files.readString(f)
    assert(text.contains("""run_seen{lang="fr"} 3"""), text)
    assert(!text.contains("build_seen"), text)
    assert(!text.contains("stream_seen"), text)
  }

  test("children of a multi-child try run once per row") {
    // every child but the last is read by two slices (healthy and
    // errored); a counter there must still count each row once
    val f = java.nio.file.Files.createTempFile("prom", ".txt")
    Pipeline.run(spark,
      """input:
        |  generate: { count: 5, mapping: 'root.lang = "de"' }
        |pipeline:
        |  processors:
        |    - try:
        |""".stripMargin +
        metric("try_first").linesIterator.map("    " + _).mkString("\n") +
        """
          |        - metric: { type: counter, name: try_second }
          |        - mapping: 'root.done = true'
          |output:
          |  drop: {}
          |metrics:
          |  prometheus:
          |""".stripMargin + s"    file: $f\n")
    val text = java.nio.file.Files.readString(f)
    assert(text.contains("""try_first{lang="de"} 5"""), text)
    assert(text.linesIterator.contains("try_second 5"), text)
  }

  /** A labeled (`<name>_l`) and an unlabeled (`<name>_u`) counter as
    * processor list items at the given indent.
    */
  private def counters(name: String, indent: Int): String =
    (metric(s"${name}_l").linesIterator.map(_.drop(4)).toSeq :+
      s"- metric: { type: counter, name: ${name}_u }")
      .map(" " * indent + _).mkString("", "\n", "\n")

  test("counters inside try_catch, catch, switch and retry count each row once") {
    val errorOdd = "awk: { codec: json, program: '{ if (n % 2 == 1) exit 1 }' }"
    val f = java.nio.file.Files.createTempFile("prom", ".txt")
    Pipeline.run(spark,
      """input:
        |  generate:
        |    count: 5
        |    mapping: |
        |      root.lang = "de"
        |      root.n = this.seq
        |pipeline:
        |  processors:
        |    - switch:
        |        - check: 'this.n % 2 == 0'
        |          processors:
        |""".stripMargin + counters("sw_even", 12) +
        """        - processors:
          |""".stripMargin + counters("sw_odd", 12) +
        """    - retry:
          |        max_retries: 2
          |        processors:
          |""".stripMargin + counters("rt", 10) +
        """    - try_catch:
          |        processors:
          |""".stripMargin + counters("tc", 10) +
        s"""          - $errorOdd
           |        catch:
           |""".stripMargin + counters("tcc", 10) +
        s"""    - $errorOdd
           |    - catch:
           |""".stripMargin + counters("ca", 8) +
        s"""output:
           |  drop: {}
           |metrics:
           |  prometheus:
           |    file: $f
           |""".stripMargin)
    val text = java.nio.file.Files.readString(f)
    val lines = text.linesIterator.toSet
    Seq("sw_even" -> 3, "sw_odd" -> 2, "rt" -> 5, "tc" -> 5, "tcc" -> 2,
        "ca" -> 2).foreach { case (name, n) =>
      assert(lines(s"""${name}_l{lang="de"} $n"""), s"$name labeled: $text")
      assert(lines(s"${name}_u $n"), s"$name unlabeled: $text")
    }
  }

  test("a streaming try leaves a row an earlier child errored untouched") {
    val q = Pipeline.runStream(spark,
      """input:
        |  generate:
        |    rate: 50
        |    mapping: 'root = if this.seq % 2 == 0 { this } else { "not json" }'
        |pipeline:
        |  processors:
        |    - try:
        |        - awk: { codec: json, program: 'BEGIN { }' }
        |        - mapping: 'root.seen = true'
        |output:
        |  memory: { name: stream_try_skip }
        |""".stripMargin)
    try {
      val deadline = System.currentTimeMillis + 30000
      var n = 0L
      while (n < 4 && System.currentTimeMillis < deadline) {
        q.processAllAvailable()
        n = spark.sql("SELECT COUNT(*) FROM stream_try_skip").head().getLong(0)
        if (n < 4) Thread.sleep(200)
      }
      assert(n >= 4, "too few rows arrived from the rate source")
    } finally q.stop()
    val rows = spark.table("stream_try_skip").select("value", "error")
      .collect().toSeq
    val (errored, healthy) = rows.partition(!_.isNullAt(1))
    assert(errored.nonEmpty && healthy.nonEmpty, rows.mkString("; "))
    assert(errored.forall(_.getString(0) == "not json"),
      s"child 2 reached an errored row: ${errored.mkString("; ")}")
    assert(healthy.forall(_.getString(0) == """{"seen":true}"""), rows.mkString("; "))
  }
}
