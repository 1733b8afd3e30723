package graft.config

import graft.SparkSpec

/** `metric` processor readings belong to the run that applied them: a
  * `build` or a `runStream` has no exporter, and its readings must not
  * surface in a later run's `metrics:` output.
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
}
