package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The engine's one execution listener: what it counts around a block,
  * that blocks do not share counts, and the tracer it backs.
  */
class ObserveExecutionSpec extends SparkSpec {

  private def shuffling() =
    spark.range(0, 20000, 1, 4).groupBy((col("id") % 97).as("k"))
      .agg(count(lit(1)).as("n"))

  test("a shuffling plan reports jobs, tasks, shuffle bytes and phase ms") {
    val e = new Observe.Execution()
    val rows = e.around(spark)(shuffling().collect())
    assert(rows.length == 97)
    val r = e.reading
    assert(r.jobs > 0 && r.stages > 0 && r.tasks > 0, r)
    assert(r.shuffleWriteBytes > 0 && r.shuffleReadBytes > 0, r)
    assert(r.taskRunMs >= 0 && r.busyMs > 0, r)
    assert(r.phaseMs.keySet == Observe.Execution.Phases.toSet, r)
    assert(r.phaseMs.values.forall(_ >= 0) && r.phasesMs > 0, r)
    // nothing was marked as the action, so it holds nothing
    assert(e.actionReading.jobs == 0 && e.actionReading.phasesMs == 0)
  }

  test("back-to-back blocks do not leak counts into each other") {
    val a, b = new Observe.Execution()
    a.around(spark)(shuffling().collect())
    val first = a.reading
    b.around(spark)(spark.range(10).count())
    // a is detached: the second block added nothing to it
    assert(a.reading == first)
    assert(b.reading.shuffleWriteBytes < first.shuffleWriteBytes, b.reading)
    assert(b.reading.jobs > 0, b.reading)
  }

  test("work after markAction counts toward the action alone") {
    val e = new Observe.Execution()
    e.around(spark) {
      spark.range(100).collect() // no shuffle
      Thread.sleep(5)
      e.markAction()
      shuffling().write.format("noop").mode("overwrite").save()
    }
    val (all, action) = (e.reading, e.actionReading)
    assert(action.jobs > 0 && action.jobs < all.jobs, (all, action))
    assert(action.shuffleWriteBytes == all.shuffleWriteBytes, (all, action))
    assert(action.phasesMs <= all.phasesMs && action.busyMs <= all.busyMs)
  }

  test("attachTracer emits one span per action with its observed metrics") {
    import spark.implicits._
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = Observe.attachTracer(spark, spans.add(_))
    try {
      val (flowing, _) = Observe.metric((1 to 30).toDF("x"), "traced",
        Seq(count(lit(1)).as("rows")))
      new Observe.Execution().around(spark)(
        flowing.write.format("noop").mode("overwrite").save())
      val mine = spans.toArray(Array.empty[String]).filter(_.contains("traced"))
      assert(mine.length == 1, spans)
      val span = new com.fasterxml.jackson.databind.ObjectMapper().readTree(mine.head)
      assert(span.at("/observed/traced/rows").asLong == 30L, mine.head)
      assert(span.get("duration_ms").asLong >= 0L, mine.head)
      Observe.Execution.Phases.foreach(p =>
        assert(span.has(s"${p}_ms"), s"$p missing: ${mine.head}"))
    } finally spark.listenerManager.unregister(l)
  }
}
