package graft

/** [[SessionMemo]]: values are memoized per session, and a session's
  * entries go once its context has stopped.
  */
class SessionMemoSpec extends SparkSpec {

  private final class FakeSession { @volatile var stopped = false }

  test("a stopped session's entries are gone from the store after the next access") {
    val memo = new SessionMemo[FakeSession](!_.stopped)
    val (a, b) = (new FakeSession, new FakeSession)
    assert(memo.getOrElseUpdate(a, "k")(1) == 1)
    assert(memo.getOrElseUpdate(a, "k")(2) == 1, "memoized within a session")
    assert(memo.getOrElseUpdate(b, "k")(3) == 3, "not shared across sessions")
    assert(memo.sessions == 2)
    a.stopped = true
    assert(memo.sessions == 2, "eviction happens on access, not on stop")
    assert(memo.getOrElseUpdate(b, "k")(4) == 3)
    assert(memo.sessions == 1, "the stopped session's entries were dropped")
    // a stopped session that is asked again starts from nothing
    b.stopped = true
    assert(memo.getOrElseUpdate(new FakeSession, "k")(5) == 5)
    assert(memo.sessions == 1)
  }

  test("the shared store keeps a live SparkSession's relations") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memo").toString
    Seq((0, "AFRICA")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    val first = Tables.region(spark, dir)
    assert(!spark.sparkContext.isStopped)
    assert(Tables.region(spark, dir) eq first, "resolved once per session")
    assert(SessionMemo.sessions >= 1)
  }
}
