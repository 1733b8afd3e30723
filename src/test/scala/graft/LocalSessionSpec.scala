package graft

/** The one session constructor: its confs, and that it hands back the
  * running session rather than a second one.
  */
class LocalSessionSpec extends SparkSpec {

  test("the constructor's confs are set on the session it builds") {
    val c = spark.conf
    assert(spark.sparkContext.master ==
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.ui.enabled") == "false")
    assert(c.get("spark.sql.shuffle.partitions") ==
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4"))
    assert(c.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") ==
      LocalSession.MinPartitionSize)
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") == "true",
      "Tables.configure ran")
    assert(spark.catalog.functionExists("graft_json_content"),
      "GraftFunctions are registered")
  }

  test("a second call returns the same session") {
    assert(LocalSession(cpus = 4) eq spark)
    spark.sparkContext.setLogLevel("ERROR") // the constructor reset it
  }
}
