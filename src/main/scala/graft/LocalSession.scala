package graft

import org.apache.spark.sql.SparkSession

import graft.functions.expressions.GraftFunctions

/** The one session constructor of every entry point (Bench, Verify, the
  * generators, the lab tools, the serverless handler, the test harness),
  * so all of them measure and answer under the same settings. A conf one
  * writer alone needs is set by that caller after construction.
  *
  * Deployment settings stay in the environment: `SPARK_GRAFT_MASTER`
  * replaces `local[cpus]` (a `local-cluster[N,cores,memMB]` master forks
  * real executor JVMs on one box from the SPARK_HOME distribution, and
  * `SPARK_GRAFT_EXEC_MEM` sizes the executors), and so do the ladder
  * knobs `SPARK_GRAFT_SHUFFLE_PARTITIONS`, `SPARK_GRAFT_MAX_PART_BYTES`
  * and `SPARK_GRAFT_OPEN_COST` (SCALE_NOTES.md: the sf1 protocol sets
  * 2 MB splits + 256 KB open cost so 2 MB-row-group tables scan in
  * parallel; at sf10 one shuffle partition per core overflows memory).
  */
object LocalSession {

  /** AQE's default 1 MB `minPartitionSize` coalesces the post-shuffle
    * side of every sort to 1–2 partitions at test scale, which
    * serializes the per-row codec/hash kernels projected above the sort
    * (32× slowdown). Size-based coalescing can't see per-row CPU cost;
    * at real scale partitions are far above 1 MB and this is a no-op.
    */
  val MinPartitionSize = "16KB"

  /** `SPARK_GRAFT_CPUS`, else every processor of the host. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(cpus: Int = envCpus): SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = SparkSession.builder().master(master)
    if (master.startsWith("local-cluster")) {
      // the in-process Worker resolves the distribution through the
      // spark.test.home sysprop (falling back to a cwd that has no
      // jars/ — "Cannot find any build directories"); SparkContext adds
      // the JDK17 --add-opens to the executors' options itself
      sys.props("spark.test.home") = sys.env.getOrElse("SPARK_HOME", "/opt/spark")
      builder
        .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
        .config("spark.executor.extraJavaOptions",
          "-Dfile.encoding=UTF-8 -Dsun.jnu.encoding=UTF-8")
        .config("spark.executor.memory", sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "12g"))
    }
    val spark = builder
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString))
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", MinPartitionSize)
      // at sf0.1 fragmenting the iceberg / lakehouse intermediate files
      // into tiny tasks costs more in scheduling than it buys (measured
      // +22% on the full bench); at 100 TB with 128 MB files the default
      // is right
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", "128MB"))
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", "4194304"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.configure(spark)
    GraftFunctions.register(spark)
    spark
  }
}
