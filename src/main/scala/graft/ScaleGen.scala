package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor promotion: replicate a driver-generated sf directory
  * `factor`× with referential-integrity-preserving key shifts, so the
  * correctness sweep and bench can run at sf1 (10× sf0.1) on the same
  * oracle — copy 0 keeps ORIGINAL keys, so `doc_id < N`-style gate
  * predicates still select real rows; joins stay key-correct because
  * every foreign key shifts by the same (copy × stride) as its parent.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <outDir> <factor>
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, "factor >= 1")
    val spark = LocalSession()
    // the engine's session settings read the timestamps back as
    // TimestampType (not NTZ, whose Spark footer metadata every
    // downstream timestamp kernel rejects); write them as MICROS
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    def read(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    def strideOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    // match the driver layout: ONE flat file named <table>.parquet
    // (DuckDB's oracle views open the path directly). A single file is
    // only scan-parallel if it has MANY ROW GROUPS: Spark assigns a
    // row group to the task whose byte range contains its midpoint, so
    // coalesce(1) with the default 128 MB block size produced one
    // 6 M-row row group — a SINGLE-THREADED scan masquerading as a
    // scale test. Cap row groups at 2 MB so even the mid-size tables
    // (events is ~7.5 MB compressed) split several ways (real
    // deployments have many files anyway); pairs with the engine's
    // SF-sized spark.sql.files.maxPartitionBytes.
    def writeFlat(df: DataFrame, t: String): Unit = {
      val tmp = s"$outDir/.tmp-$t"
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (2 * 1024 * 1024).toString)
        .parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no parquet in $tmp"))
      val target = new org.apache.hadoop.fs.Path(s"$outDir/$t.parquet")
      fs.delete(target, false)
      require(fs.rename(part, target), s"rename $part -> $target")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      ()
    }

    // fixed dimension tables: copy through unchanged
    Seq("region", "nation").foreach(t => writeFlat(read(t), t))

    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val orders = read("orders")
    val documents = read("documents")
    val embeddings = read("embeddings")
    val events = read("events")
    val custStride = strideOf(customer, "c_custkey")
    val suppStride = strideOf(supplier, "s_suppkey")
    val partStride = strideOf(part, "p_partkey")
    val orderStride = strideOf(orders, "o_orderkey")
    val docStride = strideOf(documents, "doc_id")
    val vecStride = strideOf(embeddings, "vec_id")
    val eventStride = strideOf(events, "event_id")
    val userStride = events.agg(max(col("user_id"))).head.getLong(0) + 1L

    /** Cross with the copy index and shift the named long keys. */
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val copies = spark.range(factor).select(col("id").as("__copy"))
      val crossed = df.crossJoin(copies)
      val shifted = shifts.foldLeft(crossed) { case (acc, (c, stride)) =>
        acc.withColumn(c, col(c) + col("__copy") * stride)
      }
      shifted.drop("__copy")
    }

    writeFlat(replicate(customer, "c_custkey" -> custStride), "customer")
    writeFlat(replicate(supplier, "s_suppkey" -> suppStride), "supplier")
    writeFlat(replicate(part, "p_partkey" -> partStride), "part")
    writeFlat(replicate(orders, "o_orderkey" -> orderStride,
      "o_custkey" -> custStride), "orders")
    writeFlat(replicate(read("lineitem"), "l_orderkey" -> orderStride,
      "l_partkey" -> partStride, "l_suppkey" -> suppStride), "lineitem")
    writeFlat(replicate(documents, "doc_id" -> docStride), "documents")
    // embeddings stay at 1×: the similarity gates encode the corpus's
    // SIMILARITY STRUCTURE (planted twins as the only ≥0.95 neighbors;
    // an intentionally-quadratic exact oracle) — replicated vectors,
    // exact or perturbed, add spurious near-neighbors and blow up the
    // oracle, verifying nothing new. ANN scale is carried by the
    // LSH/IVF bucketing design + RecallSpec; the 10× scan/join/agg
    // scale story lives in the fact tables above.
    writeFlat(embeddings, "embeddings")
    writeFlat(replicate(events, "event_id" -> eventStride,
      "user_id" -> userStride), "events")

    spark.stop()
    sys.exit(0)
  }
}
