package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Adversarial high-df corpus for the near-dup miners (VERDICT r19 #1):
  * a NEAR-DISTINCT corpus (so [[graft.operators.Dedupe]]'s adaptive
  * staging takes the DIRECT plan) where every document shares a block
  * of boilerplate tokens — the worst case for an inverted-index join,
  * since each boilerplate shingle's document frequency equals the
  * corpus size and the index fan-out term Σ C(df, 2) goes quadratic.
  *
  * Usage: runMain graft.tools.BoilerGen <srcDir> <outDir> <boilerTokens> [factor]
  *
  * Writes ONLY documents.parquet (the miner gates read nothing else):
  * text' = text + " " + boilerplate, ids kept unique; factor > 1
  * replicates with a per-copy distinct marker token and shifted ids so
  * the corpus STAYS near-distinct at scale (unlike ScaleGen's
  * byte-identical replication, which the exact-dup collapse absorbs).
  * Row groups capped at 2 MB per the ladder protocol so the scan
  * splits and [[graft.operators.Spread]] stays a no-op.
  */
object BoilerGen {
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val boilerTokens = args(2).toInt
    val factor = if (args.length > 3) args(3).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val boiler = (0 until boilerTokens)
      .map(i => f"boilerplate$i%03d").mkString(" ")
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val docStride = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val copies = spark.range(factor).select(col("id").as("__copy"))
    val out = docs.crossJoin(copies)
      .withColumn("doc_id", col("doc_id") + col("__copy") * docStride)
      .withColumn("text",
        concat(col("text"), lit(" "),
          when(col("__copy") > 0,
            concat(lit("copymark"), col("__copy").cast("string"), lit(" ")))
            .otherwise(lit("")),
          lit(boiler)))
      .withColumn("n_chars", length(col("text")))
      .drop("__copy")

    // counted from the source before the write: a count of `out` after
    // the rename would recompute the crossJoin, and read the new file
    // when outDir == srcDir
    val nDocs = docs.count() * factor
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val tmp = s"$outDir/.tmp-documents"
    out.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", (2 * 1024 * 1024).toString)
      .parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet in $tmp"))
    val target = new org.apache.hadoop.fs.Path(s"$outDir/documents.parquet")
    fs.delete(target, false)
    require(fs.rename(part, target), s"rename $part -> $target")
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    System.err.println(s"[boilergen] wrote $target: " +
      s"$nDocs docs, $boilerTokens boiler tokens, factor $factor")
    spark.stop()
    sys.exit(0)
  }
}
