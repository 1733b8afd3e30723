package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedupe

/** Measurement harness for the r20 jaccard plan crossover: times the
  * co-occurrence COUNT plan and the df-ordered PREFIX plan on the same
  * corpus, prints the fan-out census (Σ df, Σ C(df,2), ratio) and both
  * plans' row counts + pair-set digests so equality is checked in the
  * same run. The committed crossover constant
  * ([[graft.operators.Dedupe.Census.prefix]]) is justified by this tool's numbers.
  *
  * Usage: runMain graft.tools.JaccardLab <dir> <passes>
  * Env: SPARK_GRAFT_CPUS (default 32).
  */
object JaccardLab {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val passes = if (args.length > 1) args(1).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "16KB")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sets = Dedupe.shingleIndex(
      spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id", 3)
    val ex = Dedupe.invertedIndex(sets)
    val census = Dedupe.census(sets)
    println(f"[jaccardlab] $dir index=${census.index}%.0f " +
      f"fanout=${census.fanout}%.0f ratio=${census.fanoutRatio}%.1f " +
      s"heavy=${census.prefix}")

    def digest(dfr: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = dfr.agg(count(lit(1)),
        coalesce(call_function("bit_xor",
          xxhash64(col("id_a"), col("id_b"), col("jaccard"))),
          lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    (1 to passes).foreach { p =>
      val t0 = System.nanoTime()
      Dedupe.countPairs(ex, 0.35).write.format("noop")
        .mode("overwrite").save()
      val t1 = System.nanoTime()
      Dedupe.prefixFilteredPairs(sets, ex, 0.35).write.format("noop")
        .mode("overwrite").save()
      val t2 = System.nanoTime()
      println(f"[jaccardlab] pass $p count=${(t1 - t0) / 1e9}%.2f s " +
        f"prefix=${(t2 - t1) / 1e9}%.2f s")
    }
    val dc = digest(Dedupe.countPairs(ex, 0.35))
    val dp = digest(Dedupe.prefixFilteredPairs(sets, ex, 0.35))
    println(s"[jaccardlab] count rows/digest=$dc prefix rows/digest=$dp " +
      s"equal=${dc == dp}")
    spark.stop()
    sys.exit(0)
  }
}
