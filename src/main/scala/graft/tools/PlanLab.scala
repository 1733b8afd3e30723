package graft.tools

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.operators.Observe

/** Dev harness: time one or more SparkEntry queries (or print a plan)
  * outside the full Bench loop.
  *
  * Usage: runMain graft.tools.PlanLab [explain] <queryName> [queryName…]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default:
  * every processor of the host).
  */
object PlanLab {
  // per-stage wall/io/spill on stderr — the question a slow rung always
  // asks is WHICH exchange/sort is the time, and whether it spilled;
  // task-level metrics are the only honest answer local mode offers (no
  // UI, no event log)
  private def stageLine(i: StageInfo): String = {
    val m = i.taskMetrics
    f"[stage ${i.stageId}%3d] ${
      (i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)) / 1e3
    }%7.1f s  tasks=${i.numTasks}%4d  input=${
      m.inputMetrics.bytesRead / 1e6}%8.0f MB  shufR=${
      m.shuffleReadMetrics.totalBytesRead / 1e6}%8.0f MB  shufW=${
      m.shuffleWriteMetrics.bytesWritten / 1e6}%8.0f MB  spillMem=${
      m.memoryBytesSpilled / 1e6}%8.0f MB  spillDisk=${
      m.diskBytesSpilled / 1e6}%8.0f MB  gc=${
      m.jvmGCTime / 1e3}%6.1f s  ${i.name.takeWhile(_ != '\n').take(60)}"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession()
    val (explain, names) =
      if (args.headOption.contains("explain")) (true, args.tail) else (false, args)
    names.foreach { name =>
      new Observe.Execution(onStage = i => Console.err.println(stageLine(i)))
        .around(spark) {
          val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
          if (explain) {
            println(s"=== $name ==="); df.explain("formatted")
          } else {
            val t0 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
          }
        }
    }
    spark.stop()
  }
}
