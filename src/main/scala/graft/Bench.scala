package graft
import scala.jdk.CollectionConverters._

import graft.operators.Observe

/** Benchmark main — one JSON line with per-query wall seconds.
  *
  * Every query is fully MATERIALIZED through a `noop`-format write (the
  * datasource evaluates and discards each row), not `.count()`: under a
  * count, Catalyst prunes unreferenced projections and EliminateSorts
  * drops orderings, so map-heavy queries would time little more than the
  * parquet scan.
  *
  * Each query's wall is split by layer from one [[Observe.Execution]]
  * listener over the timed region: `build_s` is the wall of `fn` (frame
  * and fixture construction, eager fixture jobs included); within the
  * noop write, `analysis_ms` / `optimization_ms` / `planning_ms` are the
  * Catalyst phases and `exec_s` the busy wall of its jobs; `residue_s`
  * (wall − build − phases − exec) is codegen, scheduling and commit.
  * `jobs`, `stages`, `tasks`, `shuffle_bytes` (read + write) and
  * `spill_bytes` count the whole region.
  */
object Bench {
  /** The close protocol's cpu count: only a run at this width writes the
    * canonical `BENCH_FULL.json`; any other writes `BENCH_FULL_c<cpus>`.
    */
  val CloseCpus = 32

  /** One attempt of one query: its wall and the listener's split. */
  private final case class Attempt(sec: Double, buildSec: Double,
                                   all: Observe.Execution.Reading,
                                   action: Observe.Execution.Reading) {
    def json: String = {
      def f(v: Double) = f"$v%.3f"
      val phases = Observe.Execution.Phases.map(p =>
        s""""${p}_ms":${action.phaseMs(p)}""").mkString(",")
      val exec = action.busyMs / 1e3
      val residue = sec - buildSec - action.phasesMs / 1e3 - exec
      s"""{"sec":${f(sec)},"build_s":${f(buildSec)},$phases,""" +
        s""""exec_s":${f(exec)},"residue_s":${f(residue)},""" +
        s""""jobs":${all.jobs},"stages":${all.stages},"tasks":${all.tasks},""" +
        s""""shuffle_bytes":${all.shuffleBytes},"spill_bytes":${all.spillBytes}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    // query name → first failure message across passes (see failedJson)
    val failedQueries =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.envCpus
    val spark = LocalSession(cpus)
    // fixed name order: per-query numbers are comparable across rounds
    // (hash-map order would shuffle which query absorbs JVM/codegen
    // warmup), and a cheap scan-only warmup pass soaks up session
    // startup so the first measured query isn't penalized
    try {
      Tables.documents(spark, sfDir).write.format("noop")
        .mode("overwrite").save()
      // absorb one-time expression-class/codegen init (hash/encode and
      // the exchange+sort machinery cost ~3 s on their first execution
      // in a fresh JVM — session setup, not query throughput)
      import spark.implicits._
      val tiny = Seq((1L, "ab"), (2L, "cd")).toDF("doc_id", "text")
      graft.blobl.Blobl.mappingTyped(tiny.orderBy("doc_id"),
        """root.doc_id = this.doc_id
          |root.h = this.text.hash("md5").encode("hex")
          |root.s = this.text.hash("sha256").encode("base64")
          |""".stripMargin).write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // SPARK_GRAFT_ONLY=q1,q2 limits the run while iterating locally
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // each query runs SPARK_GRAFT_RUNS times (default 2) and reports the
    // MIN: one-off GC pauses / JIT deopts / page-cache misses inflated
    // single-shot numbers up to 3× run-to-run on identical code (round-4
    // driver 377s vs judge 126s), which buried real regressions.
    //
    // The runs are ROUND-ROBIN PASSES over the whole suite, not
    // back-to-back attempts: round-6 showed a ~20 s interference window
    // (external CPU competitor / GC storm) inflating an alphabetically
    // CONTIGUOUS block of queries 4-9× in-suite while the same code
    // measured clean in isolation — back-to-back attempts both sat
    // inside the window, so min() couldn't reject it. With passes, the
    // same query's attempts are separated by the full suite duration
    // and a transient can poison at most one of them.
    //
    // Default 3 passes (round-9 lesson): with 2, the iterative/
    // codegen-heavy queries can land their JIT warm-up in pass 1 AND a
    // machine-load transient in pass 2 — the min then overstates
    // steady-state up to 2× (t_dedup_clusters 7.8 s reported vs 3.5 s
    // warm). Pass 1 effectively serves as the discarded warm-up.
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt)
    // host-drift guard: sample the fixed reference kernel before and
    // after the sweep (SCALE_NOTES r16/r17 — this box swings 2-8x on
    // identical code). Readings ride the artifact so a cross-round
    // compare can reject runs whose kernels disagree.
    val kernelStart = graft.tools.RefKernel.mbPerSec()
    // the single-thread kernel is blind to multi-core contention (r18:
    // 25% wall gap on identical code at coherent kernels) — sample an
    // all-cores variant + /proc/loadavg alongside
    val kernelParStart = graft.tools.RefKernel.mbPerSecParallel()
    val loadStart = graft.tools.RefKernel.loadAvg()
    val passes = (1 to runs).map { pass =>
      selected.map { case (name, fn) =>
        // each attempt is an independent measurement: drop cached plans
        // and let the ContextCleaner reap the previous query's
        // broadcasts / checkpoint RDDs — without this, ~90 queries of
        // accumulated driver state inflate late-suite timings 10-30×
        // (GC thrash), which measures JVM residue, not the query
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        graft.operators.Dedupe.releaseStaged() // drain the staging FIFO too
        System.gc()
        val e = new Observe.Execution()
        val (sec, buildSec) = e.around(spark) {
          val t0 = System.nanoTime()
          var t1 = -1L
          var ok = true
          try {
            val df = fn(spark, sfDir)
            t1 = System.nanoTime()
            e.markAction()
            df.write.format("noop").mode("overwrite").save()
          } catch { case err: Throwable =>
            ok = false
            failedQueries.putIfAbsent(name,
              Option(err.getMessage).getOrElse(err.getClass.getName).take(200))
            System.err.println(s"[bench] $name failed: ${err.getMessage}")
          }
          val t2 = System.nanoTime()
          val sec = (t2 - t0) / 1e9
          System.err.println(f"[bench] pass $pass $name ${sec}%.3f" +
            (if (ok) "" else " FAILED"))
          (sec, ((if (t1 < 0) t2 else t1) - t0) / 1e9)
        }
        name -> Attempt(sec, buildSec, e.reading, e.actionReading)
      }
    }
    val byPass = passes.map(_.toMap)
    val attempts = selected.map { case (name, _) =>
      name -> byPass.map(_(name)).minBy(_.sec)
    }
    val results = attempts.map { case (name, a) => name -> a.sec }
    val kernelEnd = graft.tools.RefKernel.mbPerSec()
    val kernelParEnd = graft.tools.RefKernel.mbPerSecParallel()
    val loadEnd = graft.tools.RefKernel.loadAvg()
    def fmt(v: Double): String = f"$v%.3f"
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // dimensionless normalized total: seconds × (kernel MB/s ÷ 1000) —
    // a run on a half-speed box reads ~the same normalized value.
    // Trust it only when start/end kernels agree within ~20%.
    val kernelAvg = (kernelStart + kernelEnd) / 2.0
    val totalNorm = total * kernelAvg / 1000.0
    val (maxName, maxSec) =
      if (results.nonEmpty) results.maxBy(_._2) else ("", 0.0)
    // self-describing env block (round-12 lesson: a 4.8× cross-harness
    // divergence on one query was undiagnosable from the artifact
    // alone) — split sizing, AQE state, and the PHYSICAL row-group
    // layout of every input table, since row groups are the atomic
    // scan-split unit and a one-row-group file serializes its scan no
    // matter what maxPartitionBytes says
    val envJson = {
      def conf(k: String): String =
        try spark.conf.get(k) catch { case _: Exception => "?" }
      val rowGroups = {
        import scala.jdk.CollectionConverters._
        val dir = java.nio.file.Paths.get(sfDir)
        val tables =
          if (java.nio.file.Files.isDirectory(dir))
            java.nio.file.Files.list(dir).iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
          else Seq.empty
        tables.sortBy(_.toString).map { t =>
          val parts =
            if (java.nio.file.Files.isDirectory(t))
              java.nio.file.Files.list(t).iterator().asScala
                .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
            else Seq(t)
          val n = parts.map { f =>
            try {
              val in = org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(new org.apache.hadoop.fs.Path(f.toString),
                  spark.sparkContext.hadoopConfiguration)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try r.getFooter.getBlocks.size finally r.close()
            } catch { case _: Exception => 0 }
          }.sum
          val name = t.getFileName.toString.stripSuffix(".parquet")
          s""""$name":$n"""
        }.mkString("{", ",", "}")
      }
      s""""env":{"cpus":$cpus,""" +
        s""""max_partition_bytes":"${conf("spark.sql.files.maxPartitionBytes")}",""" +
        s""""open_cost_bytes":"${conf("spark.sql.files.openCostInBytes")}",""" +
        s""""min_partition_size":"${conf("spark.sql.adaptive.coalescePartitions.minPartitionSize")}",""" +
        s""""aqe":${conf("spark.sql.adaptive.enabled")},""" +
        s""""shuffle_partitions":"${conf("spark.sql.shuffle.partitions")}",""" +
        s""""row_groups":$rowGroups}"""
    }
    // a failed query's short wall is NOT a measurement (r17: a
    // misconfigured local-cluster run read as a 17x "speedup" because
    // every task failed fast) — the artifact must carry the failures so
    // no parser can mistake a broken run for a fast one
    val failedJson =
      if (failedQueries.isEmpty) ""
      else failedQueries.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) =>
          "\"" + k + "\":\"" + v.replace("\\", "\\\\")
            .replace("\"", "\\\"").replaceAll("[\\n\\r\\t]", " ") + "\""
        }.mkString(""""failed":{""", ",", "},")
    val extra =
      s"""$failedJson"max_query":"$maxName","max_sec":${fmt(maxSec)},""" +
        s""""runs":$runs,"n_queries":${results.size},""" +
        s""""kernel_mb_per_sec":{"start":${fmt(kernelStart)},""" +
        s""""end":${fmt(kernelEnd)}},""" +
        s""""kernel_par_mb_per_sec":{"start":${fmt(kernelParStart)},""" +
        s""""end":${fmt(kernelParEnd)}},""" +
        s""""loadavg":{"start":"$loadStart","end":"$loadEnd"},""" +
        s""""total_kernel_normalized":${fmt(totalNorm)}"""
    // full per-query detail first (humans / logs) …
    val qs = attempts.map { case (k, a) => "\"" + k + "\":" + a.json }
      .mkString("{", ",", "}")
    // env rides on the FULL artifact only — the tail headline line must
    // stay inside the driver's bounded stdout window
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$extra,$envJson,"queries":$qs,"sf":"$sfDir"}"""
    println(fullJson)
    // … and as a FILE artifact with every per-query row: the driver's
    // stdout-tail parse is capped under ~1900 chars, which truncates the
    // full map to a dozen entries — the file is the complete record
    // a SPARK_GRAFT_ONLY-filtered run must not clobber the full-sweep
    // artifact with a partial query map, nor a run at another width the
    // close artifact (an 8-cpu scaling pass once overwrote the 32-cpu
    // BENCH_FULL)
    val outFile = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (only.nonEmpty) None
        else Some(if (cpus == CloseCpus) "BENCH_FULL.json"
          else s"BENCH_FULL_c$cpus.json"))
    outFile.foreach { f =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(f),
        (fullJson + "\n").getBytes("UTF-8"))
      catch { case e: Exception =>
        System.err.println(s"[bench] could not write $f: ${e.getMessage}")
      }
    }
    // … then a compact headline line LAST: the driver parses the tail of
    // stdout (a bounded window), so the final line must stay well under
    // that window even though the full map above does not
    val headline = Set(
      "q1_pricing_summary", "q3_segment_revenue", "q6_window_rank",
      "q10_events_hourly", "q11_asof_join", "t_dedupe_exact",
      "t_minhash_lsh", "s_cosine_topk", "p_mapping", "p_compress",
      "p_msgpack", "t_dedup_clusters")
    val hq = results.filter(r => headline(r._1))
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$extra,"queries":$hq,"sf":"$sfDir"}""")
    spark.stop()
    // hard exit — see Verify: leaked non-daemon threads must not pin
    // the forked JVM after the measurement completes
    sys.exit(0)
  }
}
