package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Throughput-mode benchmark producing numbers in the SAME UNITS as the
  * reference's published results (BASELINE.md: msg/s and MB/s, loopback
  * single-node) so the comparison is direct instead of inferred from
  * per-query seconds:
  *
  *   - `migrator`: broker→broker copy over the hand-rolled Kafka wire
  *     protocol (real TCP frames both sides, 1 KiB values) — the
  *     reference's headline 1,035,000 msg/s ≈ 1.0 GB/s
  *     (docs/benchmark-results/SUMMARY.md:9).
  *   - `scan_agg`: grouped decimal aggregation over the lineitem
  *     parquet (q1 shape) — rows/s and parquet-MB/s; the reference's
  *     row-at-a-time engine has no columnar analog, which is the point.
  *
  * Prints ONE JSON line like Bench. Knobs: SPARK_GRAFT_TPUT_MSGS
  * (default 2,000,000), SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  */
object ThroughputBench {
  def main(args: Array[String]): Unit = {
    val cpus = LocalSession.envCpus
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val msgs = sys.env.getOrElse("SPARK_GRAFT_TPUT_MSGS", "2000000").toInt
    val spark = LocalSession(cpus)

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // ── fixed reference kernel: a single-threaded FNV-1a pass over a
    // heap buffer (192 MB of byte mixes, min-of-3). The kernel is the
    // same work every run on every host, so its MB/s measures the BOX
    // at this moment — this host swings 2-8x on identical code within
    // hours (SCALE_NOTES r16), which defeats round-over-round reads of
    // the raw phase numbers. Each phase below re-measures the kernel
    // right before it runs and publishes phase:kernel ratios; compare
    // THOSE across rounds, not the raw per-second values. ─────────────
    def refKernelMbPerSec(): Double = graft.tools.RefKernel.mbPerSec()
    // all-cores contention guard (r18 finding: single-thread kernels
    // stayed "coherent" across a 25% wall gap on identical code) —
    // sampled at start and end, plus the 1-minute loadavg
    def loadAvg1m(): Double =
      try graft.tools.RefKernel.loadAvg().split(" ")(0).toDouble
      catch { case _: Exception => -1.0 }
    results("ref_kernel_par_mb_per_sec_start") =
      graft.tools.RefKernel.mbPerSecParallel()
    results("loadavg_1m_x100_start") = loadAvg1m() * 100
    // dimensionless normalization: phase metric per kernel MB/s —
    // stable across ambient swings that slow phase and kernel alike
    def ratio(metricKey: String, kernel: Double): Unit =
      results.get(metricKey).foreach { v =>
        results(s"${metricKey}_per_kernel") = v / kernel
      }

    // ── migrator: produce → wire-copy over real Kafka TCP frames ──────
    {
      import graft.sources.{Broker, KafkaWire, Migrator}
      val kernel = refKernelMbPerSec()
      results("ref_kernel_wire_mb_per_sec") = kernel
      // every copy task occupies TWO threads in this single-JVM
      // harness (its own client loop + the broker's per-connection
      // serving thread), so partitions are capped at cores/2:
      // full-width runs oversubscribe 2x and go bimodal (measured
      // 0.4-1.6 M msg/s across identical runs at 32 parts on 32 cores;
      // stable 1.27 M at 16). A real deployment's brokers are other
      // machines — there the cap is wrong, which is why it lives here
      // and not in Migrator.
      val nParts = math.min(cpus,
        math.max(1, Runtime.getRuntime.availableProcessors() / 2))
      val src = new KafkaWire.Server(maxFetchRecords = 10000)
      val dst = new KafkaWire.Server(maxFetchRecords = 10000)
      val srcAddr = s"kafka://127.0.0.1:${src.port}"
      val dstAddr = s"kafka://127.0.0.1:${dst.port}"
      try {
        Broker.transportFor(srcAddr).createTopic("bulk", nParts)
        val value = ("x" * 1024).getBytes("UTF-8") // 1 KiB, like the reference
        val perPart = msgs / nParts
        // UNTIMED warmup: produce + copy ~5% of the volume into
        // throwaway topics first. The copy loop is JIT-mode bimodal in
        // a fresh JVM (observed 0.2–1.6 M msg/s across runs of
        // IDENTICAL code, r15/r16) and the mode sticks for the JVM's
        // life — driving the encode/scan/CRC paths to steady state
        // BEFORE the timed phases measures the representative mode
        // instead of sampling a coin flip
        locally {
          // volume matters: a tiny warmup (msgs/20) JIT-compiled the
          // copy loop against a single-small-batch profile and the
          // timed phases inherited it — msgs/5 reproduces the timed
          // phase's multi-chunk shape per partition
          val warm = math.max(10000, msgs / 5)
          Broker.transportFor(srcAddr).createTopic("warmup", nParts)
          spark.sparkContext.parallelize(0 until nParts, nParts).foreach { p =>
            val t = Broker.transportFor(srcAddr)
            (0 until warm / nParts).grouped(10000).foreach { chunk =>
              t.append("warmup", p, chunk.map(i =>
                Broker.Record(s"k$i".getBytes, value, Map.empty, 1L + i)))
            }
          }
          val dstW = new KafkaWire.Server(maxFetchRecords = 10000)
          try {
            Migrator.migrate(spark, srcAddr,
              s"kafka://127.0.0.1:${dstW.port}", topics = Seq("warmup"),
              syncGroups = false, syncAcls = false, chunk = 10000)
            ()
          } finally {
            KafkaWire.dropClient(s"127.0.0.1:${dstW.port}")
            dstW.stop()
          }
        }
        val t0 = System.nanoTime()
        spark.sparkContext.parallelize(0 until nParts, nParts).foreach { p =>
          val t = Broker.transportFor(srcAddr)
          (0 until perPart).grouped(10000).foreach { chunk =>
            t.append("bulk", p, chunk.map(i =>
              Broker.Record(s"k$i".getBytes, value, Map.empty, 1L + i)))
          }
        }
        val produceSec = (System.nanoTime() - t0) / 1e9
        val total = (perPart * nParts).toLong
        results("produce_msgs_per_sec") = total / produceSec


        // best of 3 passes (same discipline as pg_decode below): the
        // copy loop is JIT/GC-mode bimodal in a fresh JVM — observed
        // 0.4-1.6 M msg/s across runs of IDENTICAL code — and the
        // steady-state mode is the representative one. Each pass
        // migrates into a FRESH destination broker.
        val migrateSec = (1 to 3).map { _ =>
          val dstN = new KafkaWire.Server(maxFetchRecords = 10000)
          val dstNAddr = s"kafka://127.0.0.1:${dstN.port}"
          try {
            val t1 = System.nanoTime()
            val report = Migrator.migrate(spark, srcAddr, dstNAddr,
              topics = Seq("bulk"), syncGroups = false, syncAcls = false,
              chunk = 10000)
            val sec = (System.nanoTime() - t1) / 1e9
            require(report.records == total,
              s"migrated ${report.records} of $total")
            sec
          } finally {
            KafkaWire.dropClient(s"127.0.0.1:${dstN.port}")
            dstN.stop()
          }
        }.min
        results("migrate_msgs_per_sec") = total / migrateSec
        results("migrate_mb_per_sec") = total * (value.length + 8) / 1e6 / migrateSec

        // transactional produce at the SAME volume/shape (AFTER the
        // migrate phase so the new code path cannot deopt the copy
        // loop's warm mode): per-partition txn sessions
        // (InitProducerId → AddPartitionsToTxn → batches → EndTxn
        // commit marker) — quantifies the marker/AddPartitions overhead
        // per chunk against the plain produce phase
        locally {
          val txnAddr = srcAddr + "?transactional_id=bench-txn"
          Broker.transportFor(srcAddr).createTopic("bulk_txn", nParts)
          val t1 = System.nanoTime()
          spark.sparkContext.parallelize(0 until nParts, nParts).foreach { p =>
            val t = Broker.transportFor(txnAddr)
            t.transactional("bulk_txn", p) {
              (0 until perPart).grouped(10000).foreach { chunk =>
                t.append("bulk_txn", p, chunk.map(i =>
                  Broker.Record(s"k$i".getBytes, value, Map.empty, 1L + i)))
              }
            }
          }
          val txnSec = (System.nanoTime() - t1) / 1e9
          results("produce_txn_msgs_per_sec") = total / txnSec
          ratio("produce_txn_msgs_per_sec", kernel)
        }
        ratio("produce_msgs_per_sec", kernel)
        ratio("migrate_msgs_per_sec", kernel)
      } finally {
        KafkaWire.dropClient(s"127.0.0.1:${src.port}")
        KafkaWire.dropClient(s"127.0.0.1:${dst.port}")
        src.stop(); dst.stop()
      }
    }

    // ── scan_agg: q1-shape grouped aggregation over lineitem ──────────
    // Two measurements, both with UNITS in the key (the r14 artifact's
    // bare "scan_parquet_mb_per_sec: 23" read absurd next to 1.28 M
    // rows/s — it was COMPRESSED bytes over a SINGLE-row-group file,
    // which also serializes the scan to one task):
    //   - scan over $SPARK_GRAFT_SF_DIR as-is (the driver's testdata is
    //     1 row group per table → bounded by one core),
    //   - scan over a multi-row-group copy (SPARK_GRAFT_SCAN_DIR,
    //     default /tmp/sf1 = ScaleGen's 2 MB-row-group output) where
    //     row groups are the scan-split unit and all cores engage —
    //     the shape a real table at 100 TB always has.
    def scanPhase(dir: String, prefix: String): Unit = {
      val li = Tables.lineitem(spark, dir)
      def agg(): DataFrame = li
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_base"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("cnt"))
      agg().collect() // warm: plan compile + file listing + code gen
      val rows = li.count()
      val bytes = {
        val p = new java.io.File(s"$dir/lineitem.parquet")
        if (p.isFile) p.length
        else Option(p.listFiles()).map(_.filter(_.isFile).map(_.length).sum)
          .getOrElse(0L)
      }
      val sec = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        agg().collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      results(s"${prefix}rows_per_sec") = rows / sec
      results(s"${prefix}compressed_mb_per_sec") = bytes / 1e6 / sec
    }
    locally {
      val kernel = refKernelMbPerSec()
      results("ref_kernel_scan_mb_per_sec") = kernel
      scanPhase(sfDir, "scan_")
      val scanDir = sys.env.getOrElse("SPARK_GRAFT_SCAN_DIR", "/tmp/sf1")
      if (new java.io.File(s"$scanDir/lineitem.parquet").exists())
        scanPhase(scanDir, "scan_multi_rowgroup_")
      ratio("scan_rows_per_sec", kernel)
      ratio("scan_multi_rowgroup_rows_per_sec", kernel)
    }

    // ── pg_decode: pgoutput WAL decode, one replication connection ────
    // Baseline analog: the reference's Postgres snapshot peaks at
    // 318,660 msg/s on 8 cores / 134,287 on 1 (BASELINE.md,
    // postgres.md:11-31; ~600 B rows). The DB side of that number is
    // Postgres itself; the ENGINE side is the logical-replication
    // decode, which like the reference runs one connection per slot —
    // measured here over a synthesized pgoutput stream in txns of 1000.
    {
      import graft.sources.PgOutput
      import graft.sources.PgOutput.Fixture._
      val kernel = refKernelMbPerSec()
      results("ref_kernel_pg_mb_per_sec") = kernel
      val rows = sys.env.getOrElse("SPARK_GRAFT_PG_ROWS", "1000000").toInt
      val payload = "x" * 560 // ~600 B text tuples, like the baseline corpus
      val relCols = Seq(
        (1, "id", PgOutput.OidInt8, -1),
        (0, "payload", PgOutput.OidText, -1))
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var lsn = 1000L
      def add(m: Array[Byte]): Unit = {
        frames += xlog(lsn, 1L, m); lsn += m.length
      }
      var i = 0
      while (i < rows) {
        val n = math.min(1000, rows - i)
        add(begin(i.toLong, 1L, i.toLong))
        if (i == 0) // RELATION rides inside the first txn, as pg sends it
          add(relation(9L, "public", "cart", 'd', relCols))
        var j = 0
        while (j < n) {
          add(insert(9L, Seq(VText((i + j).toString), VText(payload))))
          j += 1
        }
        add(commit(i.toLong, i.toLong, 1L))
        i += n
      }
      // 3 passes, best one: the earlier migrate phase leaves GC debt
      // that lands on whichever pass triggers the old-gen collection,
      // and the first pass pays JIT warmup
      System.gc()
      val sec = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        val changes = PgOutput.decodeChanges(frames)
        val s = (System.nanoTime() - t0) / 1e9
        require(changes.size == rows, s"decoded ${changes.size} of $rows")
        s
      }.min
      results("pg_decode_msgs_per_sec") = rows / sec
      results("pg_decode_mb_per_sec") =
        rows * (payload.length + 40).toDouble / 1e6 / sec
      ratio("pg_decode_msgs_per_sec", kernel)
    }

    results("ref_kernel_par_mb_per_sec_end") =
      graft.tools.RefKernel.mbPerSecParallel()
    results("loadavg_1m_x100_end") = loadAvg1m() * 100

    val json = results.map { case (k, v) => s""""$k":${f"$v%.0f"}""" }
      .mkString("{", ",", s""","msgs":$msgs,"sf":"$sfDir"}""")
    println(s"""{"metric":"throughput","unit":"per_sec","values":$json""" + "}")
    spark.stop()
    sys.exit(0)
  }
}
