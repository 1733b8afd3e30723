package pipebench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run reports. `e2e` holds the end-to-end metrics of
  * an untraced run, `layers` the per-layer metrics of a traced run;
  * `info` is printed as run-health context, never gated.
  */
final case class Outcome(verdict: Check.Verdict, e2e: Map[String, Double],
                         layers: Map[String, Double], info: Map[String, String])

/** Run settings shared by the workloads; `bootS` is the time from JVM
  * start to the benchmark's entry point.
  */
final case class Ctx(seed: Long, seconds: Int, trace: Boolean, work: Path,
                     cores: Int, bootS: Double) {
  /** Topic partitions: each fetch task also ties up one broker serving
    * thread in this single JVM, so partitions stay at cores / 2.
    */
  def partitions: Int = math.max(1, cores / 2)
}

object Session {

  /** A local Spark session whose warehouse and checkpoints live under
    * the run's work directory (run.sh points Spark's scratch there too).
    */
  def start(ctx: Ctx, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", ctx.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        ctx.work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 5

  /** What [[setUp]] measured: each set-up's seconds, and the cold one,
    * JVM start to the first plan ready (the first set-up plus the JVM's
    * boot before the benchmark's entry point).
    */
  final case class SetUp(session: SparkSession, each: Seq[Double], coldS: Double) {
    def medianS: Double = Stats.median(each)
  }

  /** Set up [[SetupReps]] times: each time a fresh session and the
    * workload's first plan. `prepare` runs once, in the first session
    * before its plan, to write inputs that need a session; its time
    * counts in no set-up. Keeps the last session.
    */
  def setUp(ctx: Ctx, prepare: SparkSession => Unit = _ => ())
           (plan: SparkSession => Unit): SetUp = {
    var last: SparkSession = null
    val secs = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val s = start(ctx, ctx.cores)
      val prepMs = if (i == 1) Clock.ms(prepare(s))._2 else 0.0
      plan(s)
      val dt = (System.nanoTime() - t0) / 1e9 - prepMs / 1000.0
      if (i < SetupReps) stop(s) else last = s
      dt
    }
    Clock.log("set-up: " + secs.map(s => f"$s%.2fs").mkString(" "))
    SetUp(last, secs, ctx.bootS + secs.head)
  }
}

object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "stream_tail" -> StreamTail.run,
    "dedup_corpus" -> DedupCorpus.run)

  /** The metrics BENCHMARK.json declares, in order, as (name, unit):
    * its `end_to_end` and its `per_layer` lists.
    */
  def declared(benchmarkJson: Path): (Seq[(String, String)], Seq[(String, String)]) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(benchmarkJson.toFile)
    def list(key: String): Seq[(String, String)] = {
      val node = root.get(key)
      require(node != null && node.isArray, s"$benchmarkJson has no $key list")
      (0 until node.size).map(i =>
        node.get(i).get("name").asText -> node.get(i).get("unit").asText)
    }
    (list("end_to_end"), list("per_layer"))
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"pipebench: $msg\n" +
      "usage: --workload <" + Workloads.keys.toSeq.sorted.mkString("|") +
      "> --seed <n> --seconds <n> --trace <0|1>")
    sys.exit(2)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric is $v")
    else java.math.BigDecimal.valueOf(v).toPlainString

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val bootS = Clock.sinceJvmStartS
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    val workload = kv.getOrElse("workload", usage("--workload is required"))
    val runner = Workloads.getOrElse(workload, usage(s"unknown workload $workload"))
    val seed = kv.get("seed").flatMap(_.toLongOption).getOrElse(usage("--seed <n>"))
    val seconds = kv.get("seconds").flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(usage("--seconds <n>"))
    val trace = kv.getOrElse("trace", "0") match {
      case "0" => false
      case "1" => true
      case other => usage(s"--trace must be 0 or 1, got $other")
    }
    val home = Paths.get(sys.props.getOrElse("pipebench.home", "pipebench"))
    val (endToEnd, perLayer) = declared(home.resolve("..").resolve("BENCHMARK.json"))
    val work = home.resolve(".work")
      .resolve(s"$workload-$seed-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val ctx = Ctx(seed, seconds, trace, work,
      Runtime.getRuntime.availableProcessors(), bootS)

    // run health, not gated: a reference kernel and the load average at
    // both ends, so a run on a disturbed host can be spotted
    val kernelStart = graft.tools.RefKernel.mbPerSec()
    val loadStart = Jvm.loadAvg1m()
    Clock.log(s"$workload seed $seed: start")
    val out = runner(ctx)
    Clock.log(s"$workload seed $seed: done")
    val kernelEnd = graft.tools.RefKernel.mbPerSec()
    val loadEnd = Jvm.loadAvg1m()
    deleteTree(work)

    val health = Map(
      "ref_kernel_mb_per_s_start" -> num(kernelStart),
      "ref_kernel_mb_per_s_end" -> num(kernelEnd),
      "loadavg_1m_start" -> num(loadStart),
      "loadavg_1m_end" -> num(loadEnd),
      "cores" -> ctx.cores.toString,
      "failed_frac" -> num(out.verdict.failed.toDouble /
        math.max(1L, out.verdict.attempted)),
      "wrong" -> out.verdict.wrong.toString,
      "missing" -> out.verdict.missing.toString,
      "duplicated" -> out.verdict.duplicated.toString)
    val infoJson = (health.toSeq.map { case (k, v) => s"${jsonStr(k)}:$v" } ++
      out.info.toSeq.sortBy(_._1).map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" })
      .mkString("{", ",", "}")
    println(s"""{"workload":${jsonStr(workload)},"seed":$seed,"info":$infoJson}""")

    val (wanted, values) =
      if (trace) (perLayer, out.layers) else (endToEnd, out.e2e)
    val undeclared = values.keySet -- wanted.map(_._1)
    require(undeclared.isEmpty, s"$workload reported undeclared metrics $undeclared")
    val metrics = wanted.map { case (name, unit) =>
      // a layer this workload does not exercise did no work: 0
      val v = values.getOrElse(name, if (trace) 0.0 else
        throw new IllegalStateException(s"$workload did not report $name"))
      s"""${jsonStr(name)}:{"value":${num(v)},"unit":${jsonStr(unit)}}"""
    }.mkString("{", ",", "}")
    val correct = out.verdict.failed == 0
    println(s"""{"correct":$correct,"attempted":${out.verdict.attempted},""" +
      s""""failed":${out.verdict.failed},"metrics":$metrics}""")
    System.out.flush()
    if (!correct)
      System.err.println(s"pipebench: $workload delivered ${out.verdict.failed} " +
        s"wrong, missing or duplicated outputs of ${out.verdict.attempted}")
    // Spark and broker threads are daemons or already stopped; exit
    // explicitly so no lingering non-daemon thread keeps the JVM alive
    sys.exit(if (correct) 0 else 1)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
