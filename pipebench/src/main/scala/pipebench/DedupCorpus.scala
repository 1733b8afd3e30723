package pipebench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedupe

/** `dedup_corpus`: closed loop. Each pass reads the seeded corpus from
  * parquet, drops exact duplicates, mines near-duplicate pairs, resolves
  * clusters and keeps one document per cluster.
  */
object DedupCorpus {

  val Shape = Gen.CorpusShape(docs = 2500, minWords = 60, maxWords = 140,
    clusterFrac = 0.15, maxClusterSize = 5, editFrac = 0.04,
    exactCopyFrac = 0.2, boilerFrac = 0.3, boilerWords = 12)
  val ShingleN = 3
  val Threshold = 0.5

  /** The pipeline under test, from parquet to the kept documents. */
  final case class Pass(pairs: DataFrame, kept: DataFrame)

  def pass(spark: SparkSession, path: Path): Pass = {
    val docs = spark.read.parquet(path.toString)
    val exact = Dedupe.exact(docs, "text", "id")
    val survivors = docs.join(exact.select(col("keep_id").as("id")), "id")
    val pairs = Dedupe.ngramJaccardPairs(survivors, "text", "id", ShingleN, Threshold)
    Pass(pairs, Dedupe.dedupCorpus(survivors, "id", pairs))
  }

  /** A fresh path for the same parquet files: each pass plans against a
    * corpus the session has not seen, as a new corpus would be.
    */
  private def linkCopy(src: Path, dst: Path): Path = {
    Files.createDirectories(dst)
    val s = Files.list(src)
    try s.forEach(f => Files.createLink(dst.resolve(f.getFileName), f))
    finally s.close()
    dst
  }

  def run(ctx: Ctx): Outcome = {
    val corpus = Gen.corpus(ctx.seed, Shape)
    val want = Reference.dedup(corpus.toSeq, ShingleN, Threshold)
    val expectedKept = want.kept.map(id => id.toString -> "kept").toMap
    val expectedPairs = want.pairs.map { case ((a, b), j) => s"$a,$b" -> j.toString }
    val src = ctx.work.resolve("corpus")
    var copies = 0
    def fresh(): Path = { copies += 1; linkCopy(src, ctx.work.resolve(s"corpus_$copies")) }

    def checkKept(kept: Seq[Long]): Check.Verdict =
      Check.compare(expectedKept, kept.map(id => id.toString -> "kept"))
        .copy(attempted = corpus.length.toLong)
    def checkPairs(pairs: DataFrame): Check.Verdict =
      Check.compare(expectedPairs, pairs.collect().toSeq.map(r =>
        s"${r.getLong(0)},${r.getLong(1)}" -> r.getDouble(2).toString))
    def keptIds(p: Pass): Seq[Long] = p.kept.select("id").collect().map(_.getLong(0)).toSeq

    // writing the input needs a session; its time is no set-up's
    val setup = Session.setUp(ctx, prepare = { s =>
      import s.implicits._
      corpus.toSeq.map(d => (d.id, d.text)).toDF("id", "text")
        .coalesce(1).write.parquet(src.toString)
    }) { s =>
      val docs = s.read.parquet(fresh().toString)
      Dedupe.exact(docs, "text", "id").queryExecution.executedPlan
      ()
    }
    val spark = setup.session
    var verdict = Check.Empty
    // pairs are checked once, on a pass the loop does not time
    locally {
      val p = pass(spark, fresh())
      verdict += checkPairs(p.pairs)
      verdict += checkKept(keptIds(p))
      Dedupe.releaseStaged()
    }
    if (ctx.trace) {
      val (layers, v, labels) = traced(ctx, spark, corpus, fresh, checkKept, keptIds)
      Session.stop(spark)
      Outcome(verdict + v, Map.empty, layers + ("setup.cold_s" -> setup.coldS), labels)
    } else {
      val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
      var spentMs = 0.0
      while (spentMs < ctx.seconds * 1000.0 || walls.size < 3) {
        val path = fresh()
        val (ids, ms) = Clock.ms {
          val ids = keptIds(pass(spark, path))
          Dedupe.releaseStaged()
          ids
        }
        verdict += checkKept(ids)
        walls += ms
        spentMs += ms
      }
      Session.stop(spark)
      val (q, tailMs) = Stats.tail(walls.toSeq)
      Outcome(verdict, Map(
        "setup_s" -> setup.medianS,
        "msgs_per_s" -> corpus.length / (Stats.median(walls.toSeq) / 1000.0),
        "latency_p50_ms" -> Stats.median(walls.toSeq),
        "peak_rss_mb" -> Jvm.peakRssMb()), Map.empty, Map(
        "latency_tail_ms" -> f"$tailMs%.1f",
        "runs" -> walls.size.toString,
        "docs" -> corpus.length.toString,
        "expected_pairs" -> want.pairs.size.toString,
        "expected_kept" -> want.kept.size.toString,
        "latency" -> "wall of one dedup pass",
        "latency_tail" -> (if (q >= 1.0) s"max of ${walls.size}" else s"p${q * 100} of ${walls.size}"),
        "setup_s_each" -> setup.each.map(s => f"$s%.3f").mkString(" "),
        "setup_cold_s" -> f"${setup.coldS}%.3f"))
    }
  }

  /** The plan the miner chose for `pairs`: (staged, prefix). The
    * exact-dup collapse persists tables keyed by a text fingerprint
    * (`__fp`); the prefix filter ranks shingles with a window. (The
    * miner's input may be cached too, so a cached relation alone says
    * nothing.)
    */
  private def planOf(pairs: DataFrame): (Boolean, Boolean) = {
    val plan = pairs.queryExecution.optimizedPlan
    val staged = plan.exists {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cacheBuilder.cachedPlan.treeString.contains("__fp")
      case _ => false
    }
    (staged, plan.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window]))
  }

  /** Each stage's public call timed by itself over cached inputs, then
    * the full pass; residue = full − Σ stages.
    */
  private def traced(ctx: Ctx, spark: SparkSession, corpus: Array[Gen.Doc],
                     fresh: () => Path,
                     checkKept: Seq[Long] => Check.Verdict,
                     keptIds: Pass => Seq[Long])
      : (Map[String, Double], Check.Verdict, Map[String, String]) = {
    val spans = new Spans
    val m = scala.collection.mutable.Map.empty[String, Double]
    var verdict = Check.Empty
    val gc0 = Jvm.gcMs()
    Jvm.resetHeapPeak()

    val docs = spark.read.parquet(fresh().toString).persist(StorageLevel.MEMORY_ONLY)
    docs.count()
    val survivors = spans.span("dedupe.exact") {
      val s = docs.join(Dedupe.exact(docs, "text", "id").select(col("keep_id").as("id")), "id")
      m("dedupe.exact_ms") = Clock.ms(s.write.format("noop").mode("overwrite").save())._2
      val c = s.persist(StorageLevel.MEMORY_ONLY)
      c.count()
      c
    }._1
    // the miner's eager statistics jobs run inside this call
    val ((pairs, jobs), buildMs) = spans.span("dedupe.build") {
      SparkCounters.jobsOf(spark)(
        Dedupe.ngramJaccardPairs(survivors, "text", "id", ShingleN, Threshold))
    }
    m("dedupe.build_ms") = buildMs
    m("dedupe.build_jobs") = jobs.toDouble
    val (staged, prefix) = planOf(pairs)
    m("dedupe.plan_staged") = if (staged) 1.0 else 0.0
    m("dedupe.plan_prefix") = if (prefix) 1.0 else 0.0
    val cachedPairs = spans.span("dedupe.pairs") {
      val c = pairs.persist(StorageLevel.MEMORY_ONLY)
      val (n, ms) = Clock.ms(c.count())
      m("dedupe.pairs_ms") = ms
      m("dedupe.pairs") = n.toDouble
      c
    }._1
    spans.span("dedupe.clusters") {
      m("dedupe.clusters_ms") = Clock.ms(Dedupe.resolveClusters(cachedPairs).collect())._2
    }
    val (kept, keepMs) = spans.span("dedupe.keep") {
      Dedupe.dedupCorpus(survivors, "id", cachedPairs).select("id").collect().map(_.getLong(0)).toSeq
    }
    verdict += checkKept(kept)
    m("dedupe.kept_docs") = kept.size.toDouble
    Seq(docs, survivors, cachedPairs).foreach(_.unpersist())
    Dedupe.releaseStaged()

    // The exact-dup pass leaves the miner no byte-identical texts, so
    // its census always picks the direct plan above. The probe gives it
    // the survivors plus byte-identical copies of a quarter of them
    // (new ids): a fifth of its input is duplicate mass, so the census
    // picks the staged (exact-dup collapse) plan, checked like the other.
    val (probeStaged, probePrefix) = spans.span("dedupe.dup_probe") {
      val base = Reference.exactSurvivors(corpus.toSeq)
      val probeDocs = base ++ base.filter(_.id % 4 == 0)
        .map(d => d.copy(id = d.id + corpus.length))
      val want = Reference.pairs(probeDocs, ShingleN, Threshold)
        .map { case ((a, b), j) => s"$a,$b" -> j.toString }
      import spark.implicits._
      val probe = probeDocs.map(d => (d.id, d.text)).toDF("id", "text")
        .persist(StorageLevel.MEMORY_ONLY)
      probe.count()
      val ((probePairs, jobs), ms) = Clock.ms(SparkCounters.jobsOf(spark)(
        Dedupe.ngramJaccardPairs(probe, "text", "id", ShingleN, Threshold)))
      m("dedupe.dup_probe.build_ms") = ms
      m("dedupe.dup_probe.build_jobs") = jobs.toDouble
      val plan = planOf(probePairs)
      val (rows, pairsMs) = Clock.ms(probePairs.collect().toSeq)
      m("dedupe.dup_probe.pairs_ms") = pairsMs
      m("dedupe.dup_probe.pairs") = rows.size.toDouble
      verdict += Check.compare(want, rows.map(r =>
        s"${r.getLong(0)},${r.getLong(1)}" -> r.getDouble(2).toString))
      probe.unpersist()
      Dedupe.releaseStaged()
      plan
    }._1
    m("dedupe.dup_probe.plan_staged") = if (probeStaged) 1.0 else 0.0

    spans.span("full") {
      val untraced = Stats.median((1 to 3).map { _ =>
        val path = fresh()
        val (ids, ms) = Clock.ms { val i = keptIds(pass(spark, path)); Dedupe.releaseStaged(); i }
        verdict += checkKept(ids)
        ms
      })
      val counted = (1 to 3).map { _ =>
        val path = fresh()
        val ((ids, ms), counters) = SparkCounters.around(spark)(
          Clock.ms { val i = keptIds(pass(spark, path)); Dedupe.releaseStaged(); i })
        verdict += checkKept(ids)
        (ms, counters)
      }
      counted.last._2.foreach { case (k, v) => m(k) = v }
      val lastPass = pass(spark, fresh())
      lastPass.kept.queryExecution.executedPlan
      val phases = lastPass.kept.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        m(s"spark.${p}_ms") = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      }
      Dedupe.releaseStaged()
      m("layers.full_ms") = untraced
      m("trace.overhead_ms") = Stats.median(counted.map(_._1)) - untraced
      // the stages above ran over cached inputs, so the full pass's own
      // parquet scan and the joins between stages land in the residue
      m("layers.residue_ms") = untraced - (m("dedupe.exact_ms") + buildMs +
        m("dedupe.pairs_ms") + m("dedupe.clusters_ms") + keepMs)
    }
    m("jvm.gc_ms") = Jvm.gcMs() - gc0
    m("jvm.heap_peak_mb") = Jvm.heapPeakMb()
    spans.write(ctx.work.getParent.resolve("traces").resolve(s"dedup_corpus-${ctx.seed}.jsonl"),
      s"dedup_corpus-${ctx.seed}")
    def label(staged: Boolean, prefix: Boolean): String =
      (if (staged) "staged" else "direct") + "+" + (if (prefix) "prefix" else "count")
    (m.toMap, verdict, Map("dedupe.plan" -> label(staged, prefix),
      "dedupe.dup_probe.plan" -> label(probeStaged, probePrefix)))
  }
}
