package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** The near-dup miners' one census per corpus: the census persists a
  * shingle index that every pair plan reads, its readings memoize per
  * session, and the index is a staging table that [[Dedupe.releaseStaged]]
  * frees. Every corpus here is built in this spec, so no other spec's
  * memoized readings apply to it.
  */
class DedupeCensusSpec extends SparkSpec {

  import spark.implicits._

  private def pairs(df: DataFrame) =
    df.select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def words(seed: Int, n: Int, len: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(len)(s"w${rnd.nextInt(300)}").mkString(" "))
  }

  /** Distinct random texts plus a one-word variant of every fifth. */
  private def clean(seed: Int): DataFrame = {
    val base = words(seed, 240, 30)
    val variants = base.zipWithIndex.collect { case (t, i) if i % 5 == 0 =>
      t.substring(0, t.lastIndexOf(' ')) + " changed"
    }
    (base ++ variants).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  /** 1 400 docs sharing a 10-token boiler block (ratio ≈ 290 > 256);
    * docs 2g and 2g + 1 share their unique block too, one word apart.
    */
  private val boiler: DataFrame = {
    val block = (0 until 10).map(i => s"boil$i").mkString(" ")
    (0L until 1400L).map { i =>
      val uniq = (0 until 11).map(j => s"u${i / 2}w$j").mkString(" ")
      (i, uniq + (if (i % 2 == 1) s" tail$i" else "") + s" $block")
    }.toDF("doc_id", "text")
  }

  /** The clean corpus copied three times under new ids. */
  private def dupHeavy(seed: Int): DataFrame = {
    val base = clean(seed).as[(Long, String)].collect()
    (0 until 3).flatMap { rep =>
      base.map { case (id, t) => (id + rep * 1000000L, t) }
    }.toDF("doc_id", "text")
  }

  private val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private val allShort =
    Seq((1L, "a b"), (2L, "a b"), (3L, "c"), (4L, "d e")).toDF("doc_id", "text")

  private def reference(docs: DataFrame): Set[(Long, Long, Double)] =
    pairs(Dedupe.ngramJaccardPairsDirect(
      docs.select($"doc_id".as("id"), $"text".as("__txt")), "__txt", "id", 3, 0.35))

  private def censusOf(docs: DataFrame): Dedupe.Census =
    Dedupe.census(Dedupe.shingleIndex(docs, "text", "doc_id", 3))

  test("near-distinct corpus: the pair plan reads one cached index and " +
      "shingles nowhere else") {
    // from parquet: over an in-memory local relation the optimizer
    // folds the kernel into the relation at planning time
    val dir = java.nio.file.Files.createTempDirectory("census").resolve("docs").toString
    clean(1).write.parquet(dir)
    val q = Dedupe.ngramJaccardPairs(spark.read.parquet(dir), "text", "doc_id", 3, 0.35)
    val plan = q.queryExecution.optimizedPlan
    val cached = plan.collect { case r: InMemoryRelation => r.cacheBuilder }.distinct
    assert(cached.size == 1, s"expected one cached relation:\n$plan")
    assert(cached.head.cachedPlan.treeString.contains("graft_shingle_hashes"))
    assert(!plan.exists(_.expressions.exists(
      _.toString.contains("graft_shingle_hashes"))),
      s"the kernel is evaluated outside the cached index:\n$plan")
    assert(q.count() > 0)
    Dedupe.releaseStaged()
  }

  test("cached and staged plans == the uncached direct plan on five corpora") {
    val corpora = Seq(
      ("clean", clean(2), false, false),
      ("boilerplate-heavy", boiler, false, true),
      ("duplicate-heavy", dupHeavy(3), true, false),
      ("empty", empty, false, false),
      ("all shorter than the shingle", allShort, true, false))
    corpora.foreach { case (name, docs, staged, prefix) =>
      val c = censusOf(docs)
      assert((c.staged, c.prefix) == ((staged, prefix)), s"$name: $c")
      val got = pairs(Dedupe.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.35))
      val want = reference(docs)
      assert(got == want, s"$name: only-miner=${(got -- want).take(5)} " +
        s"only-reference=${(want -- got).take(5)}")
      if (name == "clean" || name == "duplicate-heavy" || name == "boilerplate-heavy")
        assert(got.nonEmpty, name)
      Dedupe.releaseStaged()
    }
  }

  test("the LSH miner's cached and staged plans == its uncached direct plan") {
    Seq("clean" -> clean(4), "duplicate-heavy" -> dupHeavy(5)).foreach { case (name, docs) =>
      val got = pairs(Dedupe.minhashLshPairs(docs, "text", "doc_id", 3, 16, 4, 0.35))
      val want = pairs(Dedupe.minhashLshPairsDirect(
        docs.select($"doc_id".as("id"), $"text".as("__txt")),
        "__txt", "id", 3, 16, 4, 0.35))
      assert(got == want, s"$name: only-cached=${(got -- want).take(5)} " +
        s"only-direct=${(want -- got).take(5)}")
      assert(got.nonEmpty, name)
      Dedupe.releaseStaged()
    }
  }

  test("releaseStaged frees the census index; a memo hit persists nothing") {
    val docs = clean(6)
    val index = Dedupe.shingleIndex(docs, "text", "doc_id", 3)
    val first = Dedupe.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.35)
    assert(index.storageLevel == StorageLevel.MEMORY_AND_DISK)
    val want = pairs(first)
    Dedupe.releaseStaged()
    assert(index.storageLevel == StorageLevel.NONE)

    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val again = Dedupe.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.35)
    assert(index.storageLevel == StorageLevel.NONE)
    assert(!again.queryExecution.optimizedPlan.exists(_.isInstanceOf[InMemoryRelation]))
    assert(pairs(again) == want)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)

    // a different shingle size is a different census
    Dedupe.ngramJaccardPairs(docs, "text", "doc_id", 2, 0.35)
    assert(Dedupe.shingleIndex(docs, "text", "doc_id", 2).storageLevel ==
      StorageLevel.MEMORY_AND_DISK)
    Dedupe.releaseStaged()
  }

  test("each session drains only its own staging tables") {
    val other = spark.newSession()
    val docs = clean(7)
    val index = Dedupe.shingleIndex(docs, "text", "doc_id", 3)
    Dedupe.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.35)
    assert(index.storageLevel == StorageLevel.MEMORY_AND_DISK)
    Dedupe.releaseStaged(other)
    assert(index.storageLevel == StorageLevel.MEMORY_AND_DISK)
    Dedupe.releaseStaged(spark)
    assert(index.storageLevel == StorageLevel.NONE)
  }
}
