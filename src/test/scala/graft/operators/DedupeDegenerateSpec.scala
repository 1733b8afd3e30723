package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The near-dup miners and cluster resolution on degenerate but legal
  * inputs, and the staged miner's output through both regimes of
  * [[Dedupe.resolveClusters]].
  */
class DedupeDegenerateSpec extends SparkSpec {

  import spark.implicits._

  private def miners(docs: DataFrame): Seq[(String, DataFrame)] = Seq(
    "ngram" -> Dedupe.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.35),
    "minhash" -> Dedupe.minhashLshPairs(docs, "text", "doc_id", 3, 16, 4, 0.35))

  test("empty corpus: both miners return empty frames") {
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    miners(docs).foreach { case (name, pairs) =>
      assert(pairs.count() == 0, name)
    }
  }

  test("every doc shorter than shingleN: both miners return empty frames") {
    // near-distinct (direct plan) and duplicate-heavy (staged plan)
    val distinct = Seq((1L, "a b"), (2L, "c d"), (3L, "e")).toDF("doc_id", "text")
    val dupHeavy = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "c"))
      .toDF("doc_id", "text")
    Seq("distinct" -> distinct, "dup-heavy" -> dupHeavy).foreach { case (shape, docs) =>
      miners(docs).foreach { case (name, pairs) =>
        assert(pairs.count() == 0, s"$name on $shape")
      }
    }
  }

  test("staged miner output: contraction labels == union-find labels") {
    // 200 random texts plus a one-word variant of every fourth, each
    // copied three times: byte-identical mass (staged plan) and
    // near-dup edges between the copy groups
    val rnd = new scala.util.Random(7)
    val base = (0 until 200).map { i =>
      (i.toLong, Seq.fill(40)(s"w${rnd.nextInt(400)}").mkString(" "))
    }
    val variants = base.filter(_._1 % 4 == 0).map { case (id, t) =>
      (id + 500000L, t.substring(0, t.lastIndexOf(' ')) + " changed")
    }
    val docs = (0 until 3).flatMap { rep =>
      (base ++ variants).map { case (id, t) => (id + rep * 1000000L, t) }
    }.toDF("doc_id", "text")
    val pairs = Dedupe.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.35)
    assert(pairs.queryExecution.optimizedPlan.toString.contains("__fp"),
      "a dup-heavy corpus must take the staged plan")
    val edges = pairs.count()
    assert(edges > 1)
    def labels(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val driver = labels(Dedupe.resolveClusters(pairs))
    val dist = labels(Dedupe.resolveClusters(pairs, driverMaxEdges = edges - 1))
    Dedupe.releaseStaged()
    assert(driver.nonEmpty)
    assert(dist == driver)
  }
}
