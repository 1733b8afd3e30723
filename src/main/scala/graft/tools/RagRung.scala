package graft.tools

import org.apache.spark.sql.functions._

/** Scale rung for the RAG INDEXING pipeline (VERDICT r18 task #2b):
  * runs the reference's own indexing config
  * (config/rag/indexing/openai_pgvector.yaml — kafka seed →
  * text_chunker → group_by_value → branch-embed (offline 768-dim) →
  * archive → pgvector upsert) over the documents table of a ladder
  * rung, digest-checks the store, and prints one JSON line.
  *
  * Usage: runMain graft.tools.RagRung <sfDir> [replication]
  * The mem broker and the pgvector engine are in-process; the numbers
  * measure the PIPELINE (chunk/embed/archive/upsert), which is the
  * part that scales with the corpus.
  */
object RagRung {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val repl = args.lift(1).map(_.toInt).getOrElse(1)
    val spark = graft.LocalSession()

    val kernel0 = RefKernel.mbPerSec()
    graft.config.Rag.registerTemplates()
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val broker = s"mem://ragrung-$runId"
    val dsn = s"postgres://ragrung-$runId/db"
    val topic = "rp.ai.rag.docs"

    val docs0 = spark.read.parquet(sfDir + "/documents.parquet")
      .select(col("doc_id").cast("string").as("key"),
        col("text").as("value"), col("doc_id"))
    val docs = if (repl <= 1) docs0 else
      (0 until repl).map(i => docs0
        .withColumn("key", concat(col("key"), lit(s"_r$i")))
        .withColumn("doc_id", col("doc_id") * repl + i))
        .reduce(_ unionByName _)
    val nDocs = docs.count()

    graft.sources.Broker.transportFor(broker).createTopic(topic, 32)
    val tSeed0 = System.nanoTime()
    graft.sinks.Sinks.brokerWrite(docs, broker, topic,
      col("key"), col("value"), col("doc_id"))
    val seedSec = (System.nanoTime() - tSeed0) / 1e9

    val env = Map(
      "REDPANDA_BROKERS" -> broker,
      "INDEXING_CONSUMER" -> "rag-rung",
      "REDPANDA_USER" -> "", "REDPANDA_PASS" -> "",
      "OPENAI_API_KEY" -> "test-key",
      "POSTGRES_DSN" -> dsn, "POSTGRES_TABLE" -> "rag")
    val t0 = System.nanoTime()
    graft.config.Pipeline.run(spark,
      graft.config.Rag.resource("indexing/openai_pgvector.yaml"), env)
    val indexSec = (System.nanoTime() - t0) / 1e9

    // digest: chunk count + per-key coverage spot checks from the store
    val table = graft.sources.PgVector.table(dsn, "rag_openai")
      .getOrElse(throw new IllegalStateException("no store table"))
    val nChunks = table.rows.size
    val distinctKeys = table.rows.iterator
      .map(r => String.valueOf(r(1))).toSet.size
    val dimOk = table.rows.iterator.take(1000)
      .forall(_(4).asInstanceOf[Array[Float]].length == 768)
    val kernel1 = RefKernel.mbPerSec()
    println(s"""{"metric":"rag_index","sf":"$sfDir","repl":$repl,""" +
      s""""docs":$nDocs,"chunks":$nChunks,"distinct_keys":$distinctKeys,""" +
      s""""dim_ok":$dimOk,"seed_sec":${f"$seedSec%.2f"},""" +
      s""""index_sec":${f"$indexSec%.2f"},""" +
      s""""docs_per_sec":${f"${nDocs / indexSec}%.0f"},""" +
      s""""kernel":[${f"$kernel0%.0f"},${f"$kernel1%.0f"}],""" +
      s""""loadavg":"${RefKernel.loadAvg()}"}""")
    spark.stop()
    sys.exit(0)
  }
}
