package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Envelope
import graft.streaming.LocalCheckpointFileManager

/** Sink registry + output combinators (SURVEY.md §2.13).
  *
  * Batch writers go through the DataFrame writer API (partition-parallel,
  * no driver funnel); streaming goes through writeStream/foreachBatch.
  * Combinators mirror the reference's output composition: `broker`
  * fan_out (outputs/broker.adoc:102-114), `switch` (outputs/switch.adoc:26),
  * `fallback` (outputs/fallback.adoc:26), `reject_errored`
  * (outputs/reject_errored.adoc:26), `drop_on`.
  */
object Sinks {

  // ── batch writers ─────────────────────────────────────────────────────
  def parquet(df: DataFrame, path: String,
              partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  def csv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header).csv(path)

  def jsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** JDBC sink (reference `sql_insert` output family,
    * outputs/sql_insert.adoc:26): partition-parallel inserts through
    * the DataFrame JDBC writer — each executor task opens its own
    * connection, no driver funnel. Driver jar must be on the
    * classpath (Derby ships with Spark; others are deploy-time).
    */
  def jdbc(df: DataFrame, url: String, table: String,
           mode: String = "append",
           options: Map[String, String] = Map.empty): Unit =
    df.write.format("jdbc").mode(mode)
      .option("url", url).option("dbtable", table).options(options)
      .save()

  /** Iceberg-shaped lakehouse upsert (see [[Lakehouse.upsert]]). */
  def lakehouse(df: DataFrame, table: String, keys: Seq[String],
                partitionBy: Seq[String] = Nil,
                deleteCol: Option[String] = None): Unit =
    Lakehouse.upsert(df, table, keys, partitionBy, deleteCol)

  /** Streaming fan-out: every micro-batch is delivered to ALL sinks via
    * foreachBatch (the streaming form of the batch [[fanOut]] —
    * reference `broker` output pattern `fan_out`,
    * docs/…/outputs/broker.adoc:26). The batch is persisted once so N
    * sinks don't recompute the plan N times.
    */
  def foreachBatchFanOut(df: DataFrame, checkpoint: String,
                         sinks: Seq[DataFrame => Unit]): StreamingQuery = {
    LocalCheckpointFileManager.install(df.sparkSession)
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try sinks.foreach(s => s(batch))
        finally { batch.unpersist(); () }
      }
      .start()
  }

  /** Lakehouse-style table sink (reference warehouse/lakehouse outputs,
    * e.g. docs/…/outputs/snowflake_put.adoc:26 family): partitioned +
    * bucketed managed table, so downstream joins on `bucketBy` columns
    * are co-located (no shuffle) and partition pruning applies on
    * `partitionBy` columns. Format parquet; swap for iceberg/delta via
    * `format` where those catalogs are on the classpath.
    */
  def table(df: DataFrame, name: String,
            partitionBy: Seq[String] = Nil,
            bucketBy: Option[(Int, Seq[String])] = None,
            format: String = "parquet"): Unit = {
    var w = df.write.mode("overwrite").format(format)
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    bucketBy.foreach { case (n, cols) =>
      w = w.bucketBy(n, cols.head, cols.tail: _*)
        .sortBy(cols.head, cols.tail: _*)
    }
    w.saveAsTable(name)
  }

  // ── streaming writers ─────────────────────────────────────────────────
  def parquetStream(df: DataFrame, path: String, checkpoint: String): StreamingQuery = {
    LocalCheckpointFileManager.install(df.sparkSession)
    df.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
      .outputMode("append").start()
  }

  /** Partitioned, ordered broker write through the
    * [[graft.sources.Broker.Transport]] seam (outputs/kafka.adoc /
    * output_sarama_kafka.go): each row's partition comes from
    * `partitionCol` when set (`partitioner: manual`) or from hashing
    * `keyCol` with the named partitioner (default `fnv1a_hash`, the
    * reference's default).
    *
    * Ordering contract — the one kafka actually gives and the
    * reference's `max_in_flight: 1` preserves: rows bound for the SAME
    * partition land in `orderCol` order. Spark shape:
    * `repartitionAndSortWithinPartitions` on (partition, order) with
    * one reducer per broker partition, then sequential chunked appends
    * inside that single task. The sort is a shuffle-sort (spills, no
    * in-memory materialization), so the shape survives scale; at 100 TB
    * the per-broker-partition reducer is the same bottleneck a real
    * producer fleet has — more broker partitions = more parallelism.
    */
  def brokerWrite(df: DataFrame, address: String, topic: String,
                  keyCol: Column, valueCol: Column,
                  orderCol: Column,
                  partitioner: String = "fnv1a_hash",
                  partitionCol: Option[Column] = None,
                  timestampMsCol: Option[Column] = None,
                  headersCol: Option[Column] = None): Unit = {
    import graft.sources.Broker
    val n = Broker.transportFor(address).partitionCount(topic)
    val prepared = df.select(
      keyCol.cast("string").as("k"), valueCol.cast("string").as("v"),
      partitionCol.map(_.cast("int")).getOrElse(lit(null).cast("int")).as("p"),
      orderCol.cast("long").as("o"),
      timestampMsCol.map(_.cast("long")).getOrElse(lit(0L)).as("ts"),
      headersCol.getOrElse(lit(null).cast("map<string,string>")).as("h"))
    val keyed = prepared.rdd.map { r =>
      // null and empty keys are distinct records on the wire: an empty
      // key hashes like any other byte string, a NULL key has no hash
      // input and real producers spread it (round-robin/sticky) — here
      // deterministically by the row's order value
      val kb = if (r.isNullAt(0)) null else r.getString(0).getBytes("UTF-8")
      val ord = r.getLong(3)
      val part =
        if (!r.isNullAt(2)) {
          val p = r.getInt(2)
          require(p >= 0 && p < n, s"manual partition $p outside [0, $n)")
          p
        } else if (partitioner == "manual")
          throw new IllegalArgumentException(
            "partitioner: manual requires a non-null integer `partition` " +
              "for every row (the partition interpolation produced null)")
        else if (kb == null) (((ord % n) + n) % n).toInt
        else Broker.partitionFor(partitioner, kb, n)
      val hdrs =
        if (r.isNullAt(5)) Map.empty[String, String]
        else r.getMap[String, String](5).toMap
      ((part, ord),
        (kb, if (r.isNullAt(1)) null else r.getString(1), r.getLong(4),
          hdrs))
    }
    val onePerPartition = new org.apache.spark.Partitioner {
      override def numPartitions: Int = n
      override def getPartition(key: Any): Int =
        key.asInstanceOf[(Int, Long)]._1
    }
    keyed.repartitionAndSortWithinPartitions(onePerPartition)
      .foreachPartition { it =>
        if (it.hasNext) {
          val t = Broker.transportFor(address)
          val taskPart = org.apache.spark.TaskContext.getPartitionId()
          // one transaction per task when the transport carries a
          // transactional id (no-op otherwise): a task failure aborts
          // everything this attempt produced, the retry re-inits the
          // producer (epoch bump fences the zombie) and re-produces —
          // read_committed consumers see exactly one committed copy
          t.transactional(topic, taskPart) {
            // sequential chunked appends inside the one task that owns
            // this broker partition: bounded memory, order preserved
            it.grouped(1024).foreach { chunk =>
              val part = chunk.head._1._1
              t.append(topic, part, chunk.map { case (_, (kb, v, ts, hdrs)) =>
                Broker.Record(kb,
                  if (v == null) null else v.getBytes("UTF-8"),
                  headers = hdrs, timestampMs = ts)
              })
              ()
            }
          }
        }
      }
  }

  // ── combinators (work for batch via the write functions) ──────────────

  /** `broker` fan_out: write the same data to every sink. The input is
    * persisted so N sinks cost one upstream computation, not N.
    */
  def fanOut(df: DataFrame, sinks: Seq[DataFrame => Unit]): Unit = {
    val cached = df.persist()
    try sinks.foreach(s => s(cached))
    finally { cached.unpersist(); () }
  }

  /** `switch` output: route each row to the first matching case's sink;
    * unmatched rows go to `default` (or are dropped when None).
    */
  def switch(df: DataFrame, cases: Seq[(Column, DataFrame => Unit)],
             default: Option[DataFrame => Unit] = None): Unit = {
    val cached = df.persist()
    try {
      cases.zipWithIndex.foreach { case ((pred, sink), i) =>
        // first-match-wins: exclude rows claimed by earlier cases
        val earlier = cases.take(i).map(_._1)
        val exclusive = earlier.foldLeft(pred)((p, e) => p && !coalesce(e, lit(false)))
        sink(cached.filter(coalesce(exclusive, lit(false))))
      }
      default.foreach { sink =>
        val anyMatch = cases.map(_._1)
          .map(c => coalesce(c, lit(false))).reduce(_ || _)
        sink(cached.filter(!anyMatch))
      }
    } finally { cached.unpersist(); () }
  }

  /** `fallback`: try each sink in order until one succeeds. */
  def fallback(df: DataFrame, sinks: Seq[DataFrame => Unit]): Unit = {
    val errs = scala.collection.mutable.Buffer.empty[Throwable]
    val ok = sinks.exists { s =>
      try { s(df); true } catch { case t: Throwable => errs += t; false }
    }
    if (!ok) throw new RuntimeException(
      s"all ${sinks.length} fallback outputs failed: ${errs.map(_.getMessage).mkString("; ")}")
  }

  /** `drop_on`/`drop`: rows matching the predicate are discarded. */
  def dropOn(df: DataFrame, pred: Column): DataFrame = df.filter(!pred)
}
