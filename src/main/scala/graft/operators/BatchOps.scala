package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Batch-restructuring operators — the reference's "shuffle" surface
  * (SURVEY.md §2.3): archive/unarchive, split, select_parts,
  * bounds_check, group_by_value — re-expressed as declarative DataFrame
  * transforms so Catalyst plans the exchange instead of a per-batch loop.
  */
object BatchOps {

  /** `group_by_value` (processors/group_by_value.adoc:26): split a stream
    * into groups by key — the direct analog of relational GROUP BY.
    */
  def groupByValue(df: DataFrame, key: Column, aggs: Seq[Column]): DataFrame =
    df.groupBy(key).agg(aggs.head, aggs.tail: _*)

  /** `batched` input policy (inputs/batched.adoc:110-133): group
    * ordered messages into batches, flushing when ANY trigger fires —
    * `count` messages or `byteSize` accumulated payload bytes (both
    * add-then-check, so a batch may close ON the triggering message,
    * like the reference), a row whose `checkCol` is true (that message
    * ENDS its batch), or `periodMs` of EVENT time elapsed since the
    * batch opened (`tsCol`; the reference's period is a wall-clock
    * timer — event time is the deterministic/replayable rewrite,
    * documented divergence). Emits the envelope's `__batch: long`
    * identity consumed by batch-scoped ops (from_all/batch_index/
    * archive).
    *
    * Batch formation is inherently sequential per input stream — the
    * reference forms batches in the input's single-threaded ack loop.
    * Here it is ONE ordered pass per partition: partition-parallel
    * ingestion forms batches per partition, exactly like N reference
    * inputs behind a `broker`; batch ids are made partition-unique via
    * a (partitionId << 40) offset. Repartition to 1 upstream when a
    * single global stream order is required (the config runner does —
    * its inputs are driver-ordered).
    */
  def formBatches(df: DataFrame, ordCol: String, count: Int = 0,
                  byteSize: Int = 0, periodMs: Long = 0,
                  checkCol: Option[String] = None,
                  tsCol: Option[String] = None,
                  valueCol: String = "value"): DataFrame = {
    require(count > 0 || byteSize > 0 || periodMs > 0 || checkCol.nonEmpty,
      "batched policy needs at least one of count/byte_size/period/check")
    require(periodMs == 0 || tsCol.nonEmpty,
      "period batching needs an event-time column")
    val schema = org.apache.spark.sql.types.StructType(df.schema.fields :+
      org.apache.spark.sql.types.StructField("__batch",
        org.apache.spark.sql.types.LongType))
    val vIdx = df.schema.fieldIndex(valueCol)
    val cIdx = checkCol.map(df.schema.fieldIndex)
    val tIdx = tsCol.map(df.schema.fieldIndex)
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    df.sortWithinPartitions(col(ordCol)).mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong << 40
      var batch = pid
      var n = 0
      var bytes = 0L
      var startTs = 0L
      it.map { r =>
        def tsOf: Long = r.getAs[java.sql.Timestamp](tIdx.get).getTime
        if (n > 0 && periodMs > 0 && tIdx.isDefined && tsOf - startTs >= periodMs) {
          batch += 1; n = 0; bytes = 0L
        }
        if (n == 0 && tIdx.isDefined) startTs = tsOf
        n += 1
        bytes += (if (r.isNullAt(vIdx)) 0
                  else r.getString(vIdx).getBytes("UTF-8").length)
        val out = org.apache.spark.sql.Row.fromSeq(r.toSeq :+ batch)
        val flush = (count > 0 && n >= count) ||
          (byteSize > 0 && bytes >= byteSize) ||
          cIdx.exists(i => !r.isNullAt(i) && r.getBoolean(i))
        if (flush) { batch += 1; n = 0; bytes = 0L }
        out
      }
    }
  }

  /** `archive` with `lines`-style folding (processors/archive.adoc:26):
    * fold each group's payloads into ONE row, concatenated by a
    * separator, in BATCH ORDER (`ord`) — the reference concatenates
    * parts by their position in the batch, not by content.
    * groupBy + collect_list runs as a partial (map-side) aggregation
    * before the shuffle; the ordinal rides along in a struct so one
    * array_sort recovers input order after the unordered collect.
    */
  def archiveLines(df: DataFrame, key: Column, payload: Column, ord: Column,
                   sep: String = "\n"): DataFrame =
    df.groupBy(key.as("key"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(ord.as("o"), payload.as("p")))),
          s => s.getField("p")), sep).as("archived"),
        count(lit(1)).as("n"))

  /** `unarchive` of a lines payload (processors/unarchive.adoc:26):
    * explode one message into many — a Catalyst Generator, fully
    * parallel, no driver involvement.
    */
  def unarchiveLines(df: DataFrame, payload: Column, sep: String = "\n"): DataFrame =
    df.withColumn("part", explode(split(payload, java.util.regex.Pattern.quote(sep))))

  /** `select_parts` (processors/select_parts.adoc:26): keep rows at the
    * given indexes within each batch (batch = partition key `batchKey`),
    * ordered by `ord`.
    */
  def selectParts(df: DataFrame, batchKey: Column, ord: Column,
                  indexes: Seq[Int]): DataFrame = {
    val w = Window.partitionBy(batchKey).orderBy(ord)
    df.withColumn("batch_idx", row_number().over(w) - 1)
      .filter(col("batch_idx").isin(indexes: _*))
  }

  /** `bounds_check` (processors/bounds_check.adoc:26): drop rows whose
    * payload length falls outside [minLen, maxLen]. Pure filter —
    * pushed into the scan when the length is a stored column.
    */
  def boundsCheck(df: DataFrame, payload: Column,
                  minLen: Int, maxLen: Int): DataFrame =
    df.filter(length(payload).between(minLen, maxLen))

  /** `split` to size-N sub-batches (processors/split.adoc:26): assign a
    * sub-batch id per group of `n` rows within each batch.
    */
  def splitBatches(df: DataFrame, batchKey: Column, ord: Column, n: Int): DataFrame = {
    val w = Window.partitionBy(batchKey).orderBy(ord)
    df.withColumn("sub_batch", floor((row_number().over(w) - 1) / n))
  }

  /** `archive` format `json_array` (processors/archive.adoc:26): fold
    * each group's JSON payloads into one JSON-array document, elements
    * in batch order (`ord`). Payloads are parsed (not string-wrapped)
    * so the result is a real array of documents.
    */
  def archiveJsonArray(df: DataFrame, key: Column, payload: Column,
                       ord: Column): DataFrame =
    df.groupBy(key.as("key"))
      .agg(to_json(
        transform(array_sort(collect_list(struct(ord.as("o"), payload.as("p")))),
          s => parse_json(s.getField("p")))).as("archived"),
        count(lit(1)).as("n"))

  /** `unarchive` format `json_array`: one row per element of a JSON
    * array payload. */
  def unarchiveJsonArray(df: DataFrame, payload: Column): DataFrame =
    // explode in its own projection: a Generator can't nest inside
    // another expression (to_json)
    df.withColumn("__pv", explode(try_parse_json(payload).cast("array<variant>")))
      .withColumn("part", to_json(col("__pv")))
      .drop("__pv")

  /** `archive` format `csv` (processors/archive.adoc:26): fold typed
    * columns into one CSV document per group, header first, data rows
    * in batch order (`ord`). */
  def archiveCsv(df: DataFrame, key: Column, fields: Seq[Column],
                 ord: Column): DataFrame = {
    val header = fields.map(f => f.toString).mkString(",")
    df.groupBy(key.as("key"))
      .agg(concat_ws("\n", lit(header),
        array_join(
          transform(
            array_sort(collect_list(
              struct(ord.as("o"), concat_ws(",", fields: _*).as("p")))),
            s => s.getField("p")), "\n"))
        .as("archived"),
        count(lit(1)).as("n"))
  }

  /** `unarchive` format `csv`: header-driven parse, one row per line,
    * fields as a map (dynamic schema — the reference emits object docs
    * keyed by header).
    */
  def unarchiveCsv(df: DataFrame, payload: Column): DataFrame = {
    val lines = split(payload, "\n")
    val header = split(element_at(lines, 1), ",")
    val rows = slice(lines, lit(2), greatest(size(lines) - 1, lit(0)))
    df.withColumn("part",
        explode(transform(rows, r => map_from_arrays(header, split(r, ",")))))
  }

  /** `insert_part` (processors/insert_part.adoc:26): place a new payload
    * at 0-based `index` within each batch (negative = from the end, -1
    * appends). Existing rows keep their relative order.
    */
  def insertPart(df: DataFrame, batchKey: Column, ord: Column,
                 payloadCol: String, content: Column, index: Int): DataFrame = {
    val w = Window.partitionBy(batchKey).orderBy(ord)
    val sized = Window.partitionBy(batchKey)
    val base = df.withColumn("batch_idx", row_number().over(w) - 1)
      .withColumn("__n", count(lit(1)).over(sized))
    val at: Column =
      if (index >= 0) least(lit(index), col("__n"))
      else greatest(col("__n") + index + 1, lit(0))
    val shifted = base.withColumn("batch_idx",
      when(col("batch_idx") >= at, col("batch_idx") + 1)
        .otherwise(col("batch_idx")))
    val inserted = base.groupBy(batchKey.as(batchKey.toString))
      .agg(first(at).cast("int").as("batch_idx"))
      .withColumn(payloadCol, content)
    // missing columns (e.g. the ordinal) fill with null for the new row
    shifted.drop("__n")
      .unionByName(inserted, allowMissingColumns = true)
  }

  /** `read_until` (docs/…/inputs/read_until.adoc:26): consume rows in
    * batch order until `pred` fires; the triggering row is kept when
    * `inclusive`. One window pass — the cut point is the min ordinal
    * satisfying the predicate.
    */
  def readUntil(df: DataFrame, batchKey: Column, ord: Column,
                pred: Column, inclusive: Boolean = true): DataFrame = {
    val w = Window.partitionBy(batchKey)
    val cut = min(when(pred, ord)).over(w)
    df.withColumn("__cut", cut)
      .filter(col("__cut").isNull ||
        (if (inclusive) ord <= col("__cut") else ord < col("__cut")))
      .drop("__cut")
  }

  /** `group_by` with a predicate list (processors/group_by.adoc:26):
    * each row lands in the FIRST group whose predicate matches
    * (group = -1 when none do — the reference's pass-through group).
    */
  def groupByPredicates(df: DataFrame, preds: Seq[Column]): DataFrame =
    df.withColumn("group",
      preds.zipWithIndex.foldRight(lit(-1): Column) {
        case ((p, i), acc) => when(p, lit(i)).otherwise(acc)
      })

  /** `count(name)` (bloblang functions counter/count — named per-key
    * sequence): 1-based position of each row within its key, ordered by
    * `ord`. One window shuffle on the key — scale-safe.
    */
  def namedCounter(df: DataFrame, key: Column, ord: Column,
                   outCol: String = "seq"): DataFrame =
    df.withColumn(outCol,
      row_number().over(Window.partitionBy(key).orderBy(ord)).cast("long"))
}
