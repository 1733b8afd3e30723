package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Lakehouse (Iceberg-shaped) table sink — the behavioral contract of
  * the reference's flagship `iceberg` output
  * (internal/impl/iceberg/output_iceberg.go: row_operation
  * insert/upsert/delete with `identifier_fields`, schema evolution on
  * write, partitioned warehouse tables) re-expressed against Spark
  * catalog tables. With an Iceberg runtime jar on the cluster the same
  * calls target `catalog.db.table` and Spark's Iceberg source handles
  * MERGE natively; this module implements the identical semantics
  * against any saveAsTable-capable catalog so the contract is testable
  * without the jar.
  *
  * Scale shape: the merge is ONE left-anti join of target vs batch keys
  * (broadcast when the batch is micro-batch-sized — the common CDC
  * case) plus a union — no driver-side state, no per-row lookups. The
  * rewrite funnels through a staging table because a catalog table
  * cannot be overwritten while it is being read.
  */
object Lakehouse {

  /** Drop a managed table AND its orphaned warehouse directory: a fresh
    * session's in-memory metastore doesn't know tables a previous JVM
    * created, so `DROP TABLE IF EXISTS` no-ops while the directory
    * still blocks re-creation (LOCATION_ALREADY_EXISTS).
    */
  def dropTable(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    // an EXTERNAL table's location is user data, not ours to delete —
    // only sweep the warehouse path for managed (or catalog-unknown,
    // i.e. orphaned) tables
    val isExternal = spark.catalog.tableExists(table) &&
      spark.catalog.getTable(table).tableType == "EXTERNAL"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    if (isExternal) return
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    // managed location: <warehouse>/<tbl> for the default database,
    // <warehouse>/<db>.db/<tbl> for qualified names
    val rel = table.toLowerCase.split("\\.") match {
      case Array(tbl) => tbl
      case Array(db, tbl) => s"$db.db/$tbl"
      case parts => parts.init.mkString(".") + ".db/" + parts.last
    }
    val dir = new java.io.File(warehouse, rel)
    if (dir.exists) {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Files.walk(dir.toPath).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
    }
  }

  /** Upsert `batch` into `table` by `keyCols` (the reference's
    * `identifier_fields`), creating it (partitioned) on first write.
    *
    * Schema evolution (output_iceberg.go schema_evolution config):
    * batch-only columns are ADDED to the table (null for pre-existing
    * rows); table-only columns survive (null for batch rows). A column
    * present in both keeps the TABLE's type — the batch side casts.
    *
    * `deleteCol`: boolean column marking delete rows (row_operation
    * `delete`) — their keys are removed from the table and not
    * re-inserted. Batch rows are assumed key-unique (apply
    * Cdc.latestState upstream for changelogs).
    */
  def upsert(batch: DataFrame, table: String, keyCols: Seq[String],
             partitionCols: Seq[String] = Seq.empty,
             deleteCol: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    require(keyCols.nonEmpty, "upsert needs identifier_fields")
    val inserts = deleteCol match {
      case Some(c) => batch.filter(!coalesce(col(c), lit(false))).drop(c)
      case None => batch
    }
    val deleteKeys = deleteCol.map(c =>
      batch.filter(coalesce(col(c), lit(false))).select(keyCols.map(col): _*))

    if (!spark.catalog.tableExists(table)) {
      val w = inserts.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .saveAsTable(table)
    } else {
      val target = spark.table(table)
      // evolve: append batch-only columns to the table schema
      val newCols = inserts.schema.fields
        .filterNot(f => target.columns.contains(f.name))
      val evolved =
        if (newCols.isEmpty) target
        else target.select(col("*") +:
          newCols.map(f => lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
      // align the batch to the evolved schema (order + types)
      val aligned = inserts.select(evolved.schema.fields.map { f =>
        if (inserts.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)
      val touchedKeys = {
        val ins = aligned.select(keyCols.map(col): _*)
        // delete keys come from the RAW batch — cast to the table's key
        // types so the anti-join/semi-join compare like with like
        deleteKeys.map(dk => ins.unionByName(dk.select(keyCols.map(c =>
          col(c).cast(evolved.schema(c).dataType).as(c)): _*))).getOrElse(ins)
      }.distinct()
      if (partitionCols.nonEmpty && newCols.isEmpty)
        prunedMerge(spark, table, target, batch, aligned, touchedKeys,
          keyCols, partitionCols)
      else
        fullMerge(spark, table, evolved, aligned, touchedKeys, partitionCols)
    }
  }

  /** O(table) merge: left-anti the whole target and rewrite everything
    * through a staging table. Required when the table is unpartitioned
    * (no granularity to prune at) or the batch evolves the schema (a
    * partition-scoped INSERT cannot add columns).
    */
  private def fullMerge(spark: org.apache.spark.sql.SparkSession,
                        table: String, evolved: DataFrame, aligned: DataFrame,
                        touchedKeys: DataFrame,
                        partitionCols: Seq[String]): Unit = {
    val merged = evolved
      .join(broadcast(touchedKeys), touchedKeys.columns.toSeq, "left_anti")
      .unionByName(aligned)
    // stage swap: a table can't be overwritten while being read; a
    // crashed previous run may have orphaned the stage's directory
    val stage = table + "__stage"
    dropTable(spark, stage)
    merged.write.mode("overwrite").saveAsTable(stage)
    val w = spark.table(stage).write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .saveAsTable(table)
    spark.sql(s"DROP TABLE $stage")
  }

  /** Partition-pruned merge — the scale path, mirroring the reference's
    * file-granularity Iceberg merge (internal/impl/iceberg/output.go):
    * only the partitions the batch touches are scanned and rewritten;
    * untouched partitions' files are never read or replaced.
    *
    * Touched partitions = the batch rows' own partition values, plus —
    * when the partition columns are NOT part of the identity (so an
    * upsert may move a key between partitions) — the partitions the
    * touched keys currently occupy, found by a column-pruned
    * (keys + partition cols only) scan semi-joined against the
    * broadcast batch keys. When partitionCols ⊆ keyCols that scan is
    * skipped: a key's partition is part of its identity and cannot
    * move.
    *
    * The rewrite itself is `INSERT OVERWRITE` with
    * `partitionOverwriteMode=dynamic`, so only partitions present in
    * the merged output are replaced. A partition the merge EMPTIES
    * (every row deleted) is absent from that output and is dropped
    * explicitly.
    */
  private def prunedMerge(spark: org.apache.spark.sql.SparkSession,
                          table: String, target: DataFrame, batch: DataFrame,
                          aligned: DataFrame, touchedKeys: DataFrame,
                          keyCols: Seq[String],
                          partitionCols: Seq[String]): Unit = {
    val pcols = partitionCols.map(col)
    // partition values must carry the TABLE's types: the raw batch may
    // supply e.g. IntegerType where the table has LongType, and a
    // type-mismatched value in `touchedParts` would never match the
    // table-typed values read back from the staged output — every
    // touched partition would then be classified "emptied" and dropped.
    // (Deletes matter here, so this can't just use `aligned`, which
    // holds only the insert rows.)
    val batchParts = batch.select(partitionCols.map { c =>
      val t = target.schema(c).dataType
      (if (batch.columns.contains(c)) col(c).cast(t)
       else lit(null).cast(t)).as(c)
    }: _*).distinct()
    val allParts =
      if (partitionCols.forall(keyCols.contains)) batchParts
      else {
        val oldParts = target.select((keyCols ++ partitionCols).map(col): _*)
          .join(broadcast(touchedKeys), keyCols, "left_semi")
          .select(pcols: _*)
        batchParts.unionByName(oldParts).distinct()
      }
    val touchedParts = allParts.collect()
    if (touchedParts.isEmpty) return
    def partPredicate(r: org.apache.spark.sql.Row) =
      partitionCols.zipWithIndex.map { case (c, i) =>
        if (r.isNullAt(i)) col(c).isNull else col(c) === lit(r.get(i))
      }.reduce(_ && _)
    val touchedPred = touchedParts.map(partPredicate).reduce(_ || _)
    val merged = target.filter(touchedPred)
      .join(broadcast(touchedKeys), keyCols, "left_anti")
      .unionByName(aligned)
      // insertInto is positional — pin the table's column order
      .select(target.schema.fieldNames.map(col).toIndexedSeq: _*)
    // materialize outside the table first: INSERT OVERWRITE refuses a
    // plan that reads the table it writes, and this also bounds the
    // window where the table is mid-rewrite to a pure file move
    val tmp = java.nio.file.Files.createTempDirectory("graft_merge").toString
    try {
      merged.write.mode("overwrite").parquet(tmp)
      val staged = spark.read.schema(merged.schema).parquet(tmp)
      val confKey = "spark.sql.sources.partitionOverwriteMode"
      val prior = spark.conf.getOption(confKey)
      spark.conf.set(confKey, "dynamic")
      try staged.write.mode("overwrite").insertInto(table)
      finally prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
      // partitions fully emptied by deletes never appear in `staged`,
      // so dynamic overwrite leaves their old files — drop explicitly
      val remaining = staged.select(pcols: _*).distinct().collect()
        .map(r => partitionCols.indices.map(r.get).toSeq).toSet
      val emptied = touchedParts
        .filterNot(r => remaining(partitionCols.indices.map(r.get).toSeq))
      emptied.foreach { r =>
        val spec = partitionCols.zipWithIndex.map { case (c, i) =>
          val v = if (r.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__"
                  else r.get(i).toString
          s"$c='${v.replace("'", "''")}'"
        }.mkString(", ")
        spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION ($spec)")
      }
    } finally {
      import java.nio.file.{Files, Path, Paths}
      import java.util.Comparator
      val p = Paths.get(tmp)
      if (Files.exists(p))
        Files.walk(p).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => { Files.deleteIfExists(f); () })
    }
  }

  /** Streaming form: every micro-batch MERGEs into the table via
    * [[upsert]] (the foreachBatch shape Iceberg's own Spark writer
    * uses for CDC apply).
    */
  def upsertStream(df: DataFrame, table: String, keyCols: Seq[String],
                   checkpoint: String,
                   partitionCols: Seq[String] = Seq.empty,
                   deleteCol: Option[String] = None): StreamingQuery = {
    graft.streaming.LocalCheckpointFileManager.install(df.sparkSession)
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, _: Long) =>
        upsert(b, table, keyCols, partitionCols, deleteCol)
      }
      .start()
  }
}
