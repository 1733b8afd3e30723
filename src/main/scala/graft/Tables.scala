package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed loaders for the driver-provided star schema (TESTDATA.md).
  *
  * All readers go through `spark.read.parquet` so Catalyst gets native
  * column pruning + predicate pushdown into the scan (check
  * `PushedFilters`/`ReadSchema` in `.explain("formatted")`). At 100 TB the
  * same call works against a partitioned table path; nothing here assumes
  * single-file layout.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session settings required to read the driver-generated parquet:
    * `events.ts` is TIMESTAMP(NANOS) which Spark 4 only reads as a long
    * (converted back to a timestamp in [[events]]), and NTZ inference is
    * disabled so all timestamps surface as session-TZ (UTC) instants —
    * the same values DuckDB sees.
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark
  }

  /** Resolved relations are memoized per (session, path) in
    * [[SessionMemo]] — the catalog pattern (guide §6: file listing /
    * footer schema reads are driver-side work a real deployment pays
    * ONCE via its metastore or table-format manifests, not per query).
    * Only the PLAN (LogicalRelation: file index + schema) is kept; no
    * data is persisted and every action still scans the parquet from
    * disk. Re-resolving `spark.read.parquet` per query was ~40–60 ms of
    * the ~90 ms per-query driver build (r20; `graft.Bench` now reports
    * it per query as `build_s`, next to the Catalyst phase, `exec_s` and
    * `residue_s` fields); across 197 queries × 3 passes that is pure
    * floor. The test data is immutable
    * (TESTDATA.md), and tools that regenerate derived dirs
    * (ScaleGen/BoilerGen) use fresh sessions, so staleness cannot arise
    * within a session.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    configure(spark)
    val path = s"$dir/$name.parquet"
    SessionMemo.getOrElseUpdate(spark, path)(spark.read.parquet(path))
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `ts` has shipped as both TIMESTAMP(NANOS) (surfacing as a long
    * under `nanosAsLong` — µs-aligned, so the integer division to
    * TimestampType is lossless) and native TIMESTAMP(MICROS) (already a
    * TimestampType). Branch on the loaded type so both generations of
    * the driver-written parquet read identically.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
