package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b restricts the dump while iterating locally
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the write above materialized the query, so the dedup miners'
      // staging caches are consumed — release instead of accumulating
      // up to the FIFO cap across the ~200-query sweep
      finally graft.operators.Dedupe.releaseStaged()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // SPARK_GRAFT_DEMOTE=a,b drops the named oracle entries so those
    // queries compare rows-only — the sf1+ ladder protocol demotes the
    // three whose oracles are intentionally quadratic (all-pairs DuckDB
    // verification, infeasible at 50 k docs BY DESIGN; they stay fully
    // oracle-gated at sf0.01/sf0.1). An env knob instead of hand-editing
    // oracle_sql.json after the dump, so the protocol is reproducible.
    val demote = sys.env.get("SPARK_GRAFT_DEMOTE")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // a demoted name not in oracleSql is a typo that would silently
    // weaken the sweep — warn loudly (ADVICE r15)
    demote.diff(SparkEntry.oracleSql.keySet).foreach { k =>
      System.err.println(s"[verify] SPARK_GRAFT_DEMOTE names unknown query '$k'")
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => !demote.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // explicit exemption manifest: the driver ignores unknown files, but
    // the rows-only entries in the sweep are now declared, not silent —
    // including anything demoted by the env knob (ADVICE r15)
    val exempt = (SparkEntry.oracleExempt ++
        demote.intersect(SparkEntry.oracleSql.keySet)
          .map(_ -> "quadratic-oracle-demoted-at-this-sf").toMap)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_exempt.json"), exempt)
    spark.stop()
    // hard exit: a leaked non-daemon thread (an embedded server or
    // streaming remnant from some query) must not pin this forked JVM
    // alive for hours after the dump completes — observed as stale
    // multi-hour graft.Verify processes competing for CPU
    sys.exit(0)
  }
}
