package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Flow-control / error-channel operators (SURVEY.md §2.2).
  *
  * The reference treats processor failures as DATA: a failed message
  * carries an error flag and keeps flowing; `try`/`catch`/
  * `reject_errored` route on it (processors/try.adoc:26, catch.adoc:26).
  * We adopt the same discipline: an `error: string` column (null =
  * healthy), never exceptions in executors — a single poisoned record
  * must not kill a 1000-executor job.
  *
  * Flow control never splits the frame by the flag. The config nodes
  * ([[graft.config.Processors]]) run each child as a guarded step: the
  * child processes the rows its guard selects, and every other row
  * comes out unchanged and runs no side effect. `try` guards its
  * children by `error IS NULL`, `catch` by a flag set once at entry,
  * `switch` by the case index [[switch]] computes once, `retry` by a
  * flag re-set after each pass. A processor that honours the guard in
  * its own projection or row loop is row-local, and a chain of those
  * is one pass over the input in batch and stream alike; any other
  * processor reads its input once per slice through the adapter. The
  * column forms here are the same single-pass shapes for callers that
  * bind columns directly.
  */
object FlowControl {

  val ErrorCol = "error"

  /** Ensure the error column exists (null = healthy). */
  def withErrorChannel(df: DataFrame): DataFrame =
    if (df.columns.contains(ErrorCol)) df
    else df.withColumn(ErrorCol, lit(null).cast("string"))

  /** `switch` (processors/switch.adoc:26): first matching case labels the
    * row. Compiles to one CASE WHEN chain — no branch materialization.
    */
  def switch(cases: Seq[(Column, Column)], default: Column): Column =
    cases.foldRight(default) { case ((pred, out), els) =>
      when(pred, out).otherwise(els)
    }

  /** `try`-style guarded computation: applies `attempt`; rows where
    * `failed` holds get the error set and a null result; healthy rows
    * keep error = null. Mirrors try.adoc:26 + catch.adoc:26 without
    * splitting/unioning the plan.
    */
  def tryColumn(df: DataFrame, outCol: String, attempt: Column,
                failed: Column, errMsg: Column): DataFrame = {
    val d = withErrorChannel(df)
    d.withColumn(outCol, when(failed, lit(null)).otherwise(attempt))
      .withColumn(ErrorCol,
        when(col(ErrorCol).isNotNull, col(ErrorCol))
          .otherwise(when(failed, errMsg)))
  }

  /** `reject_errored` (outputs/reject_errored.adoc:26): split healthy
    * from errored.
    */
  def rejectErrored(df: DataFrame): (DataFrame, DataFrame) = {
    val d = withErrorChannel(df)
    (d.filter(col(ErrorCol).isNull), d.filter(col(ErrorCol).isNotNull))
  }

  /** `parallel` (processors/parallel.adoc:26): concurrent per-message
    * processing with a parallelism cap → executor parallelism; the cap
    * maps to a repartition when the caller needs to bound fan-out
    * against an external system.
    */
  def parallel(df: DataFrame, children: DataFrame => DataFrame,
               cap: Option[Int] = None): DataFrame =
    children(cap.map(df.repartition(_)).getOrElse(df))

  /** `while` (processors/while.adoc:26): re-apply `body` while the
    * driver-evaluated predicate holds, up to `maxIters` (the reference
    * interprets per message; a bounded driver loop is the distributed
    * rewrite — divergence documented in SURVEY.md §7.3).
    */
  def whileLoop(df: DataFrame, cond: DataFrame => Boolean,
                body: DataFrame => DataFrame, maxIters: Int = 100): DataFrame = {
    var cur = df
    var i = 0
    while (i < maxIters && cond(cur)) {
      // cond() runs an action per iteration against the accumulated
      // plan; localCheckpoint truncates the lineage so iteration k does
      // not recompute all k−1 predecessors (O(n²) total work otherwise)
      cur = body(cur).localCheckpoint()
      i += 1
    }
    cur
  }

  /** `workflow` (processors/workflow.adoc:25-90): a DAG of named
    * branches; each branch transform sees the results of its
    * dependencies. Spark schedules independent subtrees concurrently, so
    * the reference's dependency-parallelism comes for free — this just
    * topologically orders the plan construction.
    */
  def workflow(root: DataFrame,
               branches: Seq[(String, Seq[String], Map[String, DataFrame] => DataFrame)])
      : Map[String, DataFrame] = {
    val done = scala.collection.mutable.LinkedHashMap[String, DataFrame]("root" -> root)
    var remaining = branches
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(_._2.forall(done.contains))
      require(ready.nonEmpty,
        s"workflow cycle or missing dep among: ${blocked.map(_._1).mkString(",")}")
      ready.foreach { case (name, _, f) => done(name) = f(done.toMap) }
      remaining = blocked
    }
    done.toMap
  }

  /** `branch` (processors/branch.adoc:26): request_map → child transform →
    * result_map merged back. When the child is expressible column-wise it
    * is a plain withColumns; a genuinely relational child (external join)
    * re-joins on a row id supplied by the caller.
    */
  def branch(df: DataFrame, requestCols: Seq[Column], idCol: Column,
             child: DataFrame => DataFrame): DataFrame = {
    val req = df.select((idCol.as("__branch_id") +: requestCols): _*)
    val res = child(req)
    df.join(res, idCol === col("__branch_id"), "left").drop("__branch_id")
  }
}
