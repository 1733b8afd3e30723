package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Flow-control operators not exercised by the oracle queries:
  * while-loop iteration.
  */
class FlowControlSpec extends SparkSpec {

  test("whileLoop applies children until the condition clears") {
    import spark.implicits._
    val df = Seq(1, 40, 300).toDF("x")
    // halve values above 10 until none remain above 10
    val out = FlowControl.whileLoop(df,
      cond = d => d.filter(col("x") > 10).count() > 0,
      body = d => d.withColumn("x",
        when(col("x") > 10, (col("x") / 2).cast("int")).otherwise(col("x"))),
      maxIters = 20)
    assert(out.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 9, 10))
  }
}
