package graft.blobl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.expressions.JsonMerge

/** `graft_json_content`, the one-expression message content of a mapped
  * document, against the three-branch composition it replaces
  * (normalize, then a `startsWith("\"")` test choosing between a variant
  * parse cast to string and the normalized text), over the same compiled
  * root documents.
  */
class JsonContentSpec extends SparkSpec {
  import spark.implicits._

  /** The composition `graft_json_content` replaces. */
  private def threeBranch(rootJson: Column): Column = {
    val norm = call_function("graft_json_normalize", rootJson)
    when(norm.startsWith("\""), try_parse_json(norm).cast("string"))
      .otherwise(norm)
  }

  /** Input rows in order, in a plan the optimizer cannot fold into a
    * local relation, so the generated code runs.
    */
  private def frame(in: Seq[String]): DataFrame = in.toDF("value").coalesce(1)

  private def pairs(df: DataFrame, res: Compiler.DocResult): Seq[(String, String)] =
    df.filter(res.assigned && !res.deleted)
      .select(call_function("graft_json_content", res.rootJson),
        threeBranch(res.rootJson))
      .as[(String, String)].collect().toSeq

  /** Root documents of `src` over `in`, compiled as `mapping` (a fresh
    * `{}` root) or `mutation` (the normalized input) compiles them.
    */
  private def roots(in: Seq[String], src: String, fresh: Boolean): Seq[(String, String)] = {
    val df = frame(in)
    Compiler.prepare(df)
    val env = Compiler.Env(
      Compiler.Json(try_parse_json(col("value")), col("value")),
      Map.empty, None, Map.empty)
    val init =
      if (fresh) lit("{}") else call_function("graft_json_normalize", col("value"))
    pairs(df, Compiler.runStatements(Parser.parse(src).stmts, init, env))
  }

  private def values(df: DataFrame): Seq[String] =
    df.select("value").as[String].collect().toSeq

  private def parity(in: Seq[String], src: String, fresh: Boolean): Seq[String] = {
    val p = roots(in, src, fresh)
    p.foreach { case (one, three) => assert(one == three, s"`$src`") }
    val out = values(
      if (fresh) Blobl.mapping(frame(in), src)
      else Blobl.mutation(frame(in), src))
    assert(out == p.map(_._2), s"`$src`")
    out
  }

  private val docs = Seq(
    """{"s":"foo & bar","q":"say \"hi\" \\ é","n":11.0,"a":[3,1],"o":{"b":2,"a":1}}""",
    """{"s":"","q":"é","n":-2.5,"a":[],"o":{}}""")

  test("over raw root texts the kernel equals the three-branch form") {
    val texts = Seq("\"foo & bar\"", "\"\\u00e9 \\\"q\\\"\"",
      """{"b":1,"a":[2," graft:deleted "],"c":" graft:deleted "}""",
      "[1,2]", "3.0", "-0.5", "null", "true")
    val got = frame(texts).select(call_function("graft_json_content", col("value")),
      threeBranch(col("value"))).as[(String, String)].collect().toSeq
    got.foreach { case (one, three) => assert(one == three) }
    assert(got.map(_._1) == Seq("foo & bar", "é \"q\"", """{"a":[2],"b":1}""",
      "[1,2]", "3", "-0.5", "null", "true"))
  }

  test("a string root comes out raw, escapes decoded") {
    assert(parity(docs, "root = this.s", fresh = true) == Seq("foo & bar", ""))
    assert(parity(docs, "root = this.q", fresh = true) == Seq("say \"hi\" \\ é", "é"))
    assert(parity(Seq("{}"), "root = \"foo & bar\"", fresh = true) == Seq("foo & bar"))
  }

  test("object, array, number and null roots keep their normalized form") {
    assert(parity(docs, "root = this.o", fresh = true) ==
      Seq("""{"a":1,"b":2}""", "{}"))
    assert(parity(docs, "root = this.a", fresh = true) == Seq("[3,1]", "[]"))
    assert(parity(docs, "root = this.n", fresh = true) == Seq("11", "-2.5"))
    // a null root is SQL null through both forms
    assert(parity(docs, "root = null", fresh = true) == Seq(null, null))
    assert(parity(docs, "root.x = this.o\nroot.y = this.s", fresh = true) == Seq(
      """{"x":{"a":1,"b":2},"y":"foo & bar"}""", """{"x":{},"y":""}"""))
  }

  test("deleted-sentinel values are stripped from objects and arrays") {
    val src = """root = {"keep": this.n, "gone": deleted(), "arr": [1, deleted(), 2]}"""
    assert(parity(docs, src, fresh = true) == Seq(
      """{"arr":[1,2],"keep":11}""", """{"arr":[1,2],"keep":-2.5}"""))
    val mutated = parity(docs, "root.o.b = deleted()", fresh = false)
    assert(mutated.head.contains(""""o":{"a":1}"""))
    assert(mutated.last == """{"a":[],"n":-2.5,"o":{},"q":"é","s":""}""")
  }

  test("mutation: a whole-root string assignment comes out raw") {
    assert(parity(docs, "root = this.s.uppercase()", fresh = false) ==
      Seq("FOO & BAR", ""))
    assert(parity(docs, "root.extra = this.s", fresh = false).head.endsWith(
      """"s":"foo & bar"}"""))
  }

  test("branch.result_map writes the same content as the three-branch form") {
    val df = Seq(
      ("""{"id":1}""", """{"r":"foo & bar"}"""),
      ("""{"id":2}""", """{"r":{"z":1,"y":2}}"""),
      ("""{"id":3}""", null))
      .toDF("value", "branch").coalesce(1)
    for (src <- Seq("root.got = this.r", "root = this.r")) {
      val out = values(Blobl.resultMap(df, src, "branch", "value"))
      Compiler.prepare(df)
      val env = Compiler.Env(
        Compiler.Json(try_parse_json(col("branch")), col("branch")),
        Map.empty, None, Map.empty)
      val res = Compiler.runStatements(Parser.parse(src).stmts,
        call_function("graft_json_normalize", col("value")), env)
      val expected = df.select(when(col("branch").isNotNull && res.assigned,
        threeBranch(res.rootJson)).otherwise(col("value"))).as[String].collect().toSeq
      assert(out == expected, s"`$src`")
    }
    assert(values(Blobl.resultMap(df, "root = this.r", "branch", "value")) ==
      Seq("foo & bar", """{"y":2,"z":1}""", """{"id":3}"""))
  }

  /** Root-most `graft_json_merge` nodes: one per copy of a merge chain. */
  private def mergeChains(e: Expression): Int = e match {
    case _: JsonMerge => 1
    case other => other.children.map(mergeChains).sum
  }

  test("the mapped projection holds the root merge chain once") {
    val src = """root.order_id = this.id
                |root.customer = this.customer.uppercase()
                |root.n_items = this.items.length()
                |root.total = this.items.map_each(it -> it.qty * it.c).sum()""".stripMargin
    val in = Seq("""{"id":1,"customer":"ann","items":[{"qty":2,"c":5}]}""")
    val mapped = Blobl.mapping(frame(in), src)
    assert(values(mapped) == Seq("""{"customer":"ANN","n_items":1,"order_id":1,"total":10}"""))
    // the analyzed plan too: each batch of a stream re-optimizes it
    for (plan <- Seq(mapped.queryExecution.analyzed, mapped.queryExecution.optimizedPlan)) {
      val chains = plan.collect { case p => p.expressions.map(mergeChains).sum }.sum
      assert(chains == 1, s"root merge chains in the plan: $chains\n$plan")
    }
    val exec = mapped.queryExecution.executedPlan
    assert(exec.collect { case p => p.expressions.map(mergeChains).sum }.sum == 1)
  }
}
