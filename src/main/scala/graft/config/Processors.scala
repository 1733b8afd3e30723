package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.blobl.Blobl
import graft.config.Component.{interp, metaColOf, stringMap, strings}
import graft.operators.{BatchOps, Jq, Observe}

/** Config-form processor vocabulary, shared by [[Pipeline]] and the
  * declarative test harness ([[graft.testkit.DeclarativeTest]]).
  *
  * Covers every reference processor family that is expressible in this
  * environment. The few that need a connector or runtime the container
  * lacks (`EnvBlocked`) are rejected with an "environment-blocked"
  * message rather than a silent stub. Cloud AI chat processors
  * (`openai_chat_completion`, `ollama_chat`, `cohere_chat`, …) compile
  * onto the pluggable batched client of [[graft.operators.Ai]].
  *
  * Envelope contract: the payload is `value: string`; `metadata:
  * map<string,string>` optional; `error: string` is the error channel
  * (null = healthy; a failed processor sets it and the row keeps
  * flowing); `__seq: long` (input order) is used as the in-batch ordinal
  * by part-indexed ops — synthesized from the split ordinal when an
  * exploding processor (unarchive/text_chunker/string_split) multiplies
  * rows. Binary payloads (compress/avro/protobuf/msgpack encodings)
  * travel base64-encoded in `value` — the envelope stays a string
  * column; a production sink that wants raw bytes applies `unbase64`.
  *
  * Guard contract: every entry compiles to a [[Step]], called with the
  * [[Guard]] of the flow-control node around it (none at top level). A
  * step processes the rows where the guard holds; every other row comes
  * out unchanged and runs no side effect. A row-local entry (`mapping`,
  * `bloblang`, `mutation`, `awk`, both `metric` forms, `log`, `noop`,
  * `sleep`, `rate_limit` and the snapshot `cache get`) honours that in
  * its own projection or row loop; every other entry is frame-level and
  * runs through [[adapt]], which splits its input once into guarded and
  * other rows. The flow-control nodes (`try`, `catch`, `try_catch`,
  * `switch`, `retry`, `workflow`, and `processors`/`for_each`) are steps
  * themselves: they guard their children and never split the frame, so
  * a chain of row-local children stays one pass, in batch and stream.
  */
object Processors {

  import graft.operators.{Ai, Command, Embeddings, FlowControl, Grok, Http, JavaScript, Sentry}
  import graft.functions.{CodecFunctions, TextFunctions}

  def compile(p: JsonNode, env: Map[String, String]): DataFrame => DataFrame = {
    val s = step(p, env)
    df => s(df, None)
  }

  private def step(p: JsonNode, env: Map[String, String]): Step =
    family.resolve(p, env) match {
      case Component.Found(make, node) => make(node.body, env)
      case t: Component.Templated =>
        // expansion needs a session; defer to first use so compile stays
        // callable before any frame exists
        (df, g) => t.expand(df.sparkSession)(step(_, env)(df, g))
    }

  /** The rows a step processes: those where `rows` holds (never null).
    * `shared`: an earlier step of an enclosing node made the input.
    */
  private final case class Guard(rows: Column, shared: Boolean)

  private type Step = (DataFrame, Option[Guard]) => DataFrame
  private type Make = (JsonNode, Map[String, String]) => Step
  private type Frame = (JsonNode, Map[String, String]) => DataFrame => DataFrame

  /** Row-local entries and flow-control nodes: they honour the guard. */
  private def guarded(names: String*)(make: Make): Seq[(String, Make)] =
    names.map(_ -> make)

  /** Frame-level entries, run under a guard through [[adapt]]. */
  private def entry(names: String*)(make: Frame): Seq[(String, Make)] =
    guarded(names: _*)((body, env) => adapt(make(body, env)))

  /** Frame-level entries whose compile depends on the name used. */
  private def byKind(names: String*)(make: String => Frame): Seq[(String, Make)] =
    names.flatMap(k => entry(k)(make(k)))

  /** Connector/runtime processors that cannot run in this environment —
    * kept as an explicit list so the error names the real reason.
    */
  private val EnvBlocked: Set[String] = Set(
    "mongodb", "redis_script", "nats_request_reply", "jira", "slack_thread",
    "qdrant", "sync_response")

  private val family = new Component.Family[Make]("processor", attaches = false,
    other =>
      if (EnvBlocked(other))
        s"processor '$other' is environment-blocked here: it needs a connector jar, " +
          "network egress, or an embedded runtime this container lacks"
      else s"processor '$other' not supported in config form yet")(
    // ── mapping layer ────────────────────────────────────────────
    guarded("mapping", "bloblang") { (body, env) =>
      (df, g) => {
        val (d, meta) = Blobl.ensureMeta(df, body.asText)
        Blobl.mapping(d, body.asText, env, metadataCol = meta,
          guard = g.map(_.rows))
      }
    },
    guarded("mutation") { (body, env) =>
      (df, g) => {
        val (d, meta) = Blobl.ensureMeta(df, body.asText)
        Blobl.mutation(d, body.asText, env, metadataCol = meta,
          guard = g.map(_.rows))
      }
    },
    entry("jq") { (body, env) =>
      df => Jq.run(df, body.asText, "value", "value")
    },
    entry("jmespath") { (body, env) =>
      // processors/jmespath.adoc:26 — path query replaces the doc
      df => Jq.jmespath(df, body.path("query").asText(body.asText),
        "value", "value")
    },
    guarded("noop")((_, _) => (df, _) => df),
    guarded("awk") { (body, env) =>
      // processors/awk.adoc:26 — codec none|text|json + program;
      // custom json_*/metadata_*/timestamp functions built in
      val program = body.get("program").asText
      val codec = body.path("codec").asText("text")
      (df, g) => graft.operators.AwkOps.awk(df, program, codec, g.map(_.rows))
    },
    entry("javascript") { (body, env) =>
      // processors/javascript.adoc:26 — `code` or `file` (exactly
      // one), `global_folders` for require() resolution
      val code = Option(body.get("code")).map(_.asText).filter(_.nonEmpty)
      val file = Option(body.get("file")).map(_.asText).filter(_.nonEmpty)
      require(code.isDefined != file.isDefined,
        "javascript: exactly one of code/file must be set")
      val src = code.getOrElse(new String(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(file.get)),
        java.nio.charset.StandardCharsets.UTF_8))
      val folders = Option(body.get("global_folders")).map(strings).getOrElse(Nil)
      val modules = JavaScript.loadModules(folders)
      df => JavaScript.processor(df, src, modules)
    },
    entry("wasm") { (body, env) =>
      // processors/wasm.adoc — module_path (the .wasm binary) +
      // function (default "process"), run on graft's own engine
      val path = body.get("module_path").asText
      val fn = body.path("function").asText("process")
      val moduleBytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path))
      df => graft.operators.Wasm.processor(df, moduleBytes, fn)
    },
    entry("ffi") { (body, env) =>
      // processors/ffi.adoc — dlopen + per-message downcall; the
      // signature object mirrors the reference's return/parameters
      // shape (internal/impl/ffi/processor.go:50)
      import graft.operators.Ffi
      val libPath = body.get("library_path").asText
      val fnName = body.get("function_name").asText
      val argsMapping = body.get("args_mapping").asText
      val sigNode = body.get("signature")
      val ret = Ffi.retType(sigNode.at("/return/type").asText("void"))
      val params = Option(sigNode.get("parameters")).toSeq
        .flatMap(_.elements().asScala).map { p =>
          Ffi.Param(Ffi.paramType(p.get("type").asText),
            p.path("out").asBoolean(false))
        }
      df => Ffi.processor(df, libPath, fnName,
        Ffi.Signature(ret, params), argsMapping)
    },
    entry("redpanda_data_transform") { (body, env) =>
      // internal/impl/redpanda/processor_data_transform.go:60 —
      // Redpanda Data Transform guests on graft's own wasm engine;
      // key/timestamp come from named metadata (the reference's
      // interpolation forms resolve metadata the same way)
      val moduleBytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(body.get("module_path").asText))
      val inKey = Option(body.path("input_key").asText(null))
      val outKey = Option(body.path("output_key").asText(null))
      val tsMeta = Option(body.path("timestamp").asText(null))
      df => {
        // the guest's output batch REPLACES the input batch (record
        // counts may change), so __seq is re-derived in emit order —
        // partition-encoded, like every rebatching processor here
        val out = graft.operators.RedpandaTransform.processor(
          df, moduleBytes, inputKeyMeta = inKey, outputKeyMeta = outKey,
          timestampMeta = tsMeta)
        if (df.columns.contains("__seq"))
          out.withColumn("__seq", monotonically_increasing_id())
        else out
      }
    },
    entry("redpanda_agent_runtime") { (body, env) =>
      // internal/agent/agent_processor.go:49 — per-message InvokeAgent
      // to a pooled guest subprocess (handshake + gRPC over h2c); the
      // guest's MCP tool calls resolve against `mcp_server`
      val command = Option(body.get("command")).toSeq
        .flatMap(_.elements().asScala).map(_.asText)
      val mcpServer = body.path("mcp_server").asText("")
      val cwd = body.path("cwd").asText("")
      df => graft.agent.AgentRuntime.processor(df, command, mcpServer, cwd)
    },
    // ── flow control / error channel (§2.2) ──────────────────────
    guarded("switch") { (body, env) =>
      // processors/switch.adoc:26 — first matching case's processors
      // run; non-matching messages pass through unchanged. The case
      // index is computed once, before any case's children change the
      // fields the checks read.
      val cases = body.elements().asScala.toSeq.map { c =>
        val check = Option(c.get("check")).map(_.asText).filter(_.nonEmpty)
        (check, steps(c.get("processors"), env))
      }
      (df, g) => {
        val preds = cases.map(_._1.fold(lit(true))(Blobl.predicateJson(
          df, _, env, metadataCol = metaColOf(df))))
        val index = FlowControl.switch(
          preds.zipWithIndex.map { case (p, k) => (p, lit(k)) }, lit(-1))
        val (d, caseCol) = pin(df, g.fold(index)(x => when(x.rows, index)),
          orElse = lit(-1))
        cases.zipWithIndex.foldLeft((d, g.exists(_.shared))) {
          case ((cur, shared), ((_, kids), k)) =>
            (chain(kids, cur, col(caseCol) === k, shared),
              shared || kids.nonEmpty)
        }._1.drop(caseCol)
      }
    },
    entry("branch") { (body, env) =>
      // processors/branch.adoc:26 — request_map → child processors →
      // result_map merged back onto the original by row id
      val reqMap = Option(body.get("request_map")).map(_.asText)
      val procs = children(body.get("processors"), env)
      val resMap = Option(body.get("result_map")).map(_.asText)
      df => {
        // withSeq may synthesize __seq via monotonically_increasing_id
        // (nondeterministic); the self-join below evaluates each side
        // independently, so pin the ids with a localCheckpoint before
        // splitting — otherwise a re-read with different row order
        // joins branch results onto the wrong originals. Streaming
        // plans can't checkpoint here and must carry a real __seq.
        // the rejoin needs a GLOBALLY unique row id: __seq is only
        // unique within a batch (group_by_value resets it per group),
        // and joining on a colliding id cross-multiplies rows (r18
        // bug: branch after group_by_value duplicated every chunk by
        // the number of groups). Batch plans pin a fresh id with a
        // localCheckpoint; streaming plans keep their real __seq.
        val (keyed, idCol) =
          if (df.isStreaming) (withSeq(df), "__seq")
          else (df.withColumn("__brid", monotonically_increasing_id())
            .localCheckpoint(), "__brid")
        val req0 = keyed.select(col(idCol).as("__bid"),
          col("value"))
        val req = reqMap.map(Blobl.mapping(req0, _, env)).getOrElse(req0)
        val branchedRaw = procs(req)
        // a failed child errors the ORIGINAL message (branch.adoc:
        // abort semantics) — carry the branch-side error through the
        // rejoin and leave such rows' documents untouched
        val branched = branchedRaw.select(col("__bid"),
          col("value").as("__branch_value"),
          (if (branchedRaw.columns.contains("error")) col("error")
           else lit(null).cast("string")).as("__branch_err"))
        // drop branched's __bid BY REFERENCE: a by-name drop would
        // also remove an OUTER branch's __bid when branches nest
        // (workflow score branch wrapping a while-loop branch)
        val joined = keyed.join(branched,
          keyed(idCol) === branched("__bid"), "left")
          .drop(branched("__bid"))
        val merged = resMap match {
          case Some(rm) =>
            val pre = joined.withColumn("__orig_value", col("value"))
            Blobl.resultMap(pre, rm,
              "__branch_value", "value", env, metaColOf(df))
              .withColumn("value", when(col("__branch_err").isNotNull,
                col("__orig_value")).otherwise(col("value")))
              .drop("__orig_value")
          case None => joined.drop("__branch_value")
        }
        val withErr =
          if (merged.columns.contains("error"))
            merged.withColumn("error",
              coalesce(col("error"), col("__branch_err")))
          else merged.withColumn("error", col("__branch_err"))
        withErr.drop("__branch_err", "__brid")
      }
    },
    guarded("try") { (body, env) =>
      // processors/try.adoc:26 — each child skips the rows an earlier
      // processor errored
      val kids = steps(body, env)
      (df, g) => chain(kids, FlowControl.withErrorChannel(df),
        within(g, col("error").isNull), g.exists(_.shared))
    },
    guarded("try_catch") { (body, env) =>
      // processors/try_catch.adoc — try semantics over `processors`;
      // failures move into a metadata object ({"what": …}, field
      // `error_metadata`) with the flag CLEARED before `catch` runs,
      // so recovery reads @error.what and new catch-side failures
      // surface as fresh errors
      val tryKids = steps(body.get("processors"), env)
      val catchKids = steps(body.get("catch"), env)
      val errField = body.path("error_metadata").asText("error")
      (df, g) => {
        val shared = g.exists(_.shared)
        val (d, on) = pin(FlowControl.withErrorChannel(df), within(g, lit(true)))
        val tried = chain(tryKids, d, col(on) && col("error").isNull, shared)
        val (t, caught) = pin(tried, col(on) && col("error").isNotNull)
        val cleared = t
          .withColumn("metadata", when(col(caught), metaPut(metaColOf(t),
            lit(errField), to_json(struct(col("error").as("what")))))
            .otherwise(metaColOf(t).map(col).orNull))
          .withColumn("error", when(col(caught), lit(null)).otherwise(col("error")))
        chain(catchKids, cleared, col(caught), shared || tryKids.nonEmpty)
          .drop(on, caught)
      }
    },
    guarded("catch") { (body, env) =>
      // processors/catch.adoc:26 — children run on errored rows only,
      // then the error clears
      val kids = steps(body, env)
      (df, g) => {
        val (d, caught) = pin(FlowControl.withErrorChannel(df),
          within(g, col("error").isNotNull))
        chain(kids, d, col(caught), g.exists(_.shared))
          .withColumn("error", when(col(caught), lit(null)).otherwise(col("error")))
          .drop(caught)
      }
    },
    guarded("retry") { (body, env) =>
      // processors/retry.adoc:26 — re-run children on still-errored
      // rows up to max_retries (deterministic transforms converge
      // after one pass; the loop matters for external-call children):
      // a fixed unroll, each pass guarded by the rows the last one
      // left errored
      val kids = steps(body.get("processors"), env)
      val maxRetries = body.path("max_retries").asInt(3)
      (df, g) => {
        val (d, redo) = pin(FlowControl.withErrorChannel(df), within(g, lit(true)))
        val first = chain(kids, d, col(redo), g.exists(_.shared))
        (1 to maxRetries).foldLeft(first) { (cur, _) =>
          val again = cur.withColumn(redo, col(redo) && col("error").isNotNull)
            .withColumn("error", when(col(redo), lit(null)).otherwise(col("error")))
          chain(kids, again, col(redo), shared = true)
        }.drop(redo)
      }
    },
    Seq("for_each", "processors").flatMap(kind => guarded(kind) { (body, env) =>
      // per-message singleton batches = Spark's default row semantics
      // — UNLESS the chain mutates a cache, where the reference's
      // contract is that message i finishes the WHOLE chain before
      // message i+1 starts (config/examples/joining_streams.yaml:
      // "a given message of a batch is cached before the next
      // message is hydrated"). That cross-message coherence is
      // inherently sequential in ANY engine; only then do we run a
      // driver loop over the (control-sized) batch. Stateless chains
      // keep the distributed row-wise plan, their children under this
      // node's guard.
      val mutatesCache = {
        def walk(n: JsonNode): Boolean = n match {
          case a: com.fasterxml.jackson.databind.node.ArrayNode =>
            a.elements().asScala.exists(walk)
          case o: com.fasterxml.jackson.databind.node.ObjectNode =>
            Option(o.get("cache")).exists(c => Set("set", "add", "delete")(
              c.path("operator").asText("get"))) ||
              o.properties().asScala.exists(e => walk(e.getValue))
          case _ => false
        }
        kind == "for_each" && walk(body)
      }
      val kids = steps(body, env)
      if (!mutatesCache)
        (df, g) => g.fold(run(kids)(df))(x => chain(kids, df, x.rows, x.shared))
      else adapt { df =>
        val all = run(kids)
        val spark = df.sparkSession
        val inSchema = df.schema
        val ordered = if (df.columns.contains("__seq"))
          df.orderBy(col("__seq")) else df
        val rows = ordered.collect() // bounded: for_each control batch
        if (rows.isEmpty) all(df.limit(0))
        else {
          val outs = rows.toSeq.map { r =>
            val single = spark.createDataFrame(
              java.util.Arrays.asList(r), inSchema)
            val out = all(single)
            // materialize NOW so this message's cache writes precede
            // the next message's reads
            (out.schema, out.collect().toSeq)
          }
          outs.map { case (sch, rs) =>
            spark.createDataFrame(rs.asJava, sch)
          }.reduce(_.unionByName(_, allowMissingColumns = true))
        }
      }
    }),
    entry("parallel") { (body, env) =>
      val procs = children(body.get("processors"), env)
      val cap = body.path("cap").asInt(0)
      df => FlowControl.parallel(df, procs,
        if (cap > 0) Some(cap) else None)
    },
    entry("while") { (body, env) =>
      // processors/while.adoc:26 — driver-bounded re-application
      val check = body.get("check").asText
      val procs = children(body.get("processors"), env)
      val maxLoops = body.path("max_loops").asInt(10)
      df => FlowControl.whileLoop(df,
        d => !d.filter(Blobl.predicateJson(d, check, env,
          metadataCol = metaColOf(d))).isEmpty,
        procs, maxLoops)
    },
    guarded("workflow") { (body, env) =>
      // processors/workflow.adoc — DAG of named branches. `order`
      // may be flat or tiered; when omitted, the DAG is INFERRED
      // from the mappings (workflow.adoc:100-105): branch B depends
      // on branch A when B's request_map reads a root field A's
      // result_map assigns. `meta_path` (default meta.workflow)
      // stores the {succeeded, skipped, failed} execution record IN
      // the message (workflow.adoc:351-371), branch failures are
      // recorded rather than failing the message, an existing record
      // at the path skips already-done branches on replay, and the
      // old record is preserved under `.previous`.
      val stages = body.get("branches")
      val names = stages.properties().asScala.map(_.getKey).toSeq
      val metaPath = body.path("meta_path").asText("meta.workflow")
      def srcOf(n: String, f: String): Option[String] =
        Option(stages.at(s"/$n/$f")).filterNot(_.isMissingNode)
          .map(_.asText).filter(_.nonEmpty)
      def thisHeads(x: Any): Set[String] = x match {
        case graft.blobl.Ast.ThisPath(segs) if segs.nonEmpty =>
          Set(segs.head)
        case s: Seq[_] => s.flatMap(thisHeads).toSet
        case o: Option[_] => o.toSeq.flatMap(thisHeads).toSet
        case p: Product => p.productIterator.flatMap(thisHeads).toSet
        case _ => Set.empty
      }
      val provides: Map[String, Set[String]] = names.map(n =>
        n -> srcOf(n, "result_map").map(src =>
          graft.blobl.Parser.parse(src).stmts.collect {
            case graft.blobl.Ast.RootAssign(segs, _) if segs.nonEmpty =>
              segs.head
          }.toSet).getOrElse(Set.empty)).toMap
      val needs: Map[String, Set[String]] = names.map(n =>
        n -> srcOf(n, "request_map").map(src =>
          thisHeads(graft.blobl.Parser.parse(src))).getOrElse(Set.empty))
        .toMap
      val deps: Map[String, Seq[String]] = names.map(b =>
        b -> names.filter(a => a != b && (provides(a) & needs(b)).nonEmpty))
        .toMap
      val declared = Option(body.get("order"))
        .map(_.elements().asScala.toSeq.flatMap(n =>
          if (n.isArray) n.elements().asScala.toSeq.map(_.asText)
          else Seq(n.asText))).filter(_.nonEmpty)
      val order = declared.getOrElse {
        // Kahn topological sort; ties keep declaration order
        val done = scala.collection.mutable.LinkedHashSet.empty[String]
        while (done.size < names.size) {
          val ready = names.filter(n => !done(n) &&
            deps(n).forall(done))
          require(ready.nonEmpty, "workflow: cyclic branch " +
            s"dependencies among ${names.filterNot(done).mkString(", ")}")
          done ++= ready
        }
        done.toSeq
      }
      val branchSteps = order.map(n =>
        n -> step(yamlObj("branch", stages.get(n)), env)).toMap
      (df0, g) => {
        val (df, on) = pin(FlowControl.withErrorChannel(df0), within(g, lit(true)))
        val emptyArr = array().cast("array<string>")
        var cur = df
          .withColumn("__wf_succ", emptyArr)
          .withColumn("__wf_skip", emptyArr)
          .withColumn("__wf_fail", map().cast("map<string,string>"))
        val vpath = "$." + metaPath
        // replay support: branches recorded succeeded/skipped in an
        // existing meta object do not run again; failed ones retry
        cur = cur
          .withColumn("__wf_done0", coalesce(
            concat(
              variant_get(try_parse_json(col("value")),
                vpath + ".succeeded", "array<string>"),
              variant_get(try_parse_json(col("value")),
                vpath + ".skipped", "array<string>")),
            emptyArr))
          .withColumn("__wf_prev",
            to_json(variant_get(try_parse_json(col("value")), vpath,
              "variant")))
        // each branch runs over its eligible rows; the outcome is
        // recorded per row by guarded projections
        order.zipWithIndex.foreach { case (b, i) =>
          val eligC = deps(b).foldLeft(col(on) && col("error").isNull &&
            !array_contains(col("__wf_done0"), lit(b)))((c, a) =>
            c && array_contains(col("__wf_succ"), lit(a)))
          val (e, elig) = pin(cur, eligC)
          val ran = branchSteps(b)(e,
            Some(Guard(col(elig), g.exists(_.shared) || i > 0)))
          val failed = col(elig) && col("error").isNotNull
          cur = ran
            .withColumn("__wf_succ", when(col(elig) && col("error").isNull,
              array_append(col("__wf_succ"), lit(b))).otherwise(col("__wf_succ")))
            .withColumn("__wf_skip", when(col(on) && !col(elig),
              array_append(col("__wf_skip"), lit(b))).otherwise(col("__wf_skip")))
            .withColumn("__wf_fail", when(failed, map_concat(col("__wf_fail"),
              map(lit(b), coalesce(col("error"), lit("failed")))))
              .otherwise(col("__wf_fail")))
            .withColumn("error", when(failed, lit(null)).otherwise(col("error")))
            .drop(elig)
        }
        // store the execution record in the document at metaPath
        // (only JSON-object payloads can carry it — same constraint
        // as the reference's dot-path set)
        val recObj = to_json(struct(
          col("__wf_succ").as("succeeded"),
          col("__wf_skip").as("skipped"),
          col("__wf_fail").as("failed")))
        val withPrev = when(col("__wf_prev").isNotNull,
          call_function("graft_json_assign", recObj,
            concat(lit("{\"previous\":"), col("__wf_prev"), lit("}"))))
          .otherwise(recObj)
        val nested = metaPath.split("\\.").foldRight(withPrev)(
          (seg, inner) => concat(lit("{\"" + seg + "\":"), inner,
            lit("}")))
        cur.withColumn("value",
            when(col(on) && try_parse_json(col("value")).isNotNull &&
                 schema_of_variant(try_parse_json(col("value")))
                   .startsWith("OBJECT"),
              call_function("graft_json_assign",
                call_function("graft_json_normalize", col("value")),
                nested))
              .otherwise(col("value")))
          .drop("__wf_succ", "__wf_skip", "__wf_fail", "__wf_done0",
            "__wf_prev", on)
      }
    },
    entry("crash") { (body, env) =>
      val check = body.path("check").asText("true")
      val msg = body.path("message").asText("crash processor reached")
      df => Observe.crashOn(df,
        Blobl.predicateJson(df, check, env, metadataCol = metaColOf(df)), msg)
    },
    // processors/sleep.adoc:26 — backpressure belongs to source
    // admission in Spark (Resources.rateLimitOptions), and so does
    // rate_limits/local.adoc:26 (maxRowsPerTrigger): in-plan both are
    // identity
    guarded("sleep", "rate_limit")((_, _) => (df, _) => df),
    guarded("log") { (body, env) =>
      (df, g) => Observe.logSample(df, every = body.path("every").asLong(1000),
        prefix = body.path("prefix").asText("pipeline"), guard = g.map(_.rows))
    },
    guarded("metric") { (body, env) =>
      // processors/metric.adoc — attach a named metric at this point
      // of the flow; readings surface through the `metrics:` exporter
      // at flush. counter = rows seen; gauge = the interpolated
      // `value` (max over the frame — observe() is whole-frame). Only
      // the guarded rows count.
      val name = body.path("name").asText("pipeline_metric")
      val mtype = body.path("type").asText("counter")
      val labelTpls: Seq[(String, String)] =
        Option(body.get("labels")).map(_.properties().asScala.toSeq
          .map(e => e.getKey -> e.getValue.asText)).getOrElse(Nil)
      if (labelTpls.isEmpty) (df, g) => {
        def only(c: Column): Column = g.fold(c)(x => when(x.rows, c))
        val (d, obs) = mtype match {
          case "gauge" if body.has("value") =>
            val vC = interp(df, body.get("value").asText, env).cast("double")
            Observe.metric(df, name, Seq(max(only(vC)).as("value")))
          case _ =>
            Observe.metric(df, name, Seq(count(only(lit(1))).as("count")))
        }
        Pipeline.runReadings.value
          .foreach(_.observed.add((name, mtype, obs)))
        d
      }
      else (df, g) => {
        // labeled form: per-label-set readings via an accumulator on
        // the SAME action (labels interpolate per message —
        // processors/metric.adoc labels)
        val lvC = to_json(array(labelTpls.map { case (_, tpl) =>
          interp(df, tpl, env)
            .cast("string")
        }: _*))
        val gvC = if (mtype == "gauge" && body.has("value"))
          interp(df, body.get("value").asText, env).cast("double")
        else lit(Double.NegativeInfinity)
        val acc = new Pipeline.MetricAcc
        df.sparkSession.sparkContext.register(acc, s"graft_metric_$name")
        Pipeline.runReadings.value.foreach(
          _.labeled.add((name, mtype, labelTpls.map(_._1), acc)))
        val tagged0 = df.withColumn("__mlv", lvC).withColumn("__mgv", gvC)
        val tagged = g.fold(tagged0)(x => tagged0.withColumn("__mgd", x.rows))
        val schema = tagged.schema
        implicit val enc = org.apache.spark.sql.Encoders.row(schema)
        val lI = schema.fieldIndex("__mlv")
        val gI = schema.fieldIndex("__mgv")
        val dI = if (g.isEmpty) -1 else schema.fieldIndex("__mgd")
        tagged.mapPartitions { it =>
          val local = scala.collection.mutable
            .HashMap.empty[String, (Long, Double)]
          it.map { r =>
            if (dI < 0 || r.get(dI) == true) {
              val k = r.getString(lI)
              val g = r.getDouble(gI)
              val cur = local.getOrElse(k, (0L, Double.NegativeInfinity))
              local(k) = (cur._1 + 1, math.max(cur._2, g))
            }
            r
          } ++ { acc.add(local.toMap); Iterator.empty }
        }.drop("__mlv", "__mgv", "__mgd")
      }
    },
    entry("benchmark") { (body, env) =>
      // processors/benchmark.adoc:26 — rows/s via an Observation; the
      // plan is unchanged
      df => Observe.metric(df, "benchmark",
        Seq(count(lit(1)).as("rows")))._1
    },
    // ── batch restructuring (§2.3) ───────────────────────────────
    entry("group_by") { (body, env) =>
      // processors/group_by.adoc:26 — first matching predicate wins;
      // the group id lands in metadata AND refines the batch
      // identity (the reference REGROUPS batches — downstream
      // batch-scoped ops see each group as its own batch)
      val checks = body.elements().asScala.toSeq
        .map(c => c.get("check").asText)
      df => {
        val preds = checks.map(Blobl.predicateJson(df, _, env,
          metadataCol = metaColOf(df)))
        regroup(tagMeta(df, "group",
          preds.zipWithIndex.foldRight(lit(-1): Column) {
            case ((p, i), acc) => when(p, lit(i)).otherwise(acc)
          }.cast("string")))
      }
    },
    entry("group_by_value") { (body, env) =>
      val tpl = body.path("value").asText(body.asText)
      df => regroup(tagMeta(df, "group",
        interp(df, tpl, env)))
    },
    entry("split") { (body, env) =>
      // processors/split.adoc:26 — size-N sub-batches by input order.
      // row_number over __seq: only RELATIVE order matters, so this
      // stays correct after unarchive/chunker (__seq = parent*1e6+pos)
      // or a partition-encoded monotonically_increasing_id. Scoped per
      // __batch when the batched input assigned one (hash-partitioned
      // window, no single-reducer plan); split REBATCHES, so __batch
      // is re-derived as parent*1e6+sub so downstream per-batch ops
      // see the sub-batches.
      val n = body.path("size").asInt(1)
      df => {
        val d0 = withSeq(df)
        val batchKey =
          if (d0.columns.contains("__batch")) col("__batch") else lit(0L)
        val d = BatchOps.splitBatches(d0, batchKey, col("__seq"), n)
        val rebatched =
          if (d0.columns.contains("__batch"))
            d.withColumn("__batch",
              col("__batch") * 1000000L + col("sub_batch"))
          else d
        tagMeta(rebatched, "sub_batch", col("sub_batch").cast("string"))
          .drop("sub_batch")
      }
    },
    entry("select_parts") { (body, env) =>
      // per-batch part indices when a batched input assigned __batch
      // (select_parts.adoc is per-batch); whole-stream otherwise
      val parts = body.get("parts").elements().asScala.toSeq.map(_.asInt)
      df => {
        val d = withSeq(df)
        val batchKey =
          if (d.columns.contains("__batch")) col("__batch") else lit(0L)
        BatchOps.selectParts(d, batchKey, col("__seq"), parts)
          .drop("batch_idx")
      }
    },
    entry("insert_part") { (body, env) =>
      val index = body.path("index").asInt(-1)
      val content = body.path("content").asText("")
      // the inserted message has no source row, so content must be a
      // literal (per-row interpolation has nothing to bind to)
      require(!content.contains("${!"),
        "insert_part content interpolation unsupported in config form")
      df => {
        val d0 = withSeq(df)
        // insert is per-batch: one synthesized part per __batch group
        // (a real column also keeps insertPart's group alias a legal
        // envelope column — a lit(0) key would union in a literal-
        // named one)
        val had = d0.columns.contains("__batch")
        val d = if (had) d0 else d0.withColumn("__batch", lit(0L))
        val r0 = BatchOps.insertPart(d, col("__batch"), col("__seq"),
          "value", lit(content), index)
        // re-derive __seq UNIQUELY across batches (a per-batch
        // ordinal would collide between batches and break downstream
        // order/dedupe determinism): existing rows keep their
        // stream-wide ordinal doubled; the inserted row slots in just
        // before the row it displaced (or after the batch's last row
        // when appended) — all per-__batch windows, no global sort
        val wB = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__batch"))
        val r = r0
          .withColumn("__ins_idx",
            max(when(col("__seq").isNull, col("batch_idx"))).over(wB))
          .withColumn("__next", min(when(
            col("batch_idx") === col("__ins_idx") + 1, col("__seq"))).over(wB))
          .withColumn("__max", max(col("__seq")).over(wB))
          .withColumn("__seq",
            when(col("__seq").isNotNull, col("__seq") * 2)
              .otherwise(coalesce(col("__next") * 2 - 1,
                col("__max") * 2 + 1, lit(0L))))
          .drop("__ins_idx", "__next", "__max", "batch_idx")
        if (had) r else r.drop("__batch")
      }
    },
    entry("archive") { (body, env) =>
      // processors/archive.adoc:26 — each BATCH folds into ONE
      // message: per __batch when the batched input assigned one,
      // else the whole stream is one batch
      val fmt = body.path("format").asText("lines")
      df => {
        val d = withSeq(df)
        val batchKey =
          if (d.columns.contains("__batch")) col("__batch") else lit(0L)
        val archived = fmt match {
          case "lines" | "concatenate" =>
            BatchOps.archiveLines(d, batchKey, col("value"), col("__seq"))
          case "json_array" =>
            BatchOps.archiveJsonArray(d, batchKey, col("value"), col("__seq"))
          case other => throw new IllegalArgumentException(
            s"archive format '$other' unsupported in config form (tar/zip are source scanners)")
        }
        // "The resulting archived message adopts the metadata of the
        // _first_ message part of the batch" (processors/archive.adoc:38)
        val firstMeta =
          if (df.columns.contains("metadata"))
            d.groupBy(batchKey.as("key"))
              .agg(min_by(col("metadata"), col("__seq")).as("metadata"))
          else null
        val res = archived.select(col("archived").as("value"),
          col("key").cast("long").as("__seq"), col("key"))
        val withMeta =
          if (firstMeta == null)
            res.withColumn("metadata", map().cast("map<string,string>"))
          else res.join(firstMeta, Seq("key"))
        withMeta.drop("key")
      }
    },
    entry("unarchive") { (body, env) =>
      val fmt = body.path("format").asText("lines")
      df => fmt match {
        case "lines" => explodeParts(df,
          split(col("value"), java.util.regex.Pattern.quote("\n")))
        case "json_array" => explodeParts(df,
          transform(try_parse_json(col("value")).cast("array<variant>"),
            v => to_json(v)))
        case "json_map" =>
          val d = withSeq(df)
          val cols = d.columns.filterNot(_ == "value").map(col)
          d.select(cols :+
              posexplode(try_parse_json(col("value"))
                .cast("map<string,variant>"))
                .as(Seq("__pos", "part_key", "__pv")): _*)
            .withColumn("value", to_json(col("__pv")))
            .withColumn("__seq", col("__seq") * 1000000 + col("__pos"))
            .withColumn("metadata", metaPut(metaColOf(d),
              lit("archive_key"), col("part_key")))
            .drop("__pv", "__pos", "part_key")
        case "csv" =>
          val lines = split(col("value"), "\n")
          val header = split(element_at(lines, 1), ",")
          val rows = slice(lines, lit(2), greatest(size(lines) - 1, lit(0)))
          explodeParts(df, transform(rows,
            r => to_json(map_from_arrays(header, split(r, ",")))))
        case other => throw new IllegalArgumentException(
          s"unarchive format '$other' unsupported in config form")
      }
    },
    entry("string_split") { (body, env) =>
      // processor_string_split.go:84-115 — the message's structured
      // content BECOMES the array of segments (no batch expansion);
      // empty_as_null maps empty segments to null. Spark split keeps
      // trailing empties (limit -1), matching Go strings.Split.
      val delim = body.path("delimiter").asText("\n")
      val emptyAsNull = body.path("empty_as_null").asBoolean(false)
      df => df.withColumn("value", to_json {
        val parts = split(col("value"),
          java.util.regex.Pattern.quote(delim), -1)
        if (emptyAsNull)
          transform(parts, s => when(length(s) === 0, lit(null)).otherwise(s))
        else parts
      })
    },
    entry("text_chunker") { (body, env) =>
      val size = body.path("chunk_size").asInt(512)
      val overlap = body.path("chunk_overlap").asInt(0)
      val strategy = body.path("strategy").asText("fixed")
      df => explodeParts(df, strategy match {
        case "recursive_character" =>
          TextFunctions.chunksRecursive(col("value"), size, overlap)
        case "token" =>
          // text_chunker_processor.go:61,75 — size/overlap in tokens
          TextFunctions.chunksToken(col("value"), size, overlap)
        case _ => TextFunctions.chunks(col("value"), size, overlap)
      })
    },
    entry("dedupe") { (body, env) =>
      // processors/dedupe.adoc:26 — keep the FIRST occurrence per key
      val keyTpl = body.path("key").asText("${! content() }")
      df =>
        if (df.isStreaming) {
          // streaming form: keyed state — the first sighting wins
          // ACROSS micro-batches, and WITHIN one the lowest-__seq row
          // is picked explicitly (dropDuplicates alone keeps an
          // arbitrary row per key inside a batch, which would diverge
          // from the batch window's deterministic first-occurrence).
          // State is unbounded; the TTL-bounded form is
          // StreamDedupe.withinWatermark when an event-time column
          // exists.
          import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
          val d = df.withColumn("__dedupe_key",
            interp(df, keyTpl, env))
          val schema = d.schema
          val keyIdx = schema.fieldIndex("__dedupe_key")
          val seqIdx =
            if (d.columns.contains("__seq")) Some(schema.fieldIndex("__seq"))
            else None
          implicit val rowEnc = org.apache.spark.sql.Encoders.row(schema)
          implicit val boolEnc = org.apache.spark.sql.Encoders.scalaBoolean
          implicit val keyEnc = org.apache.spark.sql.Encoders.STRING
          d.groupByKey(r =>
              if (r.isNullAt(keyIdx)) "\u0000" else r.getString(keyIdx))
            .flatMapGroupsWithState(OutputMode.Append,
              GroupStateTimeout.NoTimeout) {
              (_: String, rows: Iterator[org.apache.spark.sql.Row],
               state: GroupState[Boolean]) =>
                if (state.exists) Iterator.empty
                else {
                  state.update(true)
                  val all = rows.toVector
                  Iterator.single(seqIdx match {
                    case Some(i) => all.minBy(r =>
                      if (r.isNullAt(i)) Long.MaxValue else r.getLong(i))
                    case None => all.head
                  })
                }
            }.drop("__dedupe_key")
        } else {
          val d = withSeq(df).withColumn("__dedupe_key",
            interp(df, keyTpl, env))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("__dedupe_key")).orderBy(col("__seq"))
          d.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn", "__dedupe_key")
        }
    },
    entry("bounds_check") { (body, env) =>
      val min = body.path("min").asInt(0)
      val max = body.path("max").asInt(Int.MaxValue)
      df => BatchOps.boundsCheck(df, col("value"), min, max)
    },
    // ── codecs (§2.10) ───────────────────────────────────────────
    entry("compress") { (body, env) =>
      val algo = body.path("algorithm").asText("gzip")
      kernels { df => df.withColumn("value",
        base64(CodecFunctions.compress(col("value").cast("binary"), algo))) }
    },
    entry("decompress") { (body, env) =>
      val algo = body.path("algorithm").asText("gzip")
      kernels { df => df.withColumn("value",
        CodecFunctions.decompress(unbase64(col("value")), algo)
          .cast("string")) }
    },
    entry("avro") { (body, env) =>
      // processors/avro.adoc:26 — operator to_json / from_json
      val schema = body.get("schema").toString
      body.path("operator").asText("to_json") match {
        case "from_json" => kernels { df => df.withColumn("value",
          base64(CodecFunctions.avroEncode(col("value"), schema))) }
        case _ => kernels { df => df.withColumn("value",
          CodecFunctions.avroDecode(unbase64(col("value")), schema)) }
      }
    },
    entry("protobuf") { (body, env) =>
      if (!body.has("message")) {
        // inline-schema form: `schema` text, operator to_json / from_json
        val schema = body.get("schema").asText
        body.path("operator").asText("to_json") match {
          case "from_json" => kernels { df => df.withColumn("value",
            base64(CodecFunctions.protoEncode(col("value"), schema))) }
          case _ => kernels { df => df.withColumn("value",
            CodecFunctions.protoDecode(unbase64(col("value")), schema)) }
        }
      } else {
        // the real config form (processors/protobuf.adoc): a message
        // FQN + `.proto` schema files from import_paths, proto3 JSON
        // mapping both ways. Errors (unknown fields, bad wire bytes)
        // land on the ROW's error channel so try/catch composes
        // (config/test/protobuf/{house,people}.yaml).
        val fqn = body.get("message").asText
        val fromJson = body.path("operator").asText("to_json") == "from_json"
        val joined = Option(body.get("import_paths"))
          .map(_.elements().asScala.toSeq.map(_.asText)).getOrElse(Nil)
          .flatMap { dir =>
            val d = java.nio.file.Paths.get(dir)
            if (!java.nio.file.Files.isDirectory(d)) Nil
            else {
              import scala.jdk.CollectionConverters._
              java.nio.file.Files.list(d).iterator().asScala
                .filter(_.toString.endsWith(".proto")).toSeq.sortBy(_.toString)
                .map(p => java.nio.file.Files.readString(p))
            }
          }.mkString(graft.functions.expressions.ProtoSchema.FileSep)
        require(joined.nonEmpty,
          s"protobuf: no .proto files found under import_paths")
        // compile-time parse so schema errors surface at build
        graft.functions.expressions.ProtoSchema.registryFor(joined)
          .message(fqn)
        df0 => {
          val df = FlowControl.withErrorChannel(df0)
          val schema = df.schema
          implicit val enc = org.apache.spark.sql.Encoders.row(schema)
          val vI = schema.fieldIndex("value")
          val eI = schema.fieldIndex("error")
          df.mapPartitions { it =>
            val reg = graft.functions.expressions.ProtoSchema
              .registryFor(joined)
            val m = new ObjectMapper()
            it.map { r =>
              if (r.get(eI) != null) r // errored rows skip (try contract)
              else try {
                val out =
                  if (fromJson)
                    java.util.Base64.getEncoder.encodeToString(
                      graft.functions.expressions.ProtoSchema
                        .jsonToWire(reg, fqn, m.readTree(r.getString(vI))))
                  else
                    graft.functions.expressions.ProtoSchema.wireToJson(
                      reg, fqn, java.util.Base64.getDecoder
                        .decode(r.getString(vI))).toString
                org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(vI, out))
              } catch {
                case e: Exception =>
                  org.apache.spark.sql.Row.fromSeq(
                    r.toSeq.updated(eI, Option(e.getMessage)
                      .getOrElse(e.getClass.getSimpleName)))
              }
            }
          }
        }
      }
    },
    entry("msgpack") { (body, env) =>
      body.path("operator").asText("to_json") match {
        case "from_json" => kernels { df => df.withColumn("value",
          base64(CodecFunctions.msgpackEncode(col("value")))) }
        case _ => kernels { df => df.withColumn("value",
          CodecFunctions.msgpackDecode(unbase64(col("value")))) }
      }
    },
    entry("schema_registry_encode") { (body, env) =>
      // internal/impl/confluent/: subject → latest (id, schema) via a
      // provider (`registry`/`url` + `subject` config), or an inline
      // schema
      (providerOf(body), Option(body.get("subject")).map(_.asText)) match {
        case (Some(p), Some(subj)) =>
          kernels { df => df.withColumn("value",
            base64(CodecFunctions.wireEncodeSubject(col("value"), subj, p))) }
        case _ =>
          val schema = body.get("schema").toString
          val id = body.path("schema_id").asInt(1)
          kernels { df => df.withColumn("value",
            base64(CodecFunctions.wireEncode(col("value"), schema, id))) }
      }
    },
    entry("schema_registry_decode") { (body, env) =>
      // provider path: schema resolved per row from the wire header's
      // id; unknown ids keep the message and take the error channel
      // (the reference's ErrBadHeader handling). The lenient kernel
      // (null = unknown id) makes one code path serve both the
      // map-backed provider and the HTTP provider, whose known-id set
      // is not enumerable for a pre-guard.
      providerOf(body) match {
        case Some(p) =>
          kernels { df =>
            val d = FlowControl.withErrorChannel(df)
            val bin = unbase64(col("value"))
            // a valid wire header is >= 5 bytes and starts with the
            // magic byte 0 — wireSchemaId requires both, so the guard
            // must too or a truncated/wrong-magic payload whose bytes
            // 2-5 decode to a registered id would reach the kernel
            // and throw instead of erroring the row
            val headerOk = length(bin) >= 5 &&
              substring(bin, 1, 1) === lit(Array[Byte](0))
            val id = CodecFunctions.wireSchemaId(bin)
            d.withColumn("__sr_dec", when(headerOk,
                CodecFunctions.wireDecodeProvider(bin, p, lenient = true)))
              .withColumn("error",
                when(col("error").isNotNull, col("error"))
                  .when(!headerOk,
                    lit("schema registry: invalid wire format header"))
                  .when(col("__sr_dec").isNull, concat(
                    lit("schema registry: unknown schema id "), id)))
              .withColumn("value",
                coalesce(col("__sr_dec"), col("value")))
              .drop("__sr_dec")
          }
        case None =>
          val schema = body.get("schema").toString
          kernels { df => df.withColumn("value",
            CodecFunctions.wireDecode(unbase64(col("value")), schema)) }
      }
    },
    entry("parquet_decode") { (body, env) =>
      // processors/parquet_decode.adoc:26 — a parquet file message
      // becomes one message per row (ParquetBlobOps kernel)
      kernels { df => explodeParts(df,
        transform(try_parse_json(call_function("graft_parquet_decode",
            unbase64(col("value")))).cast("array<variant>"),
          v => to_json(v))) }
    },
    entry("parquet_encode") { (body, env) =>
      // processors/parquet_encode.adoc:26 — each BATCH folds into ONE
      // parquet file message (schema = parquet MessageType); per
      // __batch when the batched input assigned one
      val schema = body.get("schema").asText
      kernels { df =>
        val d = withSeq(df)
        val batchKey =
          if (d.columns.contains("__batch")) col("__batch") else lit(0L)
        BatchOps.archiveJsonArray(d, batchKey, col("value"), col("__seq"))
          .select(
            base64(call_function("graft_parquet_encode",
              col("archived"), lit(schema))).as("value"),
            col("key").cast("long").as("__seq"),
            map().cast("map<string,string>").as("metadata"))
      }
    },
    entry("parquet") { (body, env) =>
      // deprecated combined form (processors/parquet.adoc): operator
      // from_json = encode, to_json = decode
      val op = body.path("operator").asText
      val schemaNode = Option(body.get("schema")).map(_.asText)
      op match {
        case "from_json" =>
          compile(yamlObj("parquet_encode",
            new ObjectMapper().createObjectNode().put("schema",
              schemaNode.getOrElse(throw new IllegalArgumentException(
                "parquet from_json needs a schema")))), env)
        case "to_json" => compile(yamlObj("parquet_decode",
          new ObjectMapper().createObjectNode()), env)
        case other => throw new IllegalArgumentException(s"parquet operator: $other")
      }
    },
    entry("xml") { (body, env) =>
      // processors/xml.adoc:26 — operator to_json
      kernels { df => df.withColumn("value",
        call_function("graft_parse_xml", col("value"))) }
    },
    entry("grok") { (body, env) =>
      // processors/grok.adoc:26 — named captures become a JSON doc
      val tpl = body.path("expression").asText(body.asText)
      df => {
        val (_, names) = Grok.compile(tpl)
        val parsed = Grok.parse(df, col("value"), tpl)
        parsed.withColumn("value",
            to_json(struct(names.map(col): _*)))
          .drop(names: _*)
      }
    },
    entry("parse_log") { (body, env) =>
      // processors/parse_log.adoc:26 — syslog line → structured JSON
      val fmt = body.path("format").asText("syslog_rfc5424")
      val f = if (fmt.contains("3164")) "rfc3164" else "rfc5424"
      df => df.withColumn("value",
        to_json(CodecFunctions.parseSyslog(col("value"), f)))
    },
    entry("json_schema") { (body, env) =>
      val schema = body.toString
      kernels { df =>
        df.filter(call_function("graft_json_schema_check",
          col("value"), lit(schema)).isNull)
      }
    },
    // ── caches / resources / external calls ──────────────────────
    guarded("cache") { (body, env) =>
      // processors/cache.adoc:26 — `get` replaces content with the
      // cache value for the key; a miss feeds the error channel.
      // In-process mutable backends (memory family + file +
      // multilevel over those) run as an ORDERED per-row kernel over
      // the live stores, so set/add/delete and mid-batch
      // get-after-set coherence have upstream semantics
      // (config/examples/joining_streams.yaml's for_each hydration).
      // Snapshot backends (redis/memcached/… views) keep the
      // broadcast-join form — the scale path for read-only
      // enrichment. Multilevel: read-through with promotion into
      // earlier levels, write-through to all levels. The snapshot form
      // is row-local; the ordered kernel runs through the adapter.
      val resource = body.get("resource").asText
      val keyTpl = body.path("key").asText("${! content() }")
      val valueTpl = body.path("value").asText("${! content() }")
      val op = body.path("operator").asText("get")
      (df, g) => Caches.cacheLevelsOf(resource) match {
        case Some(levels) => adapt { df =>
          val writing = op == "set" || op == "add"
          val withErr = FlowControl.withErrorChannel(df)
          val keyed0 = withErr.withColumn("__ck",
            interp(withErr, keyTpl, env).cast("string"))
          val keyed = if (writing)
            keyed0.withColumn("__cvw",
              interp(keyed0, valueTpl, env).cast("string"))
            else keyed0
          // a MUTATING cache is a sequential per-process construct in
          // the reference; serialize exactly here (tiny control-state
          // batches), never on the relational path
          val ordered =
            if (keyed.columns.contains("__seq"))
              keyed.coalesce(1).sortWithinPartitions(col("__seq"))
            else keyed.coalesce(1)
          val schema = ordered.schema
          implicit val enc = org.apache.spark.sql.Encoders.row(schema)
          val vI = schema.fieldIndex("value")
          val eI = schema.fieldIndex("error")
          val kI = schema.fieldIndex("__ck")
          val wI = if (writing) schema.fieldIndex("__cvw") else -1
          val lvls = levels
          val theOp = op
          val out = ordered.mapPartitions { it =>
            it.map { r =>
              val vals = r.toSeq.toArray
              val k = r.getString(kI)
              theOp match {
                case "get" =>
                  val hitIdx = lvls.indexWhere(_.get(k).isDefined)
                  if (hitIdx >= 0) {
                    val v = lvls(hitIdx).get(k).get
                    vals(vI) = v
                    // read-through promotion into warmer levels
                    (0 until hitIdx).foreach(i => lvls(i).put(k, v))
                  } else vals(eI) = "cache miss"
                case "set" =>
                  lvls.foreach(_.put(k, r.getString(wI)))
                case "add" =>
                  if (lvls.exists(_.get(k).isDefined))
                    vals(eI) = "key already exists"
                  else lvls.foreach(_.put(k, r.getString(wI)))
                case "delete" =>
                  lvls.foreach(_.delete(k))
                case other => throw new IllegalArgumentException(
                  s"cache operator '$other' not supported")
              }
              org.apache.spark.sql.Row.fromSeq(vals.toIndexedSeq)
            }
          }
          if (writing) out.drop("__ck", "__cvw") else out.drop("__ck")
        }(df, g)
        case None =>
          require(op == "get",
            s"cache operator '$op': snapshot cache backends are read-only here")
          val cacheDf = df.sparkSession.table(s"cache_$resource")
            .select(col("key").as("__ck"), col("value").as("__cv"))
          val keyed = df.withColumn("__ck",
            interp(df, keyTpl, env))
          val d = FlowControl.withErrorChannel(keyed)
            .join(broadcast(cacheDf), Seq("__ck"), "left")
          val hit = g.fold(col("__cv"))(x => when(x.rows, col("__cv")))
          val miss = g.fold(col("__cv").isNull)(x => x.rows && col("__cv").isNull)
          d.withColumn("value", coalesce(hit, col("value")))
            .withColumn("error", when(miss,
              lit("cache miss")).otherwise(col("error")))
            .drop("__ck", "__cv")
      }
    },
    entry("cached") { (body, env) =>
      // processors/cached.adoc:26 — memoize children per distinct key
      val keyTpl = body.get("key").asText
      val procs = children(body.get("processors"), env)
      df => {
        val keyed = df.withColumn("__cache_key",
          interp(df, keyTpl, env))
        // children run ONCE per distinct key on a representative row
        // (the relational memoization of Resources.cachedCompute)
        val reps = keyed.groupBy(col("__cache_key"))
          .agg(first(col("value")).as("value"))
        val results = procs(reps).select(col("__cache_key"),
          col("value").as("__cached_value"))
        keyed.join(results, Seq("__cache_key"), "left")
          .withColumn("value", coalesce(col("__cached_value"), col("value")))
          .drop("__cache_key", "__cached_value")
      }
    },
    entry("google_drive_search") { (body, env) =>
      // processors/google_drive_search.adoc — interpolated query;
      // the message becomes the file-resource array
      val endpoint = body.get("endpoint").asText
      val token = body.path("token").asText("")
      df => {
        val qC = interp(df, body.get("query").asText, env)
        graft.sources.GoogleDrive.searchProcessor(df, endpoint, token, qC)
      }
    },
    entry("google_drive_list_labels") { (body, env) =>
      // processors/google_drive_list_labels.adoc — the message
      // becomes the label-resource array for the interpolated id
      val endpoint = body.get("endpoint").asText
      val token = body.path("token").asText("")
      df => {
        val idC = interp(df, body.get("file_id").asText, env)
        val src = graft.sources.Envelope.ensure(df)
          .withColumn("__gl", idC.cast("string"))
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
        val schema = src.schema
        val vI = schema.fieldIndex("value")
        val eI = schema.fieldIndex("error")
        val iI = schema.fieldIndex("__gl")
        src.mapPartitions { it =>
          val cl = new graft.sources.GoogleDrive.Client(endpoint, token)
          it.map { row =>
            val vals = row.toSeq.toArray
            try vals(vI) = cl.listLabels(row.getString(iI))
              .mkString("[", ",", "]")
            catch { case ex: Exception =>
              vals(eI) = Option(ex.getMessage).getOrElse("drive error")
            }
            Row.fromSeq(vals.toIndexedSeq)
          }
        }(ExpressionEncoder(RowEncoder.encoderFor(schema)))
          .drop("__gl")
      }
    },
    entry("google_drive_download") { (body, env) =>
      // processors/google_drive_download.adoc — interpolated file id
      val endpoint = body.get("endpoint").asText
      val token = body.path("token").asText("")
      df => {
        val idC = interp(df, body.get("file_id").asText, env)
        graft.sources.GoogleDrive.downloadProcessor(df, endpoint, token,
          idC)
      }
    },
    entry("gcp_bigquery_select") { (body, env) =>
      // processors/gcp_bigquery_select.adoc — parameterized SELECT
      // per message; the message becomes the result-row array
      val endpoint = body.get("endpoint").asText
      val token = body.path("token").asText("")
      val project = body.get("project").asText
      val parts = graft.sources.BigQuerySelect.QueryParts(
        body.get("table").asText,
        body.get("columns").elements().asScala.toSeq.map(_.asText),
        where = body.path("where").asText(""),
        prefix = body.path("prefix").asText(""),
        suffix = body.path("suffix").asText(""))
      val argCols = Option(body.get("args_columns")).map(strings(_).map(col))
        .getOrElse(Nil)
      df => graft.sources.BigQuerySelect.processor(df, endpoint, token,
        project, parts, argCols)
    },
    entry("azure_cosmosdb") { (body, env) =>
      // processors/azure_cosmosdb.adoc — per-message document op
      val endpoint = body.get("endpoint").asText
      val acct = graft.sources.CosmosDb.Account(
        body.path("account_key").asText(""))
      val (dbn, ctn) = (body.get("database").asText,
        body.get("container").asText)
      val op = body.path("operation").asText("Create").toLowerCase
      df => {
        val pkC = interp(df, body.get("partition_keys_map").asText, env)
        val idC = interp(df, body.path("item_id").asText("${! json(\"id\") }"), env)
        graft.sources.CosmosDb.processor(df, endpoint, acct, dbn, ctn,
          op, pkC, idC)
      }
    },
    entry("aws_lambda") { (body, env) =>
      // processors/aws_lambda.adoc — invoke per message
      val endpoint = body.get("endpoint").asText
      val fn = body.get("function").asText
      val creds = Component.awsCreds(body, "", "")
      df => graft.sources.AwsApi.lambdaProcessor(df, endpoint, creds, fn)
    },
    entry("aws_dynamodb_partiql") { (body, env) =>
      // processors/aws_dynamodb_partiql.adoc — statement + args
      val endpoint = body.get("endpoint").asText
      val stmt = body.get("query").asText
      val creds = Component.awsCreds(body, "", "")
      val argCols = Option(body.get("args_columns")).map(strings(_).map(col))
        .getOrElse(Nil)
      df => graft.sources.AwsApi.partiqlProcessor(df, endpoint, creds,
        stmt, argCols)
    },
    entry("a2a_message") { (body, env) =>
      // processors/a2a_message.adoc — JSON-RPC agent round-trip
      val cardUrl = body.get("agent_card_url").asText
      val extract = body.path("extract_text").asBoolean(true)
      df => graft.operators.A2a.processor(df, cardUrl, extract)
    },
    entry("couchbase") { (body, env) =>
      // processors/couchbase.adoc — per-message KV op over the
      // binary protocol; id interpolates, content maps from value
      val url = body.get("url").asText
      val op = body.path("operation").asText("get")
      require(op == "get" || Option(body.get("content")).nonEmpty ||
        op == "remove",
        "couchbase: content must be set for insert/replace/upsert")
      df => {
        val meta = metaColOf(df)
        val idC = interp(df, body.get("id").asText, env)
        val contentC = Option(body.get("content")).map(c =>
          Blobl.exprJson(df, c.asText
            .replaceFirst("^\\s*root\\s*=\\s*", ""), env,
            metadataCol = meta).cast("string")).orNull
        graft.sources.Couchbase.processor(df, url, op, idC, contentC)
      }
    },
    entry("nats_kv") { (body, env) =>
      // processors/nats_kv.adoc — per-row bucket operation; get-ops
      // replace content, mutation ops set revision metadata,
      // failures (create-exists, CAS mismatch) error the row
      val mem = Component.memUrl("nats_kv", strings(body.get("urls")))
      val bucket = body.get("bucket").asText
      val op = body.get("operation").asText
      val keyTpl = Option(body.get("key")).map(_.asText).getOrElse("")
      val revTpl = Option(body.get("revision")).map(_.asText)
      df => {
        // the op writes nats_kv_* metadata — the column must exist
        val d0 = if (df.columns.contains("metadata")) df
          else df.withColumn("metadata", map().cast(
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.StringType)))
        val withCols = FlowControl.withErrorChannel(d0)
          .withColumn("__kvkey", if (keyTpl.isEmpty)
            lit(null).cast("string")
            else interp(d0, keyTpl, env))
          .withColumn("__kvrev", revTpl.map(t =>
            interp(d0, t, env)
              .cast("long")).getOrElse(lit(0L)))
        graft.sources.NatsKv.applyOps(withCols, mem, bucket, op)
      }
    },
    entry("redis") { (body, env) =>
      // processors/redis.adoc:26 — run `command` with args from
      // `args_mapping` for each message; the message contents are
      // replaced with the result (merge via `branch`, per the doc);
      // command failures take the error channel (processor.go:400)
      val url = body.get("url").asText
      val cmdTpl = Option(body.get("command")).map(_.asText).getOrElse(
        throw new IllegalArgumentException(
          "redis processor needs a command (operator-form configs are " +
            "expressed as commands here)"))
      val argsExpr = Option(body.get("args_mapping")).map(_.asText)
        .map(_.replaceFirst("^\\s*root\\s*=\\s*", ""))
      df => {
        val meta = metaColOf(df)
        val withCols = FlowControl.withErrorChannel(df)
          .withColumn("__rcmd",
            interp(df, cmdTpl, env))
          .withColumn("__rargs", argsExpr.map(e =>
            Blobl.exprJson(df, e, env, metadataCol = meta).cast("string"))
            .getOrElse(lit(null).cast("string")))
        graft.sources.Redis.applyCommands(withCols, url)
      }
    },
    entry("command") { (body, env) =>
      // processors/command.adoc:26 — fork per message
      val argv = argvOf(body)
      df => Command.perMessage(df, argv)
    },
    entry("subprocess") { (body, env) =>
      // processors/subprocess.adoc:26 — one child per partition
      val argv = argvOf(body)
      df => Command.perPartition(df, argv)
    },
    entry("sql_raw", "sql") { (body, env) =>
      if (body.has("dsn"))
        // external-database form (processors/sql_raw.adoc): driver +
        // dsn + query/queries with per-message args_mapping —
        // postgres:// resolves to the in-process pgvector engine,
        // jdbc: URLs run through JDBC (Derby on this classpath)
        df => SqlRaw.processor(df, body, env)
      else {
        // dsn-less form — Spark IS the SQL engine: the current stream
        // registers as view `stream` and the query's result becomes
        // the new frame
        val query = body.path("query").asText(body.asText)
        df => {
          df.createOrReplaceTempView("stream")
          df.sparkSession.sql(query)
        }
      }
    },
    entry("sql_select") { (body, env) =>
      if (body.has("dsn")) {
        // external-database form (processors/sql_select.adoc: driver +
        // dsn + table/columns/where/args_mapping/prefix/suffix) — the
        // message becomes the ARRAY of result rows. Built as one
        // sql_raw statement so the DSN routing (postgres:// → pgvector
        // engine, jdbc: → JDBC) and the per-partition executor are
        // shared. `?` placeholders normalize to $N for postgres-style
        // drivers, as the reference's query builder does.
        val driver = body.path("driver").asText("")
        val table = body.get("table").asText
        val cols = body.get("columns").elements().asScala.toSeq
          .map(_.asText).mkString(", ")
        val prefix = body.path("prefix").asText("")
        val suffix = body.path("suffix").asText("")
        val whereC = Option(body.get("where")).map(_.asText)
          .filter(_.nonEmpty)
        var q = s"SELECT $cols FROM $table" +
          whereC.map(w => s" WHERE $w").getOrElse("") +
          (if (suffix.nonEmpty) s" $suffix" else "")
        if (prefix.nonEmpty) q = s"$prefix $q"
        if (driver == "postgres" || driver == "clickhouse") {
          var n = 0
          q = q.map(c => c.toString).map {
            case "?" => n += 1; s"$$$n"
            case c => c
          }.mkString
        }
        val raw = {
          val o = com.fasterxml.jackson.databind.node.JsonNodeFactory
            .instance.objectNode()
          o.put("dsn", body.get("dsn").asText)
          o.put("query", q)
          Option(body.get("args_mapping")).foreach(m =>
            o.set[JsonNode]("args_mapping", m.deepCopy[JsonNode]()))
          Option(body.get("init_statement")).foreach(m =>
            o.set[JsonNode]("init_statement", m.deepCopy[JsonNode]()))
          o
        }
        df => SqlRaw.processor(df, raw, env)
      } else {
        // processors/sql_select.adoc:26 — enrichment lookup against a
        // registered table OR, with `url`, a real JDBC table (driver
        // jar on the classpath — Derby ships with Spark); columns
        // merge into the doc
        val table = body.get("table").asText
        val keyCol = body.get("key_column").asText
        val keyTpl = body.get("key").asText
        val columns = body.get("columns").elements().asScala.toSeq.map(_.asText)
        val jdbcUrl = Option(body.get("url")).map(_.asText)
        df => {
          val src = jdbcUrl match {
            case Some(u) =>
              graft.sources.Sources.jdbc(df.sparkSession, u, table)
            case None => df.sparkSession.table(table)
          }
          val lookup = src.select((keyCol +: columns).map(col): _*)
          val keyed = df.withColumn("__lk",
            interp(df, keyTpl, env)
              .cast(lookup.schema(keyCol).dataType))
          keyed.join(broadcast(lookup),
              keyed("__lk") === lookup(keyCol), "left")
            .withColumn("value",
              to_json(struct(try_parse_json(col("value")).as("doc") +:
                columns.map(col): _*)))
            .drop("__lk", keyCol)
        }
      }
    },
    entry("sql_insert") { (body, env) =>
      // processors/sql_insert.adoc:26 — insert each message's mapped
      // fields into a SQL table as rows FLOW (per-partition batched
      // PreparedStatement — the distributed form of the reference's
      // per-message insert loop); messages pass through unchanged.
      // Driver jar on the classpath (Derby ships with Spark).
      val url = body.get("url").asText
      val table = body.get("table").asText
      val columns = body.get("columns").elements().asScala.toSeq.map(_.asText)
      // dialect-correct statement text per driver registration
      // (conn_fields.go:30): placeholders/quoting/options rendered by
      // SqlDialect; the embedded engine runs the derby form
      val dialect = graft.sources.SqlDialect(
        body.path("driver").asText("derby"))
      val insertSql = dialect.insert(table, columns,
        prefix = body.path("prefix").asText(""),
        options = Option(body.get("options")).map(strings).getOrElse(Nil),
        suffix = body.path("suffix").asText(""))
      df0 => {
        // error channel: a malformed `value` errors the ROW (the
        // reference processor's behavior), not the task; already-
        // errored rows pass through without inserting
        val df = FlowControl.withErrorChannel(df0)
        val schema = df.schema
        implicit val enc = org.apache.spark.sql.Encoders.row(schema)
        val vIdx = schema.fieldIndex("value")
        val eIdx = schema.fieldIndex("error")
        val inserted = df.mapPartitions { it =>
          if (!it.hasNext) it
          else {
            val mapper = new ObjectMapper()
            val conn = java.sql.DriverManager.getConnection(url)
            val ps = conn.prepareStatement(insertSql)
            var closed = false
            def close(): Unit = if (!closed) {
              try { ps.executeBatch(); ps.close(); conn.close() }
              finally { closed = true }
            }
            // close on task completion too — a downstream limit() may
            // abandon the iterator mid-partition
            Option(org.apache.spark.TaskContext.get())
              .foreach(_.addTaskCompletionListener[Unit](_ => close()))
            var pending = 0
            new scala.collection.AbstractIterator[org.apache.spark.sql.Row] {
              override def hasNext: Boolean = {
                val h = it.hasNext
                if (!h) close()
                h
              }
              override def next(): org.apache.spark.sql.Row = {
                val r = it.next()
                if (r.get(eIdx) != null) r
                else try {
                  val doc = mapper.readTree(r.getString(vIdx))
                  if (doc == null || doc.isMissingNode)
                    throw new IllegalArgumentException("empty document")
                  columns.zipWithIndex.foreach { case (c, i) =>
                    val n = doc.get(c)
                    if (n == null || n.isNull) ps.setObject(i + 1, null)
                    else if (n.isIntegralNumber) ps.setLong(i + 1, n.asLong)
                    else if (n.isNumber) ps.setDouble(i + 1, n.asDouble)
                    else if (n.isBoolean) ps.setBoolean(i + 1, n.asBoolean)
                    else ps.setString(i + 1, n.asText)
                  }
                  ps.addBatch()
                  pending += 1
                  if (pending >= 500) { ps.executeBatch(); pending = 0 }
                  r
                } catch {
                  case e @ (_: com.fasterxml.jackson.core.JacksonException |
                            _: IllegalArgumentException) =>
                    org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(eIdx,
                      s"sql_insert: ${e.getMessage}"))
                }
              }
            }
          }
        }
        // the insert is a side effect of computing the pass-through
        // plan: barrier it (eager localCheckpoint) so a second action
        // on the runner's DataFrame — or a recomputed stage — replays
        // checkpointed blocks instead of re-running the inserts
        inserted.localCheckpoint()
      }
    },
    entry("http") { (body, env) =>
      // processors/http.adoc:26 — batched pluggable transport; the
      // URL scheme selects it (stub:// = offline echo client, else
      // the JDK client). Response replaces value; non-2xx keeps the
      // original, errors the row, and records http_status_code.
      val urlTpl = body.get("url").asText
      val verb = body.path("verb").asText("POST")
      val headers = stringMap(body.get("headers"))
      val batchSize = body.path("batch_size").asInt(16)
      val successfulOn = Option(body.get("successful_on"))
        .map(_.elements().asScala.map(_.asInt).toSet)
        .getOrElse(Set.empty[Int])
      df => Http.enrich(df,
        interp(df, urlTpl, env),
        verb, headers, batchSize, Http.clientFor(urlTpl),
        successfulOn)
    },
    entry("sentry_capture") { (body, env) =>
      // processors/sentry_capture.adoc — pass-through observation:
      // one event per (sampled) message to the DSN's store endpoint;
      // context/extras are bloblang expressions rendered to JSON
      val dsn = body.path("dsn").asText(
        sys.env.getOrElse("SENTRY_DSN", ""))
      require(dsn.nonEmpty, "sentry_capture: dsn (or SENTRY_DSN) required")
      val msgTpl = body.get("message").asText
      val ctx = Option(body.get("context")).map(_.asText).filter(_.nonEmpty)
      val ext = Option(body.get("extras")).map(_.asText).filter(_.nonEmpty)
      val tags = stringMap(body.get("tags"))
      // context/extras are single-assignment MAPPINGS per the adoc
      // ('root = {...}'); compile the right-hand side as the value
      // expression
      def mappingExpr(src: String): String = {
        val m = "(?s)\\s*root\\s*=\\s*(.*)".r
        src match {
          case m(rhs) => rhs
          case _ => throw new IllegalArgumentException(
            "sentry_capture: context/extras must be a single " +
              s"'root = <object>' mapping, got: $src")
        }
      }
      df => Sentry.capture(df, dsn,
        messageCol = interp(df, msgTpl, env),
        contextJson = ctx.map(x =>
          Blobl.exprJson(df, mappingExpr(x), env)).orNull,
        extrasJson = ext.map(x =>
          Blobl.exprJson(df, mappingExpr(x), env)).orNull,
        tags = tags,
        environment = body.path("environment").asText(""),
        release = body.path("release").asText(""),
        level = body.path("level").asText("INFO"),
        samplingRate = body.path("sampling_rate").asDouble(1.0))
    },
    byKind("openai_chat_completion", "ollama_chat", "cohere_chat",
        "aws_bedrock_chat", "gcp_vertex_ai_chat") { kind => (body, env) =>
      // cloud chat processors — batched pluggable client. With a
      // base_url/server_address each name speaks its service's REAL
      // wire shape (AiApis; loopback servers in tests); without one,
      // the deterministic echo client stands in for the remote model
      // (openai_chat_completion.adoc:26; clients are injectable)
      val promptTpl = body.path("prompt").asText("${! content() }")
      val batchSize = body.path("batch_size").asInt(16)
      val base = aiBaseUrl(body)
      val model = body.path("model").asText("default")
      val client: Ai.ChatClient =
        if (base.isEmpty) Ai.echoClient
        else kind match {
          case "openai_chat_completion" =>
            graft.operators.AiApis.openAiChat(base, aiApiKey(body), model)
          case "ollama_chat" =>
            graft.operators.AiApis.ollamaChat(base, model)
          case "cohere_chat" =>
            graft.operators.AiApis.cohereChat(base, aiApiKey(body), model)
          case "aws_bedrock_chat" =>
            graft.operators.AiApis.bedrockChat(base, awsCredsOf(body), model)
          case _ => // gcp_vertex_ai_chat rides the openai-compatible
            // chat surface Vertex publishes for its endpoints
            graft.operators.AiApis.openAiChat(base, aiApiKey(body), model)
        }
      complete(promptTpl, env, batchSize, client)
    },
    byKind("openai_embeddings", "ollama_embeddings", "cohere_embeddings",
        "aws_bedrock_embeddings", "gcp_vertex_ai_embeddings") { kind => (body, env) =>
      // named embedding variants (openai_embeddings.adoc:26 et al.):
      // each speaks its service's documented REST shape; the message
      // becomes the JSON vector (the reference replaces the payload
      // with the embedding). No base_url → deterministic offline
      // md5 batcher (NOT a model), so configs stay compilable
      // `text` is ollama_embeddings' field name for the same knob
      // (ollama_embeddings.adoc; the rag ollama_embed template sets it)
      val tpl = body.path("text_mapping").asText(
        body.path("text").asText(
          body.path("prompt").asText("${! content() }")))
      val batchSize = body.path("batch_size").asInt(16)
      val dims = body.path("dimensions").asInt(8)
      val base = aiBaseUrl(body)
      val model = body.path("model").asText("embed-default")
      val batcher: Embeddings.Batcher =
        if (base.isEmpty) graft.operators.AiApis.offlineEmbeddings(dims)
        else kind match {
          case "openai_embeddings" =>
            graft.operators.AiApis.openAiEmbeddings(base, aiApiKey(body),
              model, dims)
          case "ollama_embeddings" =>
            graft.operators.AiApis.ollamaEmbeddings(base, model, dims)
          case "cohere_embeddings" =>
            graft.operators.AiApis.cohereEmbeddings(base, aiApiKey(body),
              model, dims)
          case "aws_bedrock_embeddings" =>
            graft.operators.AiApis.bedrockEmbeddings(base,
              awsCredsOf(body), model, dims)
          case _ =>
            graft.operators.AiApis.vertexEmbeddings(base,
              body.path("project").asText("proj"),
              body.path("location").asText("us-central1"), model, dims,
              aiApiKey(body))
        }
      df => {
        val d = df.withColumn("__prompt",
          interp(df, tpl, env))
        Embeddings.embedBatched(d, "__prompt", "__vec", batchSize, batcher)
          .withColumn("value", to_json(col("__vec")))
          .drop("__prompt", "__vec")
      }
    },
    byKind("openai_moderation", "ollama_moderation") { kind => (body, env) =>
      // moderation: the verdict lands in metadata (`moderation_
      // flagged`), the payload passes through unchanged
      val tpl = body.path("text_mapping").asText("${! content() }")
      val base = aiBaseUrl(body)
      val client: Ai.ChatClient =
        if (base.isEmpty) graft.operators.AiApis.offlineModeration
        else if (kind == "openai_moderation")
          graft.operators.AiApis.openAiModeration(base, aiApiKey(body))
        else graft.operators.AiApis.ollamaModeration(base,
          body.path("model").asText("llama-guard3"))
      df => {
        val d = df.withColumn("__mtext",
          interp(df, tpl, env))
        val flagged = Ai.chatCompletion(d, "__mtext", "__flag",
          body.path("batch_size").asInt(32), client)
        tagMeta(flagged, "moderation_flagged", col("__flag"))
          .drop("__mtext", "__flag")
      }
    },
    entry("openai_image_generation") { (body, env) =>
      // prompt → base64 PNG payload (images/generations b64_json)
      val tpl = body.path("prompt").asText("${! content() }")
      val base = aiBaseUrl(body)
      val client: Ai.ChatClient =
        if (base.isEmpty)
          prompts => prompts.map(p => java.util.Base64.getEncoder
            .encodeToString(graft.operators.AiApis.imagePng(p, 16, 16)))
        else graft.operators.AiApis.openAiImage(base, aiApiKey(body),
          body.path("model").asText("image-default"),
          body.path("size").asText("16x16"))
      complete(tpl, env, 1, client)
    },
    entry("openai_speech") { (body, env) =>
      // text → base64 audio payload (audio/speech returns raw bytes)
      val tpl = body.path("input").asText("${! content() }")
      val base = aiBaseUrl(body)
      val voice = body.path("voice").asText("alloy")
      val client: Ai.ChatClient =
        if (base.isEmpty)
          texts => texts.map(t => java.util.Base64.getEncoder
            .encodeToString(graft.operators.AiApis.speechAudio(t, voice)))
        else graft.operators.AiApis.openAiSpeech(base, aiApiKey(body),
          body.path("model").asText("tts-default"), voice)
      complete(tpl, env, 1, client)
    },
    byKind("openai_transcription", "openai_translation") { kind => (body, env) =>
      // base64 audio in the message → multipart upload → text
      val base = aiBaseUrl(body)
      val endpoint =
        if (kind == "openai_translation") "translations"
        else "transcriptions"
      val client: Ai.ChatClient =
        if (base.isEmpty)
          b64s => b64s.map { b =>
            val audio = java.util.Base64.getDecoder.decode(b)
            val t = graft.operators.AiApis.transcript(audio)
            if (endpoint == "translations") "en:" + t else t
          }
        else graft.operators.AiApis.openAiAudioToText(base, aiApiKey(body),
          body.path("model").asText("whisper-default"), endpoint)
      df => Ai.chatCompletion(df.withColumn("__b64", col("value")),
          "__b64", "__text", 1, client)
        .withColumn("value", col("__text"))
        .drop("__b64", "__text")
    },
    entry("cohere_rerank") { (body, env) =>
      throw new IllegalArgumentException(
        "cohere_rerank runs as a topology-level operator (Ai.rerank / " +
          "AiApis.cohereRerank), not a per-message processor: reranking " +
          "needs the whole candidate set — see the s_* rerank gates")
    })

  require((EnvBlocked & family.names).isEmpty,
    s"environment-blocked processors that are implemented: " +
      (EnvBlocked & family.names).toSeq.sorted.mkString(", "))

  /** AI endpoint knobs shared by the named processor variants:
    * `base_url` (graft-level; loopback servers in tests — the real
    * cloud endpoints are egress-blocked here) with the reference's
    * `server_address` accepted as an alias, bearer `api_key`, and AWS
    * credentials for the SigV4-signed Bedrock forms.
    */
  private def aiBaseUrl(body: JsonNode): String =
    body.path("base_url").asText(body.path("server_address").asText(""))
      .stripSuffix("/")
  private def aiApiKey(body: JsonNode): String =
    body.path("api_key").asText("test-key")
  private def awsCredsOf(body: JsonNode): graft.sources.S3.Credentials =
    Component.awsCreds(body, body.path("access_key").asText("AK"),
      body.path("secret_key").asText("SK"))

  /** Each message's interpolated `tpl` through a batched AI client; the
    * reply replaces the payload.
    */
  private def complete(tpl: String, env: Map[String, String], batchSize: Int,
                       client: Ai.ChatClient): DataFrame => DataFrame =
    df => Ai.chatCompletion(df.withColumn("__prompt", interp(df, tpl, env)),
        "__prompt", "__reply", batchSize, client)
      .withColumn("value", col("__reply")).drop("__prompt", "__reply")

  private def steps(n: JsonNode, env: Map[String, String]): Seq[Step] =
    Option(n).map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
      .map(step(_, env))

  /** Steps in order over every row. */
  private def run(kids: Seq[Step]): DataFrame => DataFrame =
    df => kids.foldLeft(df)((d, s) => s(d, None))

  private def children(n: JsonNode, env: Map[String, String]) = run(steps(n, env))

  /** Steps in order, each over the rows where `rows` holds on its own
    * input (null reads false: a frame-level child may drop a flag).
    */
  private def chain(kids: Seq[Step], df: DataFrame, rows: Column,
                    shared: Boolean): DataFrame = {
    val g = coalesce(rows, lit(false))
    kids.zipWithIndex.foldLeft(df) { case (d, (s, i)) =>
      s(d, Some(Guard(g, shared || i > 0)))
    }
  }

  /** `c` over the rows of the enclosing guard, if any. */
  private def within(g: Option[Guard], c: Column): Column = g.fold(c)(_.rows && c)

  private val pinSeq = new java.util.concurrent.atomic.AtomicLong()

  /** `c` (null reads `orElse`) materialized as a fresh column, so the
    * children that change what it reads do not change which rows run.
    */
  private def pin(df: DataFrame, c: Column,
                  orElse: Column = lit(false)): (DataFrame, String) = {
    val name = s"__flow${pinSeq.incrementAndGet()}"
    (df.withColumn(name, coalesce(c, orElse)), name)
  }

  /** A frame-level processor as a step: under a guard it splits its
    * input once, the guarded rows through `f` and the rest unchanged. A
    * batch input an earlier step produced is barriered first (eager
    * `localCheckpoint`), so that step runs once although both slices
    * read it.
    */
  private def adapt(f: DataFrame => DataFrame): Step = {
    case (df, None) => f(df)
    case (df, Some(Guard(rows, shared))) =>
      val d = if (shared && !df.isStreaming) df.localCheckpoint() else df
      f(d.filter(rows)).unionByName(d.filter(!rows), allowMissingColumns = true)
  }

  private def argvOf(body: JsonNode): Seq[String] = {
    val name = body.get("name").asText
    val args = Option(body.get("args_mapping")).map(_ => Seq.empty[String])
      .getOrElse(Option(body.get("args"))
        .map(_.elements().asScala.toSeq.map(_.asText)).getOrElse(Seq.empty))
    name +: args
  }

  private def yamlObj(key: String, value: JsonNode): JsonNode = {
    val m = new ObjectMapper()
    m.createObjectNode().set[JsonNode](key, value)
  }

  /** Ensure the in-batch ordinal column exists. */
  private def withSeq(df: DataFrame): DataFrame =
    if (df.columns.contains("__seq")) df
    else df.withColumn("__seq", monotonically_increasing_id())

  /** Explode a parts array into one row per part, deriving a new stable
    * ordinal (`parent*1e6 + pos`) so later part-indexed ops keep input
    * order.
    */
  private def explodeParts(df: DataFrame, parts: Column): DataFrame = {
    val d = withSeq(df)
    val keep = d.columns.filterNot(_ == "value").map(col)
    d.select(keep :+ posexplode(parts).as(Seq("__pos", "value")): _*)
      .withColumn("__seq", col("__seq") * 1000000 + col("__pos"))
      .drop("__pos")
  }

  /** Write a key into the metadata map (creating it when absent). */
  private def tagMeta(df: DataFrame, key: String, value: Column): DataFrame =
    df.withColumn("metadata", metaPut(metaColOf(df), lit(key), value))

  /** After a group tag lands in metadata, the batch identity refines
    * to (previous batch, group) — the reference's regrouped batches —
    * so from_all / batch_index / split downstream scope per group.
    */
  private def regroup(df: DataFrame): DataFrame = {
    val base = if (df.columns.contains("__batch")) col("__batch") else lit(0L)
    df.withColumn("__batch", xxhash64(base, col("metadata")("group")))
  }

  private def metaPut(metaCol: Option[String], key: Column, value: Column): Column =
    metaCol match {
      case Some(c) => map_concat(
        map_filter(col(c), (k, _) => k =!= key), map(key, value))
      case None => map(key, value)
    }

  /** `registry:` config block → map-backed [[graft.functions.expressions.SchemaProvider]]:
    * `{schemas: {<id>: <avro schema>}, subjects: {<name>: <id>}}`.
    */
  private def registryOf(body: JsonNode): Option[graft.functions.expressions.MapSchemaProvider] =
    Option(body.get("registry")).map { r =>
      val byId = Option(r.get("schemas")).map(_.properties().asScala.map(e =>
        e.getKey.toInt -> e.getValue.toString).toMap).getOrElse(Map.empty)
      val bySubject = Option(r.get("subjects")).map(_.properties().asScala.map(e =>
        e.getKey -> e.getValue.asInt).toMap).getOrElse(Map.empty)
      graft.functions.expressions.MapSchemaProvider(byId, bySubject)
    }

  /** Provider selection for the schema_registry processors: a `url:`
    * resolves over HTTP ([[graft.functions.expressions.HttpSchemaProvider]]
    * — the reference's registry client); an inline `registry:` block
    * resolves from the map. A `stub://` url serves the inline
    * `registry:` block THROUGH the full HTTP path (URL construction,
    * envelope parsing, id cache) — the same offline-stub convention as
    * the `http` processor's `stub://` transport.
    */
  private def providerOf(body: JsonNode): Option[graft.functions.expressions.SchemaProvider] =
    Option(body.get("url")).map(_.asText) match {
      case Some(u) if u.startsWith("stub://") =>
        val m = registryOf(body).getOrElse(
          graft.functions.expressions.MapSchemaProvider(Map.empty))
        Some(new graft.functions.expressions.HttpSchemaProvider(u,
          client = graft.functions.expressions.HttpSchemaProvider
            .stubTransport(m.byId, m.bySubject)))
      case Some(u) =>
        Some(new graft.functions.expressions.HttpSchemaProvider(u))
      case None => registryOf(body)
    }

  private def kernels(f: DataFrame => DataFrame): DataFrame => DataFrame =
    df => {
      graft.functions.expressions.GraftFunctions.register(df.sparkSession)
      f(df)
    }

}
