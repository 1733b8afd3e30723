package graft.agent

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Agent runtime + MCP server — the reference's last execution
  * surfaces (internal/agent/agent_processor.go, internal/cli/
  * mcp_server.go): the handshake/gRPC guest loop, the MCP JSON-RPC
  * dispatch over stdio and HTTP+SSE, and the full
  * pipeline → guest → MCP-tool conversation over real sockets.
  */
class AgentSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def javaCmd(mode: String): Seq[String] = Seq(
    System.getProperty("java.home") + "/bin/java",
    "-cp", System.getProperty("java.class.path"),
    "graft.agent.AgentGuestMain", mode)

  private def writeRepo(dir: java.nio.file.Path): Unit = {
    val procs = dir.resolve("resources/processors")
    Files.createDirectories(procs)
    Files.writeString(procs.resolve("to_upper.yaml"),
      """label: to_upper
        |meta:
        |  mcp:
        |    enabled: true
        |    description: Uppercase the value
        |mapping: root = content().uppercase()
        |""".stripMargin)
    val caches = dir.resolve("resources/caches")
    Files.createDirectories(caches)
    Files.writeString(caches.resolve("scratch.yaml"),
      """label: scratch
        |meta:
        |  mcp:
        |    enabled: true
        |    description: the scratch cache
        |memory:
        |  init:
        |    greeting: hello
        |""".stripMargin)
  }

  private def envelope(values: Seq[String]) =
    spark.createDataFrame(
      java.util.Arrays.asList(values.zipWithIndex.map { case (v, i) =>
        Row(v, Map.empty[String, String], null, i.toLong)
      }: _*),
      StructType(Seq(
        StructField("value", StringType),
        StructField("metadata", MapType(StringType, StringType)),
        StructField("error", StringType),
        StructField("__seq", LongType))))

  test("runtimepb: message round-trips every value kind") {
    val struct = mapper.createObjectNode()
    struct.put("s", "x"); struct.put("i", 42L); struct.put("d", 1.5)
    struct.put("b", true); struct.putNull("n")
    val arr = struct.putArray("l"); arr.add(1L); arr.add("two")
    val nested = struct.putObject("o"); nested.put("k", "v")

    val m = RuntimePb.Msg(Array.emptyByteArray, Some(struct),
      Map("meta_a" -> "1", "meta_b" -> "2"), Some("boom"))
    val back = RuntimePb.decodeMessage(
      new RuntimePb.Rd(RuntimePb.encodeMessage(m)))
    assert(back.structured.map(_.toString) == Some(struct.toString))
    assert(back.metadata == m.metadata)
    assert(back.error == Some("boom"))

    val raw = RuntimePb.Msg("payload".getBytes(UTF_8), None,
      Map.empty, None)
    val rawBack = RuntimePb.decodeInvokeResponse(
      RuntimePb.encodeInvokeResponse(raw))
    assert(new String(rawBack.payload, UTF_8) == "payload")
    assert(rawBack.error.isEmpty)

    // an EMPTY metadata value must survive the round-trip as "" — a
    // oneof member is present even at its default, so "" still emits
    // its string field (and a kind-less Value decodes as "", not "null")
    val emptyMeta = RuntimePb.Msg("p".getBytes(UTF_8), None,
      Map("x" -> "", "y" -> "v"), None)
    val emBack = RuntimePb.decodeMessage(
      new RuntimePb.Rd(RuntimePb.encodeMessage(emptyMeta)))
    assert(emBack.metadata == Map("x" -> "", "y" -> "v"))
  }

  test("mcp server: stdio transport serves initialize/tools/call") {
    val dir = Files.createTempDirectory("mcp_repo")
    writeRepo(dir)
    val srv = new graft.mcp.McpServer(spark, dir.toString)
    assert(srv.tools.map(_.name).toSet ==
      Set("to_upper", "get-scratch", "set-scratch"))

    val requests = Seq(
      """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{"protocolVersion":"2024-11-05","capabilities":{},"clientInfo":{"name":"t","version":"0"}}}""",
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""",
      """{"jsonrpc":"2.0","id":2,"method":"tools/list"}""",
      """{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{"name":"to_upper","arguments":{"value":"hi there"}}}""",
      """{"jsonrpc":"2.0","id":4,"method":"tools/call","params":{"name":"get-scratch","arguments":{"key":"greeting"}}}""",
      """{"jsonrpc":"2.0","id":5,"method":"tools/call","params":{"name":"set-scratch","arguments":{"key":"k2","value":"v2"}}}""",
      """{"jsonrpc":"2.0","id":6,"method":"tools/call","params":{"name":"get-scratch","arguments":{"key":"k2"}}}""")
    val out = new ByteArrayOutputStream()
    srv.serveStdio(new ByteArrayInputStream(
      requests.mkString("\n").getBytes(UTF_8)), out)
    val responses = out.toString(UTF_8).trim.split("\n").map(mapper.readTree)
    assert(responses.length == 6) // the notification gets no reply
    assert(responses(0).at("/result/serverInfo/name").asText == "graft-runtime")
    val toolNames = responses(1).at("/result/tools").elements()
    val names = scala.collection.mutable.Set.empty[String]
    toolNames.forEachRemaining(t => names += t.path("name").asText)
    assert(names == Set("to_upper", "get-scratch", "set-scratch"))
    assert(responses(2).at("/result/content/0/text").asText == "HI THERE")
    assert(responses(3).at("/result/content/0/text").asText == "hello")
    assert(responses(5).at("/result/content/0/text").asText == "v2")
  }

  test("mcp server: unknown tool and missing key are reported in-band") {
    val dir = Files.createTempDirectory("mcp_repo2")
    writeRepo(dir)
    val srv = new graft.mcp.McpServer(spark, dir.toString)
    val bad = mapper.readTree(srv.handle(
      """{"jsonrpc":"2.0","id":9,"method":"tools/call","params":{"name":"nope"}}""").get)
    assert(bad.at("/error/message").asText.contains("unknown tool"))
    val miss = mapper.readTree(srv.handle(
      """{"jsonrpc":"2.0","id":10,"method":"tools/call","params":{"name":"get-scratch","arguments":{"key":"absent"}}}""").get)
    assert(miss.at("/result/isError").asBoolean())
  }

  test("agent processor: guest handshake + InvokeAgent over gRPC (upper)") {
    val out = AgentRuntime.processor(
      envelope(Seq("alpha one", "beta two")).repartition(1),
      javaCmd("upper"), mcpServer = "", cwd = "")
      .orderBy("__seq")
      .collect()
    assert(out.map(_.getString(0)).toSeq == Seq("ALPHA ONE", "BETA TWO"))
    assert(out.forall(_.getString(2) == null), out.mkString("; "))
    assert(out.forall(_.getMap[String, String](1).get("agent")
      .contains("upper")))
  }

  test("agent ⇄ MCP: guest dispatches its work through a tool (full loop)") {
    val dir = Files.createTempDirectory("mcp_repo3")
    writeRepo(dir)
    val srv = new graft.mcp.McpServer(spark, dir.toString,
      labelFilter = Set("to_upper", "scratch").contains)
    val http = srv.serveHttp()
    try {
      // repartition(2): two tasks → two concurrent h2c connections →
      // two concurrent MCP sessions in the guest (regression: a shared
      // SSE session interleaved concurrent requests and deadlocked)
      val out = AgentRuntime.processor(
        envelope(Seq("hello world", "spark agent", "third doc",
          "fourth doc")).repartition(2),
        javaCmd("tool:to_upper"), mcpServer = http.sseUrl, cwd = "")
        .orderBy("__seq").collect()
      assert(out.map(_.getString(0)).toSeq ==
        Seq("HELLO WORLD", "SPARK AGENT", "THIRD DOC", "FOURTH DOC"),
        out.mkString("; "))
      assert(out.forall(_.getMap[String, String](1).get("tool")
        .contains("to_upper")))
    } finally http.stop()
  }

  private def pyCmd(mode: String): Seq[String] =
    Seq("python3", AgentRuntime.pythonGuestScript.toString, mode)

  test("python guest: handshake + InvokeAgent over gRPC (upper)") {
    val out = AgentRuntime.processor(
      envelope(Seq("alpha one", "beta two")).repartition(1),
      pyCmd("upper"), mcpServer = "", cwd = "")
      .orderBy("__seq")
      .collect()
    assert(out.map(_.getString(0)).toSeq == Seq("ALPHA ONE", "BETA TWO"))
    assert(out.forall(_.getString(2) == null), out.mkString("; "))
    assert(out.forall(_.getMap[String, String](1).get("agent")
      .contains("upper")))
  }

  test("python guest ⇄ MCP: cross-language ABI over real sockets") {
    val dir = Files.createTempDirectory("mcp_repo_py")
    writeRepo(dir)
    val srv = new graft.mcp.McpServer(spark, dir.toString,
      labelFilter = Set("to_upper", "scratch").contains)
    val http = srv.serveHttp()
    val cmd = pyCmd("tool:to_upper")
    try {
      // two partitions → two h2c connections → two MCP SSE sessions in
      // the python guest, same concurrency shape as the JVM guest case
      val out = AgentRuntime.processor(
        envelope(Seq("hello world", "spark agent", "third doc",
          "fourth doc")).repartition(2),
        cmd, mcpServer = http.sseUrl, cwd = "")
        .orderBy("__seq").collect()
      assert(out.map(_.getString(0)).toSeq ==
        Seq("HELLO WORLD", "SPARK AGENT", "THIRD DOC", "FOURTH DOC"),
        out.mkString("; "))
      assert(out.forall(_.getString(2) == null), out.mkString("; "))
      assert(out.forall(_.getMap[String, String](1).get("tool")
        .contains("to_upper")))
    } finally {
      AgentRuntime.releaseGuest(cmd, http.sseUrl)
      http.stop()
    }
  }

  test("python guest chain mode: multi-tool turn over MCP (r15)") {
    val dir = Files.createTempDirectory("mcp_repo_py_chain")
    writeRepo(dir)
    Files.writeString(dir.resolve("resources/processors/exclaim.yaml"),
      """label: exclaim
        |meta:
        |  mcp:
        |    enabled: true
        |    description: Append a bang
        |mapping: root = content() + "!"
        |""".stripMargin)
    val srv = new graft.mcp.McpServer(spark, dir.toString,
      labelFilter = Set("to_upper", "exclaim").contains)
    val http = srv.serveHttp()
    val cmd = pyCmd("chain:to_upper,exclaim")
    try {
      val out = AgentRuntime.processor(
        envelope(Seq("hello", "chain me")).repartition(1),
        cmd, mcpServer = http.sseUrl, cwd = "")
        .orderBy("__seq").collect()
      assert(out.map(_.getString(0)).toSeq == Seq("HELLO!", "CHAIN ME!"),
        out.mkString("; "))
      assert(out.forall(_.getString(2) == null), out.mkString("; "))
      assert(out.forall(_.getMap[String, String](1).get("tools")
        .contains("to_upper,exclaim")))
      assert(out.forall(_.getMap[String, String](1).get("agent")
        .contains("chain")))
    } finally {
      AgentRuntime.releaseGuest(cmd, http.sseUrl)
      http.stop()
    }
  }

  test("python guest error channel: tool failure -> proto Error -> error column (r15)") {
    // a strict-JSON tool: a non-JSON row lands on the processor's error
    // channel, the MCP call comes back isError, the python guest maps
    // it to the proto's Message.Error{message} (grpc-status stays 0),
    // and the engine routes it to the row's error column — the
    // reference's message.proto error contract, cross-language
    val dir = Files.createTempDirectory("mcp_repo_py_err")
    writeRepo(dir)
    Files.writeString(dir.resolve("resources/processors/strict_json.yaml"),
      """label: strict_json
        |meta:
        |  mcp:
        |    enabled: true
        |    description: Uppercase the msg field of a JSON value
        |mapping: root = content().parse_json().msg.uppercase()
        |""".stripMargin)
    val srv = new graft.mcp.McpServer(spark, dir.toString,
      labelFilter = Set("strict_json").contains)
    val http = srv.serveHttp()
    val cmd = pyCmd("tool:strict_json")
    try {
      val out = AgentRuntime.processor(
        envelope(Seq("""{"msg":"fine row"}""", "not json at all",
          """{"msg":"also fine"}""")).repartition(1),
        cmd, mcpServer = http.sseUrl, cwd = "")
        .orderBy("__seq").collect()
      // successes transform; the failure carries the in-band error
      assert(out(0).getString(0) == "FINE ROW" && out(0).getString(2) == null)
      assert(out(2).getString(0) == "ALSO FINE" && out(2).getString(2) == null)
      val bad = out(1)
      assert(bad.getString(2) != null, "row 1 must carry an error")
      assert(bad.getString(2).startsWith("agent: "),
        s"in-band proto Error expected, got: ${bad.getString(2)}")
      assert(bad.getString(2).contains("strict_json"),
        s"error should name the failing tool: ${bad.getString(2)}")
    } finally {
      AgentRuntime.releaseGuest(cmd, http.sseUrl)
      http.stop()
    }
  }

  test("mcp file cache rejects path-escaping keys") {
    val dir = Files.createTempDirectory("mcp_repo_file")
    val caches = dir.resolve("resources/caches")
    Files.createDirectories(caches)
    val store = Files.createTempDirectory("mcp_file_store")
    Files.writeString(caches.resolve("disk.yaml"),
      s"""label: disk
         |meta:
         |  mcp:
         |    enabled: true
         |    description: file cache
         |file:
         |  directory: ${store.toString}
         |""".stripMargin)
    val srv = new graft.mcp.McpServer(spark, dir.toString)
    def call(tool: String, args: String): com.fasterxml.jackson.databind.JsonNode =
      mapper.readTree(srv.handle(
        s"""{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"$tool","arguments":$args}}""").get)
    // normal keys round-trip
    assert(!call("set-disk", """{"key":"ok","value":"v1"}""")
      .at("/result/isError").asBoolean())
    assert(call("get-disk", """{"key":"ok"}""")
      .at("/result/content/0/text").asText == "v1")
    // traversal and absolute keys are rejected in-band, nothing written
    for (bad <- Seq("../../escape", "/etc/hostname", "a/b", "..")) {
      val r = call("set-disk", s"""{"key":"${bad}","value":"x"}""")
      assert(r.at("/result/isError").asBoolean(), s"key '$bad' accepted")
    }
    assert(call("get-disk", """{"key":"../../../etc/hostname"}""")
      .at("/result/isError").asBoolean())
  }

  test("an mcp cache and a pipeline cache processor share one store") {
    val dir = Files.createTempDirectory("mcp_repo_shared")
    val caches = dir.resolve("resources/caches")
    Files.createDirectories(caches)
    Files.writeString(caches.resolve("shared.yaml"),
      """label: mcp_shared
        |meta:
        |  mcp:
        |    enabled: true
        |    description: shared cache
        |memory: {}
        |""".stripMargin)
    val srv = new graft.mcp.McpServer(spark, dir.toString)
    def call(tool: String, args: String): com.fasterxml.jackson.databind.JsonNode =
      mapper.readTree(srv.handle(
        s"""{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"$tool","arguments":$args}}""").get)
    assert(!call("set-mcp_shared", """{"key":"from_mcp","value":"m1"}""")
      .at("/result/isError").asBoolean())
    // the pipeline reads the tool's write and writes one of its own
    val got = graft.config.Pipeline.build(spark,
      """input:
        |  generate: { count: 1, mapping: 'root = "x"' }
        |pipeline:
        |  processors:
        |    - cache: { resource: mcp_shared, operator: get, key: from_mcp }
        |    - cache: { resource: mcp_shared, operator: set, key: from_pipeline, value: p1 }
        |""".stripMargin).select("value", "error").collect()
    assert(got.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("m1", null)))
    assert(call("get-mcp_shared", """{"key":"from_pipeline"}""")
      .at("/result/content/0/text").asText == "p1")
  }

  test("mcp input tool drain cap (meta.mcp.max_rows)") {
    val dir = Files.createTempDirectory("mcp_repo_drain")
    val inputs = dir.resolve("resources/inputs")
    Files.createDirectories(inputs)
    Files.writeString(inputs.resolve("feed.yaml"),
      """label: feed
        |meta:
        |  mcp:
        |    enabled: true
        |    description: bounded feed
        |    max_rows: 10
        |generate:
        |  count: 15
        |  mapping: 'root = "m" + this.seq.string()'
        |""".stripMargin)
    Files.writeString(inputs.resolve("feed_ok.yaml"),
      """label: feed_ok
        |meta:
        |  mcp:
        |    enabled: true
        |    description: bounded feed under cap
        |generate:
        |  count: 15
        |  mapping: 'root = "m" + this.seq.string()'
        |""".stripMargin)
    val srv = new graft.mcp.McpServer(spark, dir.toString)
    val over = mapper.readTree(srv.handle(
      """{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"feed"}}""").get)
    assert(over.at("/result/isError").asBoolean())
    assert(over.at("/result/content/0/text").asText.contains("drain cap"))
    val ok = mapper.readTree(srv.handle(
      """{"jsonrpc":"2.0","id":2,"method":"tools/call","params":{"name":"feed_ok"}}""").get)
    assert(!ok.at("/result/isError").asBoolean())
    assert(ok.at("/result/content").size() == 15)
  }

  test("mcp http /message: malformed JSON yields a well-formed error frame") {
    val dir = Files.createTempDirectory("mcp_repo_err")
    writeRepo(dir)
    val srv = new graft.mcp.McpServer(spark, dir.toString)
    val http = srv.serveHttp()
    try {
      val sse = java.net.URI.create(http.sseUrl).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      sse.setReadTimeout(15000)
      val rd = new java.io.BufferedReader(new java.io.InputStreamReader(
        sse.getInputStream, UTF_8))
      var line = rd.readLine() // event: endpoint
      val data = rd.readLine()
      assert(data.startsWith("data:"))
      val endpoint = "http://127.0.0.1:" + http.port +
        data.stripPrefix("data:").trim
      rd.readLine() // blank
      // a Jackson parse error message contains quotes/newlines — the
      // pre-fix string interpolation emitted a malformed SSE JSON frame
      val post = java.net.URI.create(endpoint).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      post.setRequestMethod("POST"); post.setDoOutput(true)
      post.getOutputStream.write("{not json".getBytes(UTF_8))
      post.getOutputStream.close()
      assert(post.getResponseCode == 202)
      var payload = ""
      line = rd.readLine()
      while (line != null && payload.isEmpty) {
        if (line.startsWith("data:")) payload = line.stripPrefix("data:").trim
        line = rd.readLine()
      }
      val node = mapper.readTree(payload) // must parse cleanly
      assert(node.at("/error/code").asInt == -32700)
    } finally http.stop()
  }

  test("http gateway: POST /<agent>/invoke runs one message (agent.go http block)") {
    val dir = Files.createTempDirectory("agent_repo_http")
    Files.createDirectories(dir.resolve("mcp"))
    writeRepo(dir.resolve("mcp"))
    val cmd = javaCmd("tool:to_upper")
      .map(c => "\"" + c.replace("\\", "\\\\") + "\"").mkString("[", ", ", "]")
    Files.writeString(dir.resolve("redpanda_agents.yaml"),
      s"""agents:
         |  gw_agent:
         |    input:
         |      generate: { count: 1, mapping: 'root = "seed"' }
         |    tools: [to_upper]
         |    command: $cmd
         |    output:
         |      inproc: gw_out
         |http:
         |  enabled: true
         |  address: 127.0.0.1:0
         |""".stripMargin)
    val (results, gw) = AgentRuntime.runWithGateway(spark, dir.toString)
    try {
      assert(gw.isDefined)
      val url = java.net.URI.create(
        s"http://127.0.0.1:${gw.get.port}/gw_agent/invoke").toURL
      val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestMethod("POST"); c.setDoOutput(true)
      c.getOutputStream.write("gateway ping".getBytes(UTF_8))
      c.getOutputStream.close()
      assert(c.getResponseCode == 200)
      val resp = new String(c.getInputStream.readAllBytes(), UTF_8)
      assert(resp == "GATEWAY PING")
    } finally {
      gw.foreach(_.stop())
      results.foreach(_.mcp.stop())
    }
  }

  test("agent runner: agents/<name>.py runs via the default command (no override)") {
    // the reference's default UX: redpanda_agents.yaml names an agent,
    // the runtime launches agents/<name>.py — here the agent program
    // reuses the bundled guest as its SDK (runpy) and dispatches
    // through the to_upper MCP tool
    val dir = Files.createTempDirectory("agent_repo_py")
    Files.createDirectories(dir.resolve("mcp"))
    writeRepo(dir.resolve("mcp"))
    Files.createDirectories(dir.resolve("agents"))
    Files.writeString(dir.resolve("agents/py_upper.py"),
      s"""import runpy, sys
         |sys.argv = ["agent_guest.py", "tool:to_upper"]
         |runpy.run_path(r"${AgentRuntime.pythonGuestScript}",
         |               run_name="__main__")
         |""".stripMargin)
    Files.writeString(dir.resolve("redpanda_agents.yaml"),
      """agents:
        |  py_upper:
        |    input:
        |      generate:
        |        count: 3
        |        mapping: 'root = "py msg " + this.seq.string()'
        |    tools: [to_upper]
        |    output:
        |      inproc: py_agent_out
        |""".stripMargin)
    val results = AgentRuntime.run(spark, dir.toString)
    try {
      assert(results.map(_.name) == Seq("py_upper"))
      val rows = spark.table("inproc_py_agent_out")
        .orderBy("value").select("value").collect().map(_.getString(0))
      assert(rows.toSeq == Seq("PY MSG 0", "PY MSG 1", "PY MSG 2"))
    } finally results.foreach(_.mcp.stop())
  }

  test("agent runner: redpanda_agents.yaml builds input→agent→output") {
    val dir = Files.createTempDirectory("agent_repo")
    Files.createDirectories(dir.resolve("mcp"))
    writeRepo(dir.resolve("mcp"))
    val cmd = javaCmd("tool:to_upper")
      .map(c => "\"" + c.replace("\\", "\\\\") + "\"").mkString("[", ", ", "]")
    Files.writeString(dir.resolve("redpanda_agents.yaml"),
      s"""agents:
         |  upper_agent:
         |    input:
         |      generate:
         |        count: 3
         |        mapping: 'root = "msg " + this.seq.string()'
         |    tools: [to_upper]
         |    command: $cmd
         |    output:
         |      inproc: agent_out
         |""".stripMargin)
    val results = AgentRuntime.run(spark, dir.toString)
    try {
      assert(results.map(_.name) == Seq("upper_agent"))
      val rows = spark.table("inproc_agent_out")
        .orderBy("value").select("value").collect().map(_.getString(0))
      assert(rows.toSeq == Seq("MSG 0", "MSG 1", "MSG 2"))
    } finally results.foreach(_.mcp.stop())
  }
}
