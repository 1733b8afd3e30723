package graft.mcp

import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.config.{Outputs, Pipeline, Processors}

/** MCP server over a repository of pipeline resources — the analog of
  * the reference's `mcp-server` CLI entry point (contract:
  * internal/cli/mcp_server.go, internal/mcp/mcp.go,
  * internal/mcp/tools/wrapper.go, internal/mcp/repository/scanner.go).
  *
  * The repository layout is the reference's: `resources/processors/`,
  * `resources/caches/`, `resources/inputs/`, `resources/outputs/`
  * (YAML files, each `label` + `meta.mcp.{enabled,description,
  * properties}` + the component config). Every enabled resource
  * becomes an MCP tool:
  *
  *   - processor label → a tool that runs one message through the
  *     processor chain (declared properties arrive as metadata and the
  *     structured payload; with no properties a generic `value` string
  *     is the raw payload) — wrapper.go:420
  *   - cache label → `get-<label>` / `set-<label>` tools — wrapper.go:168
  *   - input label → a tool that drains the (bounded) input and
  *     returns its messages — wrapper.go:320
  *   - output label → a tool accepting `{messages: [...]}` to write —
  *     wrapper.go:560
  *
  * Wire protocol: MCP JSON-RPC 2.0 (`initialize`, `tools/list`,
  * `tools/call`, `ping`), served over stdio (NDJSON, the spec's stdio
  * transport) or HTTP+SSE (`GET /sse` announces the session's message
  * endpoint; responses stream back as `message` events) — the
  * transport the agent runtime hands its guests.
  *
  * Scale note: tool calls are control-plane operations (an assistant
  * invoking one message at a time), so each processor call runs a
  * one-row local plan; the data-plane path for the same YAML stays
  * [[Pipeline.run]] over the full DataFrame.
  */
final class McpServer(spark: SparkSession, repositoryDir: String,
                      labelFilter: String => Boolean = _ => true,
                      tagFilter: Seq[String] => Boolean = _ => true,
                      env: Map[String, String] = Map.empty) {

  private val mapper = new ObjectMapper()
  private val yaml = new ObjectMapper(new YAMLFactory())

  /** One registered MCP tool. */
  final case class Tool(name: String, description: String,
                        inputSchema: ObjectNode,
                        handler: ObjectNode => Seq[String])

  private val toolsByName = scala.collection.mutable.LinkedHashMap.empty[String, Tool]

  /** Resource labels scanned but not exposed (mcp.enabled: false). */
  private val registeredOnly = scala.collection.mutable.ArrayBuffer.empty[String]

  scan()

  def tools: Seq[Tool] = toolsByName.values.toSeq
  def registeredLabels: Seq[String] = registeredOnly.toSeq

  // ── repository scan ────────────────────────────────────────────────

  private def yamlFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        (p.toString.endsWith(".yaml") || p.toString.endsWith(".yml")))
      .toSeq.sortBy(_.toString)

  private def scan(): Unit = {
    val root = Paths.get(repositoryDir)
    yamlFiles(root.resolve("resources").resolve("processors"))
      .foreach(p => addProcessor(yaml.readTree(Files.readString(p))))
    yamlFiles(root.resolve("resources").resolve("caches"))
      .foreach(p => addCache(yaml.readTree(Files.readString(p))))
    yamlFiles(root.resolve("resources").resolve("inputs"))
      .foreach(p => addInput(yaml.readTree(Files.readString(p))))
    yamlFiles(root.resolve("resources").resolve("outputs"))
      .foreach(p => addOutput(yaml.readTree(Files.readString(p))))
  }

  private def labelOf(res: JsonNode): String =
    Option(res.get("label")).map(_.asText).getOrElse(
      throw new IllegalArgumentException(s"resource needs a label: $res"))

  private def mcpMeta(res: JsonNode): (Boolean, String, Seq[JsonNode]) = {
    val mcp = res.at("/meta/mcp")
    (mcp.path("enabled").asBoolean(false),
      mcp.path("description").asText(""),
      Option(mcp.get("properties")).map(_.elements().asScala.toSeq)
        .getOrElse(Seq.empty))
  }

  private def passesFilters(res: JsonNode): Boolean = {
    val tags = Option(res.at("/meta/tags")).filterNot(_.isMissingNode)
      .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Seq.empty)
    labelFilter(labelOf(res)) && tagFilter(tags)
  }

  /** The component config node = the resource file minus label/meta. */
  private def componentNode(res: JsonNode): ObjectNode = {
    val o = res.deepCopy[ObjectNode]()
    o.remove("label"); o.remove("meta")
    require(o.size() == 1,
      s"resource must have exactly one component field: ${labelOf(res)}")
    o
  }

  private def schemaFor(props: Seq[JsonNode]): (ObjectNode, Seq[String]) = {
    val properties = mapper.createObjectNode()
    val required = scala.collection.mutable.ArrayBuffer.empty[String]
    props.foreach { p =>
      val name = p.get("name").asText
      require(!properties.has(name), s"duplicate property '$name'")
      val prop = mapper.createObjectNode()
      prop.put("type", p.path("type").asText("string"))
      val d = p.path("description").asText("")
      if (d.nonEmpty) prop.put("description", d)
      properties.set(name, prop)
      if (p.path("required").asBoolean(false)) required += name
    }
    if (props.isEmpty) {
      val prop = mapper.createObjectNode()
      prop.put("type", "string")
      prop.put("description", "The value to execute the tool upon.")
      properties.set("value", prop); ()
    }
    val schema = mapper.createObjectNode()
    schema.put("type", "object")
    schema.set[ObjectNode]("properties", properties)
    if (required.nonEmpty) {
      val arr = schema.putArray("required")
      required.foreach(arr.add)
    }
    (schema, required.toSeq)
  }

  // ── envelope plumbing ──────────────────────────────────────────────

  private val envelopeSchema = StructType(Seq(
    StructField("value", StringType),
    StructField("metadata", MapType(StringType, StringType)),
    StructField("error", StringType),
    StructField("__seq", LongType)))

  private def envelopeDf(values: Seq[(String, Map[String, String])]): DataFrame =
    spark.createDataFrame(
      values.zipWithIndex.map { case ((v, m), i) =>
        Row(v, m, null, i.toLong)
      }.asJava, envelopeSchema)

  // ── processors ─────────────────────────────────────────────────────

  private def addProcessor(res: JsonNode): Unit = {
    if (!passesFilters(res)) return
    val label = labelOf(res)
    val proc = Processors.compile(componentNode(res), env) // validates eagerly
    val (enabled, description, props) = mcpMeta(res)
    if (!enabled) { registeredOnly += label; return }
    val (schema, required) = schemaFor(props)
    val declared = props.map(_.get("name").asText)
    toolsByName(label) = Tool(label, description, schema, args => {
      required.foreach(r => require(args.has(r),
        s"required parameter '$r' was missing"))
      val (value, meta) =
        if (declared.isEmpty) (args.path("value").asText(""), Map.empty[String, String])
        else {
          val m = declared.filter(args.has)
            .map(k => k -> args.get(k).asText).toMap
          (mapper.writeValueAsString(args), m)
        }
      val out = proc(envelopeDf(Seq(value -> meta)))
      out.select("value", "error").collect().toSeq.map { r =>
        if (r.getString(1) != null)
          throw new IllegalStateException(s"$label: ${r.getString(1)}")
        r.getString(0)
      }
    })
  }

  // ── caches ─────────────────────────────────────────────────────────

  /** A cache resource, registered through [[graft.config.Caches]] like
    * a pipeline's `cache_resources`, so the tools and a pipeline's
    * `cache` processor share one store per label. Only the writable
    * backends (memory/lru/ttlru/ristretto/noop seed from `init`, `file`
    * keeps one file per key under `directory`, `sql`, and multilevel
    * over those) can back the get/set tools.
    */
  private def addCache(res: JsonNode): Unit = {
    if (!passesFilters(res)) return
    val label = labelOf(res)
    val node = componentNode(res)
    val kind = graft.config.Component.kindOf(node)._1
    graft.config.Caches.register(spark, Seq(node.put("label", label)), env)
    val levels = graft.config.Caches.cacheLevelsOf(label).getOrElse(
      throw new IllegalArgumentException(
        s"cache '$kind' is read-only here, so it cannot back MCP tools; " +
          "use memory/lru/ttlru/ristretto/file/sql"))
    val (enabled, description, _) = mcpMeta(res)
    if (!enabled) { registeredOnly += label; return }

    // Keys come from the MCP caller (an agent guest or anything that can
    // POST to the HTTP endpoint), so a file-backed cache must confine the
    // resolved path to its directory: reject separators / parent refs and
    // double-check the normalized result stays under it.
    def checked(key: String): String = {
      levels.flatMap(_.fileDir).foreach { d =>
        val dir = Paths.get(d).normalize()
        require(key.nonEmpty && !key.contains('/') && !key.contains('\\') &&
          key != "." && key != "..",
          s"invalid cache key (path separators and '..' are not allowed): $key")
        require(dir.resolve(key).normalize().startsWith(dir),
          s"cache key escapes directory: $key")
      }
      key
    }
    def get(key: String): Option[String] =
      levels.iterator.map(_.get(checked(key))).collectFirst { case Some(v) => v }
    def set(key: String, value: String): Unit =
      levels.foreach(_.put(checked(key), value))

    val getSchema = mapper.createObjectNode()
    getSchema.put("type", "object")
    val gp = getSchema.putObject("properties")
    gp.putObject("key").put("type", "string")
      .put("description", "The key of the item to obtain.")
    getSchema.putArray("required").add("key")
    toolsByName(s"get-$label") = Tool(s"get-$label",
      s"Obtain an item from $description", getSchema, args => {
        val key = args.path("key").asText(null)
        require(key != null, "missing key [string] argument")
        Seq(get(key).getOrElse(
          throw new NoSuchElementException(s"key not found: $key")))
      })

    val setSchema = mapper.createObjectNode()
    setSchema.put("type", "object")
    val sp = setSchema.putObject("properties")
    sp.putObject("key").put("type", "string")
      .put("description", "The key of the item to set.")
    sp.putObject("value").put("type", "string")
      .put("description", "The value of the item to set.")
    val sr = setSchema.putArray("required")
    sr.add("key"); sr.add("value")
    toolsByName(s"set-$label") = Tool(s"set-$label",
      s"Set an item within $description", setSchema, args => {
        val key = args.path("key").asText(null)
        require(key != null, "missing key [string] argument")
        val value = args.path("value").asText(null)
        require(value != null, "missing value [string] argument")
        set(key, value)
        Seq("Value set successfully")
      })
  }

  // ── inputs / outputs ───────────────────────────────────────────────

  /** Input tools drain a BOUNDED input and return its messages. A tool
    * call is a one-shot control-plane operation, so the drain is capped
    * (default 10,000 rows) — a repository that points a tool at a large
    * bounded input would otherwise materialize it onto the driver. Raise
    * or lower per resource with `meta.mcp.max_rows`.
    */
  private def addInput(res: JsonNode): Unit = {
    if (!passesFilters(res)) return
    val label = labelOf(res)
    val node = componentNode(res)
    val (enabled, description, _) = mcpMeta(res)
    if (!enabled) { registeredOnly += label; return }
    val maxRows = res.at("/meta/mcp/max_rows").asInt(10000)
    require(maxRows > 0, s"$label: meta.mcp.max_rows must be positive")
    val schema = mapper.createObjectNode()
    schema.put("type", "object")
    schema.putObject("properties")
    toolsByName(label) = Tool(label, description, schema, _ => {
      val cfg = mapper.createObjectNode()
      cfg.set[ObjectNode]("input", node.deepCopy())
      val df = Pipeline.build(spark, yaml.writeValueAsString(cfg), env)
      val drained = df.select("value").limit(maxRows + 1)
        .collect().toSeq.map(_.getString(0))
      require(drained.size <= maxRows,
        s"$label: input exceeds the MCP drain cap of $maxRows rows " +
          "(raise meta.mcp.max_rows, or route data-plane volume through a pipeline)")
      drained
    })
  }

  private def addOutput(res: JsonNode): Unit = {
    if (!passesFilters(res)) return
    val label = labelOf(res)
    val node = componentNode(res)
    val (enabled, description, props) = mcpMeta(res)
    if (!enabled) { registeredOnly += label; return }
    val (msgSchema, _) = schemaFor(props)
    val schema = mapper.createObjectNode()
    schema.put("type", "object")
    val p = schema.putObject("properties")
    val messages = p.putObject("messages")
    messages.put("type", "array")
    messages.set[ObjectNode]("items", msgSchema)
    schema.putArray("required").add("messages")
    val declared = props.map(_.get("name").asText)
    toolsByName(label) = Tool(label, description, schema, args => {
      val msgs = Option(args.get("messages")).map(_.elements().asScala.toSeq)
        .getOrElse(throw new IllegalArgumentException(
          "missing messages [array] argument"))
      val rows = msgs.map { m =>
        if (declared.isEmpty) (m.path("value").asText(""), Map.empty[String, String])
        else (mapper.writeValueAsString(m),
          declared.filter(m.has).map(k => k -> m.get(k).asText).toMap)
      }
      Outputs.write(envelopeDf(rows), node, env)
      Seq(s"Wrote ${rows.size} messages")
    })
  }

  // ── JSON-RPC dispatch ──────────────────────────────────────────────

  /** Handle one JSON-RPC message; None for notifications (no reply). */
  def handle(reqJson: String): Option[String] = {
    val req = mapper.readTree(reqJson)
    val id = req.get("id")
    val method = req.path("method").asText("")
    if (id == null || method.startsWith("notifications/")) return None

    def reply(result: JsonNode): String = {
      val r = mapper.createObjectNode()
      r.put("jsonrpc", "2.0")
      r.set[ObjectNode]("id", id)
      r.set[ObjectNode]("result", result)
      mapper.writeValueAsString(r)
    }
    def fail(code: Int, message: String): String = {
      val r = mapper.createObjectNode()
      r.put("jsonrpc", "2.0")
      r.set[ObjectNode]("id", id)
      val e = r.putObject("error")
      e.put("code", code); e.put("message", message)
      mapper.writeValueAsString(r)
    }

    Some(method match {
      case "initialize" =>
        val result = mapper.createObjectNode()
        result.put("protocolVersion",
          req.at("/params/protocolVersion").asText("2024-11-05"))
        result.putObject("capabilities").putObject("tools")
          .put("listChanged", false)
        val info = result.putObject("serverInfo")
        info.put("name", "graft-runtime"); info.put("version", "1.0.0")
        reply(result)
      case "ping" =>
        reply(mapper.createObjectNode())
      case "tools/list" =>
        val result = mapper.createObjectNode()
        val arr = result.putArray("tools")
        tools.foreach { t =>
          val o = arr.addObject()
          o.put("name", t.name)
          if (t.description.nonEmpty) o.put("description", t.description)
          o.set[ObjectNode]("inputSchema", t.inputSchema.deepCopy())
        }
        reply(result)
      case "tools/call" =>
        val name = req.at("/params/name").asText("")
        toolsByName.get(name) match {
          case None => fail(-32602, s"unknown tool: $name")
          case Some(tool) =>
            val args = Option(req.at("/params/arguments"))
              .collect { case o: ObjectNode => o }
              .getOrElse(mapper.createObjectNode())
            try {
              val texts = tool.handler(args)
              val result = mapper.createObjectNode()
              val content = result.putArray("content")
              texts.foreach { t =>
                val c = content.addObject()
                c.put("type", "text"); c.put("text", t)
              }
              result.put("isError", false)
              reply(result)
            } catch {
              case e: Exception =>
                // tool-level failure: MCP reports it in-band
                val result = mapper.createObjectNode()
                val content = result.putArray("content")
                val c = content.addObject()
                c.put("type", "text")
                c.put("text", Option(e.getMessage).getOrElse(e.toString))
                result.put("isError", true)
                reply(result)
            }
        }
      case other => fail(-32601, s"method not found: $other")
    })
  }

  // ── stdio transport ────────────────────────────────────────────────

  /** NDJSON stdio transport (the MCP spec's stdio framing): one
    * JSON-RPC message per line in, one per line out.
    */
  def serveStdio(in: InputStream, out: OutputStream): Unit = {
    val reader = new BufferedReader(new InputStreamReader(in, UTF_8))
    var line = reader.readLine()
    while (line != null) {
      if (line.trim.nonEmpty) handle(line).foreach { resp =>
        out.write((resp + "\n").getBytes(UTF_8)); out.flush()
      }
      line = reader.readLine()
    }
  }

  // ── HTTP + SSE transport ───────────────────────────────────────────

  /** HTTP+SSE transport: `GET /sse` opens the event stream and
    * announces the session's message endpoint; the client POSTs
    * JSON-RPC there (202) and responses arrive as `message` events.
    *
    * `bindHost` defaults to loopback (a library embedder decides its
    * own listening surface); a multi-node deployment whose agent guests
    * run on executors must bind a reachable interface (the reference
    * defaults to 0.0.0.0) — [[graft.agent.AgentRuntime.runWithGateway]]
    * asserts this. When bound to 0.0.0.0 the advertised [[sseUrl]] uses
    * the local host address so guests receive a dialable URL.
    */
  final class HttpSse(bindHost: String = "127.0.0.1", bindPort: Int = 0) {
    private val sessions = TrieMap.empty[String, OutputStream]
    private val httpServer = HttpServer.create(
      new InetSocketAddress(bindHost, bindPort), 16)
    // without an explicit executor the JDK server dispatches every
    // exchange on its single poller thread — concurrent tool calls from
    // parallel executor tasks then serialize behind each other (and
    // behind open SSE streams); daemon threads so a live fixture never
    // pins a JVM
    httpServer.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
      r => { val t = new Thread(r, "mcp-http"); t.setDaemon(true); t }))

    httpServer.createContext("/sse", (ex: HttpExchange) => {
      val sid = java.util.UUID.randomUUID().toString
      ex.getResponseHeaders.set("Content-Type", "text/event-stream")
      ex.getResponseHeaders.set("Cache-Control", "no-cache")
      ex.sendResponseHeaders(200, 0)
      val os = ex.getResponseBody
      sessions.put(sid, os)
      os.write(s"event: endpoint\ndata: /message?sessionId=$sid\n\n"
        .getBytes(UTF_8))
      os.flush()
      // the stream stays open; events are pushed by /message handlers
    })
    httpServer.createContext("/message", (ex: HttpExchange) => {
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      val sid = query.split("&").map(_.split("=", 2))
        .collectFirst { case Array("sessionId", v) => v }.getOrElse("")
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val resp = try handle(body) catch {
        case e: Exception =>
          // built with the mapper so quotes/newlines in the exception
          // message cannot produce a malformed JSON-RPC frame
          val r = mapper.createObjectNode()
          r.put("jsonrpc", "2.0")
          r.putNull("id")
          val err = r.putObject("error")
          err.put("code", -32700)
          err.put("message", Option(e.getMessage).getOrElse(e.toString))
          Some(mapper.writeValueAsString(r))
      }
      ex.sendResponseHeaders(202, -1)
      ex.close()
      resp.foreach { r =>
        sessions.get(sid).foreach { os =>
          try os.synchronized {
            os.write(s"event: message\ndata: $r\n\n".getBytes(UTF_8))
            os.flush()
          } catch {
            case _: java.io.IOException =>
              // client went away mid-call: drop the dead session so the
              // map doesn't accumulate closed streams
              sessions.remove(sid); ()
          }
        }
      }
    })
    httpServer.setExecutor(java.util.concurrent.Executors
      .newCachedThreadPool())
    httpServer.start()

    def port: Int = httpServer.getAddress.getPort
    private def advertiseHost: String =
      if (bindHost != "0.0.0.0") bindHost
      else {
        // getLocalHost alone is not enough: Debian-style /etc/hosts
        // maps the hostname to 127.0.1.1, which would re-create the
        // unreachable-loopback problem the 0.0.0.0 bind exists to
        // avoid — prefer a real non-loopback interface address
        val fromHostname = java.net.InetAddress.getLocalHost
        if (!fromHostname.isLoopbackAddress &&
            !fromHostname.getHostAddress.startsWith("127."))
          fromHostname.getHostAddress
        else {
          import scala.jdk.CollectionConverters._
          java.net.NetworkInterface.getNetworkInterfaces.asScala
            .filter(i => i.isUp && !i.isLoopback)
            .flatMap(_.getInetAddresses.asScala)
            .collectFirst {
              case a: java.net.Inet4Address if !a.isLoopbackAddress =>
                a.getHostAddress
            }
            .getOrElse(fromHostname.getHostAddress)
        }
      }
    def sseUrl: String = s"http://$advertiseHost:$port/sse"
    def stop(): Unit = {
      sessions.values.foreach(os => try os.close() catch { case _: Exception => () })
      httpServer.stop(0)
    }
  }

  def serveHttp(bindHost: String = "127.0.0.1", bindPort: Int = 0): HttpSse =
    new HttpSse(bindHost, bindPort)
}
