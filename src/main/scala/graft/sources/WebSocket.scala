package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** RFC 6455 WebSocket — frame codec, HTTP/1.1 upgrade handshake,
  * loopback server, and client — built from the PUBLIC protocol spec
  * (the reference's `websocket` input/output, inputs/websocket.adoc /
  * outputs/websocket.adoc, rides a Go ws library; this is the same
  * offline-fixture playbook that made the HTTP push and OTLP
  * receivers real: no network egress, real sockets on 127.0.0.1).
  *
  * Protocol surface: FIN/opcode framing with 7/16/64-bit payload
  * lengths, client-to-server masking (REQUIRED by §5.1; the server
  * rejects unmasked client frames with 1002), fragmentation
  * reassembly (continuation frames), ping→pong auto-reply, and the
  * close handshake with status codes.
  *
  * Spark shape: one WebSocket connection is one ordered duplex byte
  * stream — the batch input is a bounded driver-admission drain (the
  * SaaS-input shape), while the OUTPUT opens one connection per
  * partition and writes executor-side with no shuffle.
  */
object WebSocket {

  val Guid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

  /** Sec-WebSocket-Accept for a client key (§4.2.2 step 5.4). */
  def acceptKey(secWebSocketKey: String): String =
    java.util.Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-1")
        .digest((secWebSocketKey + Guid).getBytes(UTF_8)))

  // opcodes
  val OpCont = 0x0; val OpText = 0x1; val OpBinary = 0x2
  val OpClose = 0x8; val OpPing = 0x9; val OpPong = 0xa

  final case class Frame(fin: Boolean, opcode: Int, payload: Array[Byte])

  /** One reassembled message (text or binary) or a close. */
  sealed trait Message
  final case class Text(value: String) extends Message
  final case class Binary(value: Array[Byte]) extends Message
  final case class Closed(code: Int) extends Message

  // ───────────────────────── frame codec ─────────────────────────

  def writeFrame(out: OutputStream, f: Frame, mask: Boolean): Unit = {
    out.write((if (f.fin) 0x80 else 0) | (f.opcode & 0xf))
    val len = f.payload.length
    val maskBit = if (mask) 0x80 else 0
    if (len < 126) out.write(maskBit | len)
    else if (len < 65536) {
      out.write(maskBit | 126)
      out.write(len >> 8); out.write(len)
    } else {
      out.write(maskBit | 127)
      (7 to 0 by -1).foreach(i => out.write(((len.toLong >>> (8 * i)) & 0xff).toInt))
    }
    if (mask) {
      val key = new Array[Byte](4)
      new java.security.SecureRandom().nextBytes(key)
      out.write(key)
      val masked = f.payload.zipWithIndex.map { case (b, i) =>
        (b ^ key(i % 4)).toByte
      }
      out.write(masked)
    } else out.write(f.payload)
    out.flush()
  }

  private def readN(in: InputStream, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(b, off, n - off)
      if (r < 0) throw new java.io.EOFException("ws: stream closed")
      off += r
    }
    b
  }

  /** Read one frame; `requireMasked` enforces §5.1 (server side). */
  def readFrame(in: InputStream, requireMasked: Boolean): Frame = {
    val b0 = in.read()
    if (b0 < 0) throw new java.io.EOFException("ws: stream closed")
    val fin = (b0 & 0x80) != 0
    val opcode = b0 & 0xf
    val b1 = in.read()
    val masked = (b1 & 0x80) != 0
    if (requireMasked && !masked)
      throw new ProtocolError(1002, "client frames must be masked")
    if (!requireMasked && masked)
      throw new ProtocolError(1002, "server frames must not be masked")
    val len7 = b1 & 0x7f
    val len =
      if (len7 < 126) len7.toLong
      else if (len7 == 126) {
        val b = readN(in, 2); ((b(0) & 0xffL) << 8) | (b(1) & 0xffL)
      } else {
        readN(in, 8).foldLeft(0L)((a, x) => (a << 8) | (x & 0xffL))
      }
    require(len <= Int.MaxValue, "ws: frame too large")
    val key = if (masked) readN(in, 4) else null
    val payload = readN(in, len.toInt)
    val data =
      if (masked) payload.zipWithIndex.map { case (b, i) =>
        (b ^ key(i % 4)).toByte
      } else payload
    Frame(fin, opcode, data)
  }

  final class ProtocolError(val code: Int, msg: String)
      extends RuntimeException(msg)

  // ──────────────────── message-level connection ────────────────────

  /** Message-level wrapper: fragment reassembly, ping→pong auto-reply,
    * close handshake. `maskOutgoing` is true on the client side.
    *
    * `in`/`out` MUST be the same streams the HTTP handshake used: a
    * BufferedInputStream reads AHEAD of the handshake terminator, so a
    * fresh stream over the socket would silently swallow any frames
    * the peer sent immediately after its 101 — a both-sides-blocked
    * deadlock that only fires when the first frames land in the same
    * TCP segment window as the handshake tail.
    */
  final class Conn(socket: Socket, maskOutgoing: Boolean,
                   in: InputStream, out: OutputStream) {
    @volatile private var closed = false

    def sendText(s: String): Unit = synchronized {
      writeFrame(out, Frame(fin = true, OpText, s.getBytes(UTF_8)),
        maskOutgoing)
    }
    def sendBinary(b: Array[Byte]): Unit = synchronized {
      writeFrame(out, Frame(fin = true, OpBinary, b), maskOutgoing)
    }
    /** Fragmented send: first frame carries the opcode, the rest are
      * continuations, only the last has FIN.
      */
    def sendTextFragmented(s: String, chunk: Int): Unit = synchronized {
      val bytes = s.getBytes(UTF_8)
      val parts = bytes.grouped(chunk).toVector
      parts.zipWithIndex.foreach { case (p, i) =>
        writeFrame(out, Frame(fin = i == parts.size - 1,
          if (i == 0) OpText else OpCont, p), maskOutgoing)
      }
    }
    def sendPing(data: Array[Byte] = Array.empty): Unit = synchronized {
      writeFrame(out, Frame(fin = true, OpPing, data), maskOutgoing)
    }
    def sendClose(code: Int = 1000): Unit = synchronized {
      if (!closed) {
        closed = true
        val payload = Array(((code >> 8) & 0xff).toByte, (code & 0xff).toByte)
        writeFrame(out, Frame(fin = true, OpClose, payload), maskOutgoing)
      }
    }

    /** Next data message; Closed on the close handshake (replies with
      * the echo close per §5.5.1), pings answered transparently.
      */
    def receive(): Message = {
      var acc: ArrayBuffer[Byte] = null
      var accOp = 0
      while (true) {
        val f = try readFrame(in, requireMasked = !maskOutgoing)
          catch {
            case e: ProtocolError => sendClose(e.code); return Closed(e.code)
            case _: java.io.EOFException => return Closed(1006)
          }
        f.opcode match {
          case OpPing =>
            synchronized { writeFrame(out, Frame(fin = true, OpPong,
              f.payload), maskOutgoing) }
          case OpPong => () // unsolicited pong: ignore (§5.5.3)
          case OpClose =>
            val code = if (f.payload.length >= 2)
              ((f.payload(0) & 0xff) << 8) | (f.payload(1) & 0xff)
            else 1005
            sendClose(code)
            return Closed(code)
          case OpText | OpBinary =>
            if (f.fin)
              return if (f.opcode == OpText) Text(new String(f.payload, UTF_8))
                     else Binary(f.payload)
            acc = ArrayBuffer.from(f.payload); accOp = f.opcode
          case OpCont =>
            require(acc != null, "ws: continuation without start frame")
            acc ++= f.payload
            if (f.fin) {
              val data = acc.toArray
              acc = null
              return if (accOp == OpText) Text(new String(data, UTF_8))
                     else Binary(data)
            }
          case other =>
            sendClose(1002)
            return Closed(1002)
        }
      }
      Closed(1006) // unreachable
    }

    def close(): Unit = { try socket.close() catch { case _: Exception => () } }
  }

  // ───────────────────────── client ─────────────────────────

  /** Blocking client: HTTP upgrade on `ws://host:port/path`, then a
    * masked [[Conn]]. Extra headers ride the handshake (bearer
    * tokens, etc.).
    */
  def connect(url: String,
              headers: Map[String, String] = Map.empty): Conn = {
    val u = URI.create(url)
    require(u.getScheme == "ws",
      s"ws: only ws:// is reachable in this environment (got $url)")
    val port = if (u.getPort > 0) u.getPort else 80
    val socket = new Socket()
    socket.connect(new InetSocketAddress(u.getHost, port), 10000)
    val out = new BufferedOutputStream(socket.getOutputStream)
    val in = new BufferedInputStream(socket.getInputStream)
    val keyBytes = new Array[Byte](16)
    new java.security.SecureRandom().nextBytes(keyBytes)
    val key = java.util.Base64.getEncoder.encodeToString(keyBytes)
    val path = Option(u.getRawPath).filter(_.nonEmpty).getOrElse("/") +
      Option(u.getRawQuery).map("?" + _).getOrElse("")
    val req = new StringBuilder()
      .append(s"GET $path HTTP/1.1\r\n")
      .append(s"Host: ${u.getHost}:$port\r\n")
      .append("Upgrade: websocket\r\nConnection: Upgrade\r\n")
      .append(s"Sec-WebSocket-Key: $key\r\n")
      .append("Sec-WebSocket-Version: 13\r\n")
    headers.foreach { case (k, v) => req.append(s"$k: $v\r\n") }
    req.append("\r\n")
    out.write(req.toString.getBytes(UTF_8)); out.flush()
    val (status, respHeaders) = readHttpHead(in)
    require(status == 101,
      s"ws: handshake rejected with $status")
    val expect = acceptKey(key)
    require(respHeaders.get("sec-websocket-accept").contains(expect),
      "ws: Sec-WebSocket-Accept mismatch")
    // the handshake's buffered streams carry over — see Conn
    new Conn(socket, maskOutgoing = true, in, out)
  }

  private def readHttpHead(in: InputStream): (Int, Map[String, String]) = {
    val sb = new StringBuilder
    var prev = 0
    var done = false
    while (!done) {
      val c = in.read()
      if (c < 0) throw new java.io.EOFException("ws: handshake EOF")
      sb.append(c.toChar)
      if (c == '\n' && sb.length >= 4 &&
          sb.substring(sb.length - 4) == "\r\n\r\n") done = true
      prev = c
    }
    val lines = sb.toString.split("\r\n").filter(_.nonEmpty)
    val status =
      if (lines.head.startsWith("HTTP/1.1 "))
        lines.head.split(" ")(1).toInt
      else -1
    val hdrs = lines.tail.flatMap { l =>
      val i = l.indexOf(':')
      if (i < 0) None
      else Some(l.substring(0, i).trim.toLowerCase ->
        l.substring(i + 1).trim)
    }.toMap
    (status, hdrs)
  }

  // ───────────────────────── server ─────────────────────────

  /** Loopback WebSocket server: real sockets on an ephemeral port,
    * per-connection daemon thread running `handler` after the upgrade
    * handshake (Sec-WebSocket-Accept computed per §4.2.2; non-upgrade
    * requests get 400). The request path and headers are passed to the
    * handler for routing/auth.
    */
  final class Server(handler: (Conn, String, Map[String, String]) => Unit) {
    private val server = new ServerSocket()
    server.bind(new InetSocketAddress("127.0.0.1", 0))
    @volatile private var running = true

    def port: Int = server.getLocalPort
    def url(path: String = "/"): String = s"ws://127.0.0.1:$port$path"

    private val acceptor = new Thread(() => {
      while (running) {
        try {
          val s = server.accept()
          val t = new Thread(() => serve(s), "ws-conn")
          t.setDaemon(true); t.start()
        } catch { case _: Exception => () }
      }
    }, "ws-accept")
    acceptor.setDaemon(true)
    acceptor.start()

    private def serve(socket: Socket): Unit = {
      try {
        val in = new BufferedInputStream(socket.getInputStream)
        val out = new BufferedOutputStream(socket.getOutputStream)
        val head = readRequestHead(in)
        val (requestLine, hdrs) = head
        val path = requestLine.split(" ")(1)
        hdrs.get("sec-websocket-key") match {
          case Some(key)
              if hdrs.get("upgrade").exists(_.equalsIgnoreCase("websocket")) =>
            out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
              "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
              s"Sec-WebSocket-Accept: ${acceptKey(key)}\r\n\r\n")
              .getBytes(UTF_8))
            out.flush()
            // the handshake's buffered streams carry over — see Conn
            handler(new Conn(socket, maskOutgoing = false, in, out),
              path, hdrs)
          case _ =>
            out.write(("HTTP/1.1 400 Bad Request\r\n" +
              "Content-Length: 0\r\n\r\n").getBytes(UTF_8))
            out.flush()
            socket.close()
        }
      } catch { case _: Exception =>
        try socket.close() catch { case _: Exception => () }
      }
    }

    private def readRequestHead(in: InputStream)
        : (String, Map[String, String]) = {
      val sb = new StringBuilder
      var done = false
      while (!done) {
        val c = in.read()
        if (c < 0) throw new java.io.EOFException("ws: request EOF")
        sb.append(c.toChar)
        if (c == '\n' && sb.length >= 4 &&
            sb.substring(sb.length - 4) == "\r\n\r\n") done = true
      }
      val lines = sb.toString.split("\r\n").filter(_.nonEmpty)
      val hdrs = lines.tail.flatMap { l =>
        val i = l.indexOf(':')
        if (i < 0) None
        else Some(l.substring(0, i).trim.toLowerCase ->
          l.substring(i + 1).trim)
      }.toMap
      (lines.head, hdrs)
    }

    def stop(): Unit = {
      running = false
      try server.close() catch { case _: Exception => () }
    }
  }

  /** Collector server: every received text message is recorded
    * (thread-safe across concurrent client connections); close frames
    * end the per-connection loop. The drain → DataFrame shape of the
    * OTLP receiver.
    */
  final class CollectServer extends AutoCloseable {
    private val received = ArrayBuffer.empty[String]
    private val inner = new Server((conn, _, _) => {
      var open = true
      while (open) conn.receive() match {
        case Text(v) => received.synchronized { received += v; () }
        case Binary(b) => received.synchronized {
          received += new String(b, UTF_8); ()
        }
        case Closed(_) => open = false
      }
      conn.close()
    })
    def url: String = inner.url("/ingest")
    def messages: Vector[String] = received.synchronized(received.toVector)
    def drain(spark: SparkSession): DataFrame = {
      val rows = messages.zipWithIndex.map { case (v, i) =>
        Row(v, Map.empty[String, String], null, i.toLong)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows,
          math.max(1, math.min(rows.size,
            spark.sparkContext.defaultParallelism))), BrokerStream.schema)
    }
    def close(): Unit = inner.stop()
  }

  // ─────────────────── input/output components ───────────────────

  /** `websocket` INPUT (inputs/websocket.adoc): connect, optionally
    * send `open_message`, then drain messages until the server closes
    * (or `maxMessages`). Bounded driver admission — the continuous
    * form is a [[PollStream]] over a reconnecting cursor.
    */
  def read(spark: SparkSession, url: String,
           headers: Map[String, String] = Map.empty,
           openMessage: Option[String] = None,
           maxMessages: Int = 1000000): DataFrame = {
    val conn = connect(url, headers)
    val out = Vector.newBuilder[String]
    try {
      openMessage.foreach(conn.sendText)
      var n = 0
      var open = true
      while (open && n < maxMessages) conn.receive() match {
        case Text(v) => out += v; n += 1
        case Binary(b) => out += new String(b, UTF_8); n += 1
        case Closed(_) => open = false
      }
      if (open) conn.sendClose()
    } finally conn.close()
    val rows = out.result().zipWithIndex.map { case (v, i) =>
      Row(v, Map.empty[String, String], null, i.toLong)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows,
        math.max(1, math.min(math.max(rows.size, 1),
          spark.sparkContext.defaultParallelism))), BrokerStream.schema)
  }

  /** `websocket` OUTPUT (outputs/websocket.adoc): one connection per
    * partition, each row's value sent as a text message, close
    * handshake on partition end. Executor-side, no shuffle.
    */
  def write(df: DataFrame, url: String,
            headers: Map[String, String] = Map.empty,
            valueCol: String = "value"): Unit = {
    val vIdx = df.schema.fieldIndex(valueCol)
    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val conn = connect(url, headers)
        try {
          it.foreach(r => conn.sendText(r.getString(vIdx)))
          conn.sendClose()
          // wait for the close echo so the server has drained us
          var open = true
          while (open) conn.receive() match {
            case Closed(_) => open = false
            case _ => ()
          }
        } finally conn.close()
      }
    }
  }
}
