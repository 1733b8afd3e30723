package graft.sources

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Redis-shaped key/value store seam — the injectable-transport
  * pattern (Broker = kafka, Mq = amqp, PubSub = nats/mqtt) applied to
  * the reference's redis family: the `redis` cache backend
  * (caches/redis.adoc), the `redis_list` / `redis_pubsub` /
  * `redis_scan` / `redis_streams` inputs, the `redis_list` /
  * `redis_hash` / `redis_pubsub` / `redis_streams` outputs, and the
  * generic `redis` command processor (processors/redis.adoc:
  * "actions are performed for each message and the message contents
  * are replaced with the result").
  *
  * The in-memory fake models the data structures, not the wire
  * protocol: one keyspace of typed values (string/hash/list/set/
  * stream) with WRONGTYPE errors on cross-type access, glob-style
  * `KEYS`/`MATCH`/`PSUBSCRIBE` patterns, and a REPLAYABLE pub/sub
  * channel log (real redis pub/sub is fire-and-forget; a bounded
  * Spark read needs the replayable form, same reasoning as
  * [[PubSub.InMemory]]). All commands serialize on one lock — the
  * same single-threaded execution model a real redis server has.
  *
  * `mem://<name>` resolves to the in-process [[Redis.InMemory]] fake
  * (a documented test transport, NOT a server); real deployments need
  * a RESP client at this seam.
  */
object Redis {

  /** Redis glob (KEYS/MATCH/PSUBSCRIBE grammar): `*` any run, `?` one
    * char, `[abc]`/`[a-c]`/`[^a]` classes, `\` escapes.
    */
  def globMatch(pattern: String, s: String): Boolean = {
    def go(p: Int, i: Int): Boolean =
      if (p == pattern.length) i == s.length
      else pattern(p) match {
        case '*' =>
          (i to s.length).exists(j => go(p + 1, j))
        case '?' => i < s.length && go(p + 1, i + 1)
        case '[' =>
          val close = pattern.indexOf(']', p + 1)
          require(close > p, s"unterminated [class in glob '$pattern'")
          if (i >= s.length) false
          else {
            val body = pattern.substring(p + 1, close)
            val (neg, cls) =
              if (body.startsWith("^")) (true, body.drop(1)) else (false, body)
            var hit = false
            var k = 0
            while (k < cls.length) {
              if (k + 2 < cls.length && cls(k + 1) == '-') {
                if (cls(k) <= s(i) && s(i) <= cls(k + 2)) hit = true
                k += 3
              } else {
                if (cls(k) == s(i)) hit = true
                k += 1
              }
            }
            hit != neg && go(close + 1, i + 1)
          }
        case '\\' if p + 1 < pattern.length =>
          i < s.length && pattern(p + 1) == s(i) && go(p + 2, i + 1)
        case c => i < s.length && c == s(i) && go(p + 1, i + 1)
      }
    go(0, 0)
  }

  final case class StreamEntry(id: String, fields: Seq[(String, String)])
  final case class Publication(seq: Long, channel: String, body: String)

  /** One keyspace of typed values, all commands under one lock (the
    * single-threaded model of a real redis server). Command names are
    * case-insensitive; results use the shapes a RESP client returns
    * (Long for counts, Option-less null for missing, Seq for arrays,
    * Map for hashes).
    */
  final class InMemory {
    private sealed trait V
    private final case class Str(var v: String) extends V
    private final case class Hash(m: mutable.LinkedHashMap[String, String]) extends V
    private final case class Lst(b: ArrayBuffer[String]) extends V
    private final case class SetV(s: mutable.LinkedHashSet[String]) extends V
    private final case class Stream(b: ArrayBuffer[StreamEntry],
                                    var lastMs: Long, var lastSeq: Long) extends V

    private val space = mutable.LinkedHashMap.empty[String, V]
    private val expireAt = mutable.HashMap.empty[String, Long]
    private val channelLog = ArrayBuffer.empty[Publication]

    /** Injectable for TTL tests; defaults to the wall clock. */
    @volatile var nowMs: () => Long = () => System.currentTimeMillis()

    private def live(k: String): Option[V] = {
      expireAt.get(k).filter(_ <= nowMs()).foreach { _ =>
        space.remove(k); expireAt.remove(k)
      }
      space.get(k)
    }
    private def typed[T <: V](k: String, mk: => T)(
        implicit ct: scala.reflect.ClassTag[T]): T = live(k) match {
      case Some(v: T) => v
      case Some(_) => throw new IllegalArgumentException(
        s"WRONGTYPE operation against key '$k'")
      case None => val v = mk; space.put(k, v); v
    }

    private def str(a: Any): String = a match {
      case null => null
      case s: String => s
      case b: Array[Byte] => new String(b, "UTF-8")
      case x => x.toString
    }

    def command(cmd: String, args: Seq[Any]): Any = synchronized {
      val a = args.map(str)
      cmd.toUpperCase match {
        case "SET" =>
          typed[Str](a(0), Str(null)).v = a(1)
          expireAt.remove(a(0))
          a.drop(2).map(_.toUpperCase) match {
            case Seq("EX", secs) => expireAt(a(0)) = nowMs() + secs.toLong * 1000
            case Seq("PX", ms) => expireAt(a(0)) = nowMs() + ms.toLong
            case Seq() => ()
            case other => throw new IllegalArgumentException(
              s"SET options $other unsupported")
          }
          "OK"
        case "GET" => live(a(0)) match {
          case Some(Str(v)) => v
          case Some(_) => throw new IllegalArgumentException(
            s"WRONGTYPE operation against key '${a(0)}'")
          case None => null
        }
        case "DEL" =>
          a.count { k =>
            val had = live(k).isDefined
            space.remove(k); expireAt.remove(k); had
          }.toLong
        case "EXISTS" => a.count(live(_).isDefined).toLong
        case "EXPIRE" =>
          if (live(a(0)).isDefined) {
            expireAt(a(0)) = nowMs() + a(1).toLong * 1000; 1L
          } else 0L
        case "TTL" =>
          if (live(a(0)).isEmpty) -2L
          else expireAt.get(a(0)).map(t =>
            math.max((t - nowMs()) / 1000, 0L)).getOrElse(-1L)
        case "INCR" => command("INCRBY", Seq(a(0), "1"))
        case "INCRBY" =>
          val cell = typed[Str](a(0), Str("0"))
          val v = (if (cell.v == null) 0L else cell.v.toLong) + a(1).toLong
          cell.v = v.toString
          v
        case "KEYS" => space.keysIterator.toVector // snapshot: expiry sweep
          .filter(k => live(k).isDefined && globMatch(a(0), k))
        case "TYPE" => live(a(0)) match {
          case Some(_: Str) => "string"
          case Some(_: Hash) => "hash"
          case Some(_: Lst) => "list"
          case Some(_: SetV) => "set"
          case Some(_: Stream) => "stream"
          case None => "none"
        }
        case "SADD" =>
          val s = typed[SetV](a(0), SetV(mutable.LinkedHashSet.empty)).s
          a.tail.count(m => s.add(m)).toLong
        case "SREM" =>
          live(a(0)) match {
            case Some(SetV(s)) => a.tail.count(s.remove).toLong
            case _ => 0L
          }
        case "SCARD" => live(a(0)) match {
          case Some(SetV(s)) => s.size.toLong
          case _ => 0L
        }
        case "SISMEMBER" => live(a(0)) match {
          case Some(SetV(s)) => if (s.contains(a(1))) 1L else 0L
          case _ => 0L
        }
        case "SMEMBERS" => live(a(0)) match {
          case Some(SetV(s)) => s.toVector
          case _ => Vector.empty[String]
        }
        case "LPUSH" =>
          val b = typed[Lst](a(0), Lst(ArrayBuffer.empty)).b
          a.tail.foreach(v => b.insert(0, v)); b.length.toLong
        case "RPUSH" =>
          val b = typed[Lst](a(0), Lst(ArrayBuffer.empty)).b
          b ++= a.tail; b.length.toLong
        case "LPOP" => live(a(0)) match {
          case Some(Lst(b)) if b.nonEmpty => b.remove(0)
          case _ => null
        }
        case "RPOP" => live(a(0)) match {
          case Some(Lst(b)) if b.nonEmpty => b.remove(b.length - 1)
          case _ => null
        }
        case "LLEN" => live(a(0)) match {
          case Some(Lst(b)) => b.length.toLong
          case _ => 0L
        }
        case "LRANGE" => live(a(0)) match {
          case Some(Lst(b)) =>
            def idx(i: Long) = if (i < 0) b.length + i else i
            val from = math.max(idx(a(1).toLong), 0L).toInt
            val to = math.min(idx(a(2).toLong), b.length - 1L).toInt
            if (from > to) Vector.empty[String]
            else b.slice(from, to + 1).toVector
          case _ => Vector.empty[String]
        }
        case "HSET" =>
          val m = typed[Hash](a(0), Hash(mutable.LinkedHashMap.empty)).m
          val pairs = a.tail.grouped(2).map { case Seq(f, v) => (f, v) }.toSeq
          val added = pairs.count(p => !m.contains(p._1))
          pairs.foreach { case (f, v) => m(f) = v }
          added.toLong
        case "HGET" => live(a(0)) match {
          case Some(Hash(m)) => m.getOrElse(a(1), null)
          case _ => null
        }
        case "HGETALL" => live(a(0)) match {
          case Some(Hash(m)) => m.toMap
          case _ => Map.empty[String, String]
        }
        case "HDEL" => live(a(0)) match {
          case Some(Hash(m)) => a.tail.count(m.remove(_).isDefined).toLong
          case _ => 0L
        }
        case "XADD" =>
          val st = typed[Stream](a(0), Stream(ArrayBuffer.empty, 0L, 0L))
          val id =
            if (a(1) == "*") {
              // deterministic monotonic generator: logical-counter ms
              // part (NOT wall clock — replays must be reproducible)
              st.lastMs += 1; st.lastSeq = 0
              s"${st.lastMs}-0"
            } else {
              val Array(ms, seq) = a(1).split("-", 2).padTo(2, "0")
              val (m, q) = (ms.toLong, seq.toLong)
              require(m > st.lastMs || (m == st.lastMs && q > st.lastSeq),
                s"XADD id ${a(1)} not after ${st.lastMs}-${st.lastSeq}")
              st.lastMs = m; st.lastSeq = q
              s"$m-$q"
            }
          val fields = a.drop(2).grouped(2).map { case Seq(f, v) => (f, v) }
          st.b += StreamEntry(id, fields.toSeq)
          id
        case "XLEN" => live(a(0)) match {
          case Some(st: Stream) => st.b.length.toLong
          case _ => 0L
        }
        case "XRANGE" => live(a(0)) match {
          case Some(st: Stream) =>
            def bound(s: String, lo: Boolean): (Long, Long) = s match {
              case "-" => (Long.MinValue, Long.MinValue)
              case "+" => (Long.MaxValue, Long.MaxValue)
              case v => v.split("-", 2) match {
                case Array(ms) =>
                  (ms.toLong, if (lo) Long.MinValue else Long.MaxValue)
                case Array(ms, q) => (ms.toLong, q.toLong)
              }
            }
            def key(id: String): (Long, Long) = {
              val Array(ms, q) = id.split("-", 2); (ms.toLong, q.toLong)
            }
            val lo = bound(a(1), lo = true)
            val hi = bound(a(2), lo = false)
            implicit val ord: Ordering[(Long, Long)] =
              Ordering.Tuple2(Ordering.Long, Ordering.Long)
            st.b.toVector.filter { e =>
              val k = key(e.id); ord.gteq(k, lo) && ord.lteq(k, hi)
            }
          case _ => Vector.empty[StreamEntry]
        }
        case "PUBLISH" =>
          channelLog += Publication(channelLog.length + 1L, a(0), a(1))
          // subscriber count is unknowable in the replay model; return
          // the publication's sequence (documented divergence)
          channelLog.length.toLong
        case other => throw new IllegalArgumentException(
          s"redis command '$other' not implemented in the mem:// fake")
      }
    }

    def channelSnapshot(): Vector[Publication] =
      synchronized(channelLog.toVector)
  }

  object InMemory {
    private val registry = TrieMap.empty[String, InMemory]
    def named(name: String): InMemory =
      registry.getOrElseUpdate(name, new InMemory)
    def drop(name: String): Unit = { registry.remove(name); () }
  }

  def transportFor(address: String): InMemory =
    if (address.startsWith("mem://"))
      InMemory.named(address.stripPrefix("mem://"))
    else throw new IllegalArgumentException(
      s"no redis transport for '$address' in this environment " +
        "(mem:// is the in-process fake; real servers need a RESP client)")

  // ── Spark readers (bounded snapshots in the message envelope) ────

  /** inputs/redis_scan.adoc — one message per key matching `pattern`,
    * body `{"key":…,"value":…}` (input_scan.go:128). The key set is
    * snapshotted under the store lock, then values resolve
    * executor-side in parallel slices.
    */
  def scanRead(spark: SparkSession, address: String,
               pattern: String): DataFrame = {
    val keys = transportFor(address).command("KEYS", Seq(pattern))
      .asInstanceOf[Vector[String]].sorted
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      keys.length / 256 + 1))
    val rows = spark.sparkContext
      .parallelize(keys.zipWithIndex, slices)
      .mapPartitions { part =>
        val t = Redis.transportFor(address)
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        part.flatMap { case (k, i) =>
          Option(t.command("GET", Seq(k)).asInstanceOf[String]).map { v =>
            val json = mapper.createObjectNode().put("key", k).put("value", v)
            Row(json.toString, Map.empty[String, String], null, i.toLong)
          }
        }
      }
    spark.createDataFrame(rows, BrokerStream.schema)
  }

  /** inputs/redis_list.adoc — consuming LPOP drain of one list (the
    * queue semantics of the reference's blocking pop loop). One list =
    * one FIFO = one partition; parallelism comes from many lists,
    * the same trade [[Mq]] documents for AMQP queues.
    */
  def listRead(spark: SparkSession, address: String, key: String): DataFrame = {
    val t = transportFor(address)
    val drained = Iterator.continually(t.command("LPOP", Seq(key)))
      .takeWhile(_ != null).map(_.asInstanceOf[String]).toVector
    val rows = drained.zipWithIndex.map { case (v, i) =>
      Row(v, Map.empty[String, String], null, i.toLong)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), BrokerStream.schema)
  }

  /** inputs/redis_pubsub.adoc — replay of the channel log filtered by
    * `channels` (glob patterns when `usePatterns`, PSUBSCRIBE-style).
    * Metadata: redis_pubsub_channel always, redis_pubsub_pattern for
    * pattern subscriptions (input_pubsub.go:154-155).
    */
  def pubsubRead(spark: SparkSession, address: String, channels: Seq[String],
                 usePatterns: Boolean): DataFrame = {
    val log = transportFor(address).channelSnapshot()
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      log.length / 1024 + 1))
    val matched = log.flatMap { p =>
      val hit =
        if (usePatterns) channels.find(globMatch(_, p.channel))
        else channels.find(_ == p.channel)
      hit.map { pat =>
        val meta = Map("redis_pubsub_channel" -> p.channel) ++
          (if (usePatterns) Map("redis_pubsub_pattern" -> pat) else Map.empty)
        Row(p.body, meta, null, p.seq)
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(matched, slices), BrokerStream.schema)
  }

  /** inputs/redis_streams.adoc — XRANGE scan of each stream; the
    * `bodyKey` field is the message body, all other entry fields are
    * metadata, plus `redis_stream` = entry id (input_streams.go:393).
    * One partition per stream.
    */
  def streamsRead(spark: SparkSession, address: String, streams: Seq[String],
                  bodyKey: String = "body"): DataFrame = {
    val rows = spark.sparkContext
      .parallelize(streams.zipWithIndex, math.max(streams.length, 1))
      .flatMap { case (stream, si) =>
        val t = Redis.transportFor(address)
        t.command("XRANGE", Seq(stream, "-", "+"))
          .asInstanceOf[Vector[StreamEntry]].zipWithIndex.map { case (e, i) =>
            val fields = e.fields.toMap
            val meta = (fields - bodyKey).map { case (k, v) => (k, v) } +
              ("redis_stream" -> e.id)
            Row(fields.getOrElse(bodyKey, null), meta, null,
              si.toLong << 32 | i.toLong)
          }
      }
    spark.createDataFrame(rows, BrokerStream.schema)
  }

  // ── Spark writers ────────────────────────────────────────────────

  /** outputs/redis_list.adoc — RPUSH each row to its (interpolated)
    * key. One list is one FIFO: rows shuffle to one reducer per key
    * (hash partition on key, sort by key+order inside), so per-list
    * order is `orderCol` order and parallelism tracks distinct keys —
    * the same shape as the kafka [[Sinks.brokerWrite]].
    */
  def listWrite(df: DataFrame, address: String, keyCol: Column,
                valueCol: Column, orderCol: Column): Unit = {
    val prepared = df.select(keyCol.cast("string").as("__rk"),
      valueCol.cast("string").as("__rv"), orderCol.cast("long").as("__ro"))
    prepared
      .repartition(col("__rk"))
      .sortWithinPartitions(col("__rk"), col("__ro"))
      .foreachPartition { (it: Iterator[Row]) =>
        val t = Redis.transportFor(address)
        // rows arrive key-contiguous and in-order: push run-length
        // batches, bounded memory
        val buf = ArrayBuffer.empty[String]
        var cur: String = null
        def flush(): Unit = if (buf.nonEmpty) {
          t.command("RPUSH", cur +: buf.toSeq); buf.clear()
        }
        it.foreach { r =>
          val k = r.getString(0)
          if (k != cur || buf.length >= 512) { flush(); cur = k }
          buf += r.getString(1)
        }
        flush()
      }
  }

  /** outputs/redis_streams.adoc — XADD each row to `stream`: `idCol`
    * ('*' = generated), body under `bodyKey`, metadata map entries as
    * additional fields. A single stream serializes appends (real redis
    * too), so rows funnel to one sorted reducer.
    */
  def streamWrite(df: DataFrame, address: String, stream: String,
                  idCol: Column, valueCol: Column, orderCol: Column,
                  bodyKey: String = "body",
                  metadataCol: Option[String] = None): Unit = {
    val metaC = metadataCol.map(col).getOrElse(
      lit(null).cast("map<string,string>"))
    val prepared = df.select(idCol.cast("string").as("__rid"),
      valueCol.cast("string").as("__rv"), orderCol.cast("long").as("__ro"),
      metaC.as("__rm"))
    prepared.repartition(1).sortWithinPartitions(col("__ro"))
      .foreachPartition { (it: Iterator[Row]) =>
        val t = Redis.transportFor(address)
        it.foreach { r =>
          val id = if (r.isNullAt(0) || r.getString(0).isEmpty) "*"
                   else r.getString(0)
          val meta =
            if (r.isNullAt(3)) Seq.empty
            else r.getMap[String, String](3).toSeq.filterNot(_._1 == bodyKey)
          val fields = Seq(bodyKey, r.getString(1)) ++
            meta.flatMap { case (k, v) => Seq(k, v) }
          t.command("XADD", Seq(stream, id) ++ fields)
          ()
        }
      }
  }

  /** outputs/redis_hash.adoc — HSET `keyCol` with an explicit field
    * map and/or the walked JSON object / metadata. Last write per
    * (key, field) wins in `orderCol` order (one reducer per key).
    */
  def hashWrite(df: DataFrame, address: String, keyCol: Column,
                fieldsCol: Column, orderCol: Column): Unit = {
    val prepared = df.select(keyCol.cast("string").as("__rk"),
      fieldsCol.cast("map<string,string>").as("__rf"),
      orderCol.cast("long").as("__ro"))
    prepared.repartition(col("__rk"))
      .sortWithinPartitions(col("__rk"), col("__ro"))
      .foreachPartition { (it: Iterator[Row]) =>
        val t = Redis.transportFor(address)
        it.foreach { r =>
          if (!r.isNullAt(1)) {
            val fields = r.getMap[String, String](1).toSeq
              .flatMap { case (f, v) => Seq(f, v) }
            if (fields.nonEmpty)
              t.command("HSET", r.getString(0) +: fields)
          }
        }
      }
  }

  /** outputs/redis_pubsub.adoc — PUBLISH each row to its interpolated
    * channel; per-channel order follows `orderCol`.
    */
  def pubsubWrite(df: DataFrame, address: String, channelCol: Column,
                  valueCol: Column, orderCol: Column): Unit = {
    val prepared = df.select(channelCol.cast("string").as("__rc"),
      valueCol.cast("string").as("__rv"), orderCol.cast("long").as("__ro"))
    prepared.repartition(col("__rc"))
      .sortWithinPartitions(col("__rc"), col("__ro"))
      .foreachPartition { (it: Iterator[Row]) =>
        val t = Redis.transportFor(address)
        it.foreach(r => t.command("PUBLISH", Seq(r.getString(0), r.getString(1))))
      }
  }

  /** JSON form of a command result — the SetStructuredMut encoding
    * the reference's processor applies (processor.go:384): strings
    * quote, counts are bare integers, arrays/hashes nest.
    */
  private def resultJson(mapper: com.fasterxml.jackson.databind.ObjectMapper,
                         a: Any): String = a match {
    case null => "null"
    case l: Long => l.toString
    case i: Int => i.toString
    case v: Vector[_] =>
      v.map(resultJson(mapper, _)).mkString("[", ",", "]")
    case m: Map[_, _] => m.toSeq.map { case (k, v) =>
        mapper.writeValueAsString(k.toString) + ":" + resultJson(mapper, v)
      }.mkString("{", ",", "}")
    case StreamEntry(id, fields) =>
      s"""{"id":${mapper.writeValueAsString(id)},"fields":${
        resultJson(mapper, fields.toMap)}}"""
    case s: String => mapper.writeValueAsString(s)
    case other => mapper.writeValueAsString(other.toString)
  }

  /** processors/redis.adoc — per-row command execution: `__rcmd` is
    * the interpolated command name, `__rargs` a JSON array of
    * arguments; the result replaces `value` (JSON-encoded, the
    * SetStructuredMut contract) and failures mark the ROW's error
    * channel (processor.go:400), never the task.
    *
    * Commands run in partition order; cross-partition interleaving is
    * nondeterministic (as with any fleet of redis clients) — pipelines
    * needing total order funnel through one sorted partition first.
    */
  def applyCommands(df: DataFrame, address: String): DataFrame = {
    val schema = df.schema
    val vIdx = schema.fieldIndex("value")
    val eIdx = schema.fieldIndex("error")
    val cIdx = schema.fieldIndex("__rcmd")
    val aIdx = schema.fieldIndex("__rargs")
    val out = df.rdd.mapPartitions { it =>
      val t = Redis.transportFor(address)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      it.map { r =>
        val vals = r.toSeq.toArray
        if (vals(eIdx) == null) // errored rows pass through untouched
          try {
            val args: Seq[Any] =
              if (r.isNullAt(aIdx)) Seq.empty
              else {
                val node = mapper.readTree(r.getString(aIdx))
                require(node.isArray, s"args_mapping must produce an " +
                  s"array, got: ${r.getString(aIdx)}")
                import scala.jdk.CollectionConverters._
                node.elements().asScala.map(n =>
                  if (n.isNull) null else n.asText()).toSeq
              }
            val res = t.command(r.getString(cIdx), args)
            vals(vIdx) = resultJson(mapper, res)
          } catch {
            case e: Exception => vals(eIdx) = s"redis operator failed: ${e.getMessage}"
          }
        Row.fromSeq(vals.toIndexedSeq)
      }
    }
    // the commands are a side effect of computing the pass-through
    // plan: barrier (eager localCheckpoint) so a second action — or a
    // recomputed stage — replays checkpointed blocks instead of
    // re-running the commands (the sql_insert convention)
    df.sparkSession.createDataFrame(out, schema)
      .drop("__rcmd", "__rargs").localCheckpoint()
  }

  /** caches/redis.adoc — the relational (key, value) snapshot the
    * `cache` processor's broadcast join wants; `prefix` narrows the
    * keyspace (the reference prepends it to every cache key).
    */
  def cacheView(spark: SparkSession, address: String,
                prefix: String = ""): DataFrame = {
    val t = transportFor(address)
    val pairs = t.synchronized {
      t.command("KEYS", Seq(prefix + "*")).asInstanceOf[Vector[String]]
        .flatMap(k => Option(t.command("GET", Seq(k)).asInstanceOf[String])
          .map(v => (k.stripPrefix(prefix), v)))
    }
    import spark.implicits._
    pairs.toDF("key", "value")
  }
}
