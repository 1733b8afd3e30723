package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}

import graft.awk.Awk
import graft.awk.Awk.{AV, N, S, Uninit}
import graft.sources.Envelope

/** The `awk` processor (internal/impl/awk/processor.go — contract
  * only; the engine is graft's own [[graft.awk.Awk]]).
  *
  * Codecs (processor.go:54-101):
  *   - `none`: empty program input; functions do the work.
  *   - `text`: the message feeds the program as its input text (the
  *     classic awk shape — fields, NR per message line).
  *   - `json`: empty input; the flattened JSON document (and metadata)
  *     pre-populate program variables, path separators and invalid
  *     characters mapped to `_` (flattenForAWK + varInvalidRegexp).
  *
  * Custom functions (processor.go:486-770): json_get/json_set(+_int/
  * _float/_bool)/json_append(+…)/json_delete/json_length/json_type
  * (dot paths, integer segments index arrays), create_json_object/
  * create_json_array, metadata_get/metadata_set, timestamp_unix(_nano)
  * / timestamp_format(_nano), base64_encode/decode, print_log.
  *
  * Result contract: json_* mutate the message document in place;
  * whatever the program PRINTS replaces the message contents (minus
  * one trailing newline); no print output leaves the (possibly
  * json-mutated) contents in place. A runtime error marks the row's
  * error channel, the processor's non-fatal semantics.
  *
  * Scale shape: program parses ONCE driver-side (syntax errors fail
  * the plan); the AST rides the closure; execution is mapPartitions —
  * no shuffle, no driver loop.
  */
object AwkOps {

  private val varInvalid = "[^a-zA-Z0-9_]".r

  /** flattenForAWK (processor.go:606): objects flatten to dot paths,
    * ARRAY ELEMENTS MERGE under the array's own path (the reference
    * walks elements without an index component), scalars stringify.
    */
  private def flatten(path: String, node: JsonNode,
                      out: collection.mutable.Map[String, String]): Unit = {
    if (node.isObject) {
      node.fields().forEachRemaining { e =>
        val p = if (path.isEmpty) e.getKey else s"$path.${e.getKey}"
        flatten(p, e.getValue, out)
      }
    } else if (node.isArray) {
      node.elements().forEachRemaining(el => flatten(path, el, out))
    } else {
      out(path) = if (node.isTextual) node.asText else node.toString
    }
  }

  /** Go time layouts → java.time patterns (the documented subset of
    * processor.go:641-664's detection list plus custom layouts).
    */
  private def goLayoutToJava(layout: String): String = {
    // ordered longest-first so e.g. "01" doesn't eat "2006-01"'s month
    val subs = Seq(
      "2006" -> "yyyy", "01" -> "MM", "02" -> "dd", "15" -> "HH",
      "04" -> "mm", "05" -> "ss", "Z07:00" -> "XXX", "Z0700" -> "XX",
      "-07:00" -> "xxx", "-0700" -> "xx", "MST" -> "zzz",
      "Jan" -> "MMM", "Mon" -> "EEE", ".000" -> ".SSS")
    var out = layout
    subs.foreach { case (g, j) => out = out.replace(g, j) }
    out
  }

  private def parseTimestamp(dateStr: String, goFormat: String): Long = {
    import java.time._
    import java.time.format.DateTimeFormatter
    if (dateStr.isEmpty) return System.currentTimeMillis() * 1000000L
    def tryAll: Option[Instant] = {
      val zoned = Seq(DateTimeFormatter.ISO_OFFSET_DATE_TIME,
        DateTimeFormatter.RFC_1123_DATE_TIME)
      val local = Seq("yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd HH:mm:ss")
        .map(DateTimeFormatter.ofPattern(_))
      val dateOnly = Seq(DateTimeFormatter.ISO_LOCAL_DATE)
      zoned.view.flatMap { f =>
        try Some(OffsetDateTime.parse(dateStr, f).toInstant)
        catch { case _: Exception => None }
      }.headOption.orElse(local.view.flatMap { f =>
        try Some(LocalDateTime.parse(dateStr, f).toInstant(ZoneOffset.UTC))
        catch { case _: Exception => None }
      }.headOption).orElse(dateOnly.view.flatMap { f =>
        try Some(LocalDate.parse(dateStr, f).atStartOfDay
          .toInstant(ZoneOffset.UTC))
        catch { case _: Exception => None }
      }.headOption)
    }
    val instant =
      if (goFormat.isEmpty)
        tryAll.getOrElse(
          throw new Awk.AwkError(s"detecting datetime format of: $dateStr"))
      else {
        val f = java.time.format.DateTimeFormatter
          .ofPattern(goLayoutToJava(goFormat))
        try OffsetDateTime.parse(dateStr, f).toInstant
        catch {
          case _: Exception =>
            try LocalDateTime.parse(dateStr, f).toInstant(ZoneOffset.UTC)
            catch {
              case _: Exception =>
                LocalDate.parse(dateStr, f).atStartOfDay
                  .toInstant(ZoneOffset.UTC)
            }
        }
      }
    instant.getEpochSecond * 1000000000L + instant.getNano
  }

  private def formatTimestamp(epochNanos: Long, layout: String): String = {
    import java.time._
    val f = java.time.format.DateTimeFormatter.ofPattern(
      goLayoutToJava(if (layout.isEmpty) "2006-01-02T15:04:05Z07:00"
                     else layout))
    Instant.ofEpochSecond(epochNanos / 1000000000L,
      epochNanos % 1000000000L).atOffset(ZoneOffset.UTC).format(f)
  }

  /** Per-message mutable state the custom functions close over. */
  private final class MsgCtx(val mapper: ObjectMapper) {
    var value: String = _
    var meta: collection.mutable.LinkedHashMap[String, String] = _
    private var parsed: JsonNode = _
    private var dirty = false
    def reset(v: String,
              m: collection.mutable.LinkedHashMap[String, String]): Unit = {
      value = v; meta = m; parsed = null; dirty = false
    }
    def json(): JsonNode = {
      if (parsed == null) parsed = mapper.readTree(value)
      if (parsed == null)
        throw new Awk.AwkError("parsing message into json: empty document")
      parsed
    }
    def markDirty(): Unit = dirty = true
    /** Contents after the run: printed output wins; else the mutated
      * document; else the original string.
      */
    def finish(printed: String): String =
      if (printed.nonEmpty) printed
      else if (dirty) mapper.writeValueAsString(parsed)
      else value
  }

  // ── gabs-shaped dot-path navigation (integer segments index arrays) ──

  private def resolve(root: JsonNode, path: String): JsonNode = {
    var cur = root
    path.split("\\.").foreach { seg =>
      if (cur == null) return null
      cur =
        if (cur.isArray && seg.forall(_.isDigit)) cur.get(seg.toInt)
        else cur.get(seg)
    }
    cur
  }

  private def setPath(ctx: MsgCtx, path: String, v: JsonNode): AV = {
    val segs = path.split("\\.")
    var cur = ctx.json()
    segs.dropRight(1).foreach { seg =>
      cur match {
        case a: ArrayNode if seg.forall(_.isDigit) =>
          val i = seg.toInt
          while (a.size <= i) a.addObject()
          cur = a.get(i)
        case o: ObjectNode =>
          if (!o.has(seg) || (!o.get(seg).isObject && !o.get(seg).isArray))
            o.putObject(seg)
          cur = o.get(seg)
        case other =>
          throw new Awk.AwkError(s"json_set: cannot traverse $seg in $other")
      }
    }
    val last = segs.last
    cur match {
      case a: ArrayNode if last.forall(_.isDigit) =>
        val i = last.toInt
        while (a.size <= i) a.addNull()
        a.set(i, v)
      case o: ObjectNode => o.set[JsonNode](last, v); ()
      case other =>
        throw new Awk.AwkError(s"json_set: cannot set $last in $other")
    }
    ctx.markDirty()
    N(0)
  }

  private def appendPath(ctx: MsgCtx, path: String, v: JsonNode): AV = {
    val segs = path.split("\\.")
    var cur = ctx.json()
    segs.dropRight(1).foreach { seg =>
      cur match {
        case o: ObjectNode =>
          if (!o.has(seg)) o.putObject(seg)
          cur = o.get(seg)
        case a: ArrayNode if seg.forall(_.isDigit) => cur = a.get(seg.toInt)
        case other =>
          throw new Awk.AwkError(s"json_append: cannot traverse $seg in $other")
      }
    }
    val last = segs.last
    cur match {
      case o: ObjectNode =>
        val arr = o.get(last) match {
          case a: ArrayNode => a
          case _ => o.putArray(last)
        }
        arr.add(v)
        ctx.markDirty()
        N(0)
      case other =>
        throw new Awk.AwkError(s"json_append: cannot append at $last in $other")
    }
  }

  /** Message-independent custom functions (usable from bare Awk.run
    * embeddings and tests): timestamps, base64, json constructors,
    * print_log.
    */
  val stockFuncs: Map[String, Awk.HostFunc] = {
    val mapper = new ObjectMapper()
    def s(args: Seq[AV], i: Int): String = Awk.str(args(i))
    Map(
      "create_json_object" -> (args => {
        val o = mapper.createObjectNode()
        args.grouped(2).foreach {
          case Seq(k, v) => o.put(Awk.str(k), Awk.str(v)): Unit
          case _ => ()
        }
        S(mapper.writeValueAsString(o))
      }),
      "create_json_array" -> (args => {
        val a = mapper.createArrayNode()
        args.foreach(v => a.add(Awk.str(v)))
        S(mapper.writeValueAsString(a))
      }),
      "timestamp_unix" -> (args =>
        N((parseTimestamp(if (args.nonEmpty) s(args, 0) else "",
          if (args.length > 1) s(args, 1) else "") / 1000000000L).toDouble)),
      "timestamp_unix_nano" -> (args =>
        N(parseTimestamp(if (args.nonEmpty) s(args, 0) else "",
          if (args.length > 1) s(args, 1) else "").toDouble)),
      "timestamp_format" -> (args =>
        S(formatTimestamp(Awk.num(args(0)).toLong * 1000000000L,
          if (args.length > 1) s(args, 1) else ""))),
      "timestamp_format_nano" -> (args =>
        S(formatTimestamp(Awk.num(args(0)).toLong,
          if (args.length > 1) s(args, 1) else ""))),
      "base64_encode" -> (args =>
        S(java.util.Base64.getEncoder.encodeToString(
          s(args, 0).getBytes("UTF-8")))),
      "base64_decode" -> (args =>
        S(new String(java.util.Base64.getDecoder.decode(s(args, 0)), "UTF-8"))),
      "print_log" -> (_ => Uninit)) // log sink; output unaffected
  }

  /** Build the custom-function table over one message context. */
  private def hostFuncs(ctx: MsgCtx): Map[String, Awk.HostFunc] = {
    val mapper = ctx.mapper
    def s(args: Seq[AV], i: Int): String = Awk.str(args(i))
    stockFuncs ++ Map(
      "metadata_get" -> (args => S(ctx.meta.getOrElse(s(args, 0), ""))),
      "metadata_set" -> (args => {
        ctx.meta(s(args, 0)) = s(args, 1); Uninit
      }),
      "json_get" -> (args => {
        val t = resolve(ctx.json(), s(args, 0))
        if (t == null || t.isNull) S("null")
        else if (t.isTextual) S(t.asText)
        else S(t.toString)
      }),
      "json_set" -> (args =>
        setPath(ctx, s(args, 0), mapper.getNodeFactory.textNode(s(args, 1)))),
      "json_set_int" -> (args =>
        setPath(ctx, s(args, 0),
          mapper.getNodeFactory.numberNode(Awk.num(args(1)).toLong))),
      "json_set_float" -> (args =>
        setPath(ctx, s(args, 0),
          mapper.getNodeFactory.numberNode(Awk.num(args(1))))),
      "json_set_bool" -> (args =>
        setPath(ctx, s(args, 0),
          mapper.getNodeFactory.booleanNode(Awk.truthy(args(1))))),
      "json_append" -> (args =>
        appendPath(ctx, s(args, 0), mapper.getNodeFactory.textNode(s(args, 1)))),
      "json_append_int" -> (args =>
        appendPath(ctx, s(args, 0),
          mapper.getNodeFactory.numberNode(Awk.num(args(1)).toLong))),
      "json_append_float" -> (args =>
        appendPath(ctx, s(args, 0),
          mapper.getNodeFactory.numberNode(Awk.num(args(1))))),
      "json_append_bool" -> (args =>
        appendPath(ctx, s(args, 0),
          mapper.getNodeFactory.booleanNode(Awk.truthy(args(1))))),
      "json_delete" -> (args => {
        val segs = s(args, 0).split("\\.")
        val parent =
          if (segs.length == 1) ctx.json()
          else resolve(ctx.json(), segs.dropRight(1).mkString("."))
        parent match {
          case o: ObjectNode => o.remove(segs.last); ctx.markDirty()
          case a: ArrayNode if segs.last.forall(_.isDigit) =>
            a.remove(segs.last.toInt); ctx.markDirty()
          case _ => ()
        }
        N(0)
      }),
      "json_length" -> (args => {
        resolve(ctx.json(), s(args, 0)) match {
          case t if t == null => N(0)
          case t if t.isTextual => N(t.asText.length.toDouble)
          case t if t.isArray => N(t.size.toDouble)
          case _ => N(0)
        }
      }),
      "json_type" -> (args => {
        resolve(ctx.json(), s(args, 0)) match {
          case null => S("undefined")
          case t if t.isNull => S("null")
          case t if t.isIntegralNumber => S("int")
          case t if t.isNumber => S("float")
          case t if t.isTextual => S("string")
          case t if t.isBoolean => S("bool")
          case t if t.isArray => S("array")
          case t if t.isObject => S("object")
          case t => throw new Awk.AwkError(s"type not recognised: $t")
        }
      }))
  }

  /** The processor: run `program` per message under `codec`, over the
    * rows where `guard` holds (all rows when None); any other row passes
    * through untouched.
    */
  def awk(df0: DataFrame, program: String,
          codec: String = "text", guard: Option[Column] = None): DataFrame = {
    require(Seq("none", "text", "json").contains(codec),
      s"unrecognised codec: $codec")
    val prog = Awk.parse(program) // driver-side: syntax errors fail fast
    val df = guard.fold(Envelope.ensure(df0))(g =>
      Envelope.ensure(df0).withColumn("__awk_g", g))
    val schema = df.schema
    val vIdx = schema.fieldIndex(Envelope.ValueCol)
    val mIdx = schema.fieldIndex(Envelope.MetadataCol)
    val eIdx = schema.fieldIndex(Envelope.ErrorCol)
    val gIdx = if (guard.isEmpty) -1 else schema.fieldIndex("__awk_g")

    val out = df.mapPartitions { rows =>
      val mapper = new ObjectMapper()
      val ctx = new MsgCtx(mapper)
      val funcs = hostFuncs(ctx)
      rows.map { row =>
        if (gIdx >= 0 && row.get(gIdx) != true) row else {
          val meta = collection.mutable.LinkedHashMap.empty[String, String]
          val prior = row.getMap[String, String](mIdx)
          if (prior != null) prior.foreach { case (k, v) => meta(k) = v }
          ctx.reset(row.getString(vIdx), meta)
          var err: String = row.getString(eIdx)
          var newValue = ctx.value
          try {
            val vars = collection.mutable.Map.empty[String, String]
            val input = codec match {
              case "json" =>
                val flat = collection.mutable.Map.empty[String, String]
                flatten("", ctx.json(), flat)
                flat.foreach { case (k, v) =>
                  vars(varInvalid.replaceAllIn(k, "_")) = v
                }
                " "
              case "text" => ctx.value
              case _ => " "
            }
            if (codec != "none")
              meta.foreach { case (k, v) =>
                vars(varInvalid.replaceAllIn(k, "_")) = v
              }
            val interp = new Awk.Interp(prog, funcs)
            val res = interp.run(input, vars.toMap)
            if (res.exitCode != 0)
              err = "awk interpreter returned non-zero exit code: " +
                res.exitCode
            else {
              val printed = res.output.stripSuffix("\n")
              newValue = ctx.finish(printed)
            }
          } catch {
            case e: Awk.AwkError => err = s"awk: ${e.getMessage}"
            case e: Exception => err = s"awk: ${e.getMessage}"
          }
          val vals = row.toSeq.toArray
          vals(vIdx) = newValue
          vals(mIdx) = ctx.meta.toMap
          vals(eIdx) = err
          Row.fromSeq(vals.toIndexedSeq)
        }
      }
    }(ExpressionEncoder(RowEncoder.encoderFor(schema)))
    if (gIdx >= 0) out.drop("__awk_g") else out
  }
}
