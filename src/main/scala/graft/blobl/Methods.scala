package graft.blobl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import Values._
import Values.BT._

/** Bloblang method registry → Catalyst expressions.
  *
  * Coverage targets the high-frequency members of every category of the
  * reference's method surface (docs/modules/guides/pages/bloblang/
  * methods.adoc: strings :35-796, regexp :797-954, numbers :955-1580,
  * timestamps :1581-2060, coercion :2061-2256, object & array
  * :2257-3318, parsing :3319-3736, encoding & crypto :3737-3953).
  * Every method is a pure Column transform — builtins where they exist,
  * graft_* custom expressions otherwise; no UDFs.
  */
object Methods {

  sealed trait MArg
  /** Compiled value; `litS` carries the source literal when the argument
    * was a string literal (several methods — regex patterns, encodings,
    * separators — are compile-time parameters in Catalyst builtins).
    */
  case class MVal(v: BV, litS: Option[String] = None) extends MArg
  case class MLam(f: BV => BV) extends MArg

  private def v(a: MArg): BV = a match {
    case MVal(x, _) => x
    case _ => throw new IllegalArgumentException("expected value, got lambda")
  }
  private def lam(a: MArg): BV => BV = a match {
    case MLam(f) => f
    case _ => throw new IllegalArgumentException("expected lambda")
  }
  private def litStr(a: MArg): String = a match {
    case MVal(_, Some(s)) => s
    case _ => throw new IllegalArgumentException("expected a string literal argument")
  }

  /** Pattern letters emitted by the layout translators; any OTHER letter
    * remaining after substitution is literal text and must be quoted for
    * java.time ('T' in ISO timestamps, a literal 'Z', …).
    */
  private val patternLetters = "yMdHhmsSXxzEaD".toSet

  private def quoteLiterals(pattern: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c.isLetter && !patternLetters(c)) {
        sb.append('\'')
        while (i < pattern.length && pattern.charAt(i).isLetter &&
          !patternLetters(pattern.charAt(i))) { sb.append(pattern.charAt(i)); i += 1 }
        sb.append('\'')
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Go reference-time layout → java.time pattern (the reference's
    * ts_parse/ts_format take Go layouts, methods.adoc:1581-2060).
    */
  def goLayoutToJava(layout: String): String = {
    // longest-first so "01" doesn't shadow "01/02"
    val subs = Seq(
      "2006" -> "yyyy", "01" -> "MM", "02" -> "dd", "15" -> "HH",
      "03" -> "hh", "04" -> "mm", "05" -> "ss", ".999999999" -> ".SSSSSSSSS",
      ".999999" -> ".SSSSSS", ".999" -> ".SSS", "Z07:00" -> "XXX",
      "-07:00" -> "xxx", "Z0700" -> "XX", "-0700" -> "xx",
      "MST" -> "zzz", "Jan" -> "MMM", "Mon" -> "EEE", "PM" -> "a", "06" -> "yy")
    var out = layout
    // protect pattern-letter collisions in literal text by substituting
    // placeholders first
    subs.foreach { case (go, java) => out = out.replace(go, java) }
    quoteLiterals(out)
  }

  /** strftime → java.time pattern (ts_strftime/ts_strptime). */
  def strftimeToJava(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("yyyy"); case 'y' => sb.append("yy")
          case 'm' => sb.append("MM");   case 'd' => sb.append("dd")
          case 'H' => sb.append("HH");   case 'I' => sb.append("hh")
          case 'M' => sb.append("mm");   case 'S' => sb.append("ss")
          case 'j' => sb.append("DDD");  case 'a' => sb.append("EEE")
          case 'A' => sb.append("EEEE"); case 'b' => sb.append("MMM")
          case 'B' => sb.append("MMMM"); case 'p' => sb.append("a")
          case 'z' => sb.append("xx");   case 'Z' => sb.append("zzz")
          case '%' => sb.append('%')
          case o => sb.append(o)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    quoteLiterals(sb.toString)
  }


  /** Apply method `name` to `recv` with `args`. */
  def apply(recv: BV, name: String, args: Seq[MArg]): BV = name match {
    // ── string (methods.adoc:35-796) ──────────────────────────────────
    case "uppercase" => BV(upper(asString(recv)), S)
    case "lowercase" => BV(lower(asString(recv)), S)
    case "capitalize" => BV(initcap(asString(recv)), S)
    case "trim" =>
      // no-arg form strips ALL whitespace (Go strings.TrimSpace —
      // Spark's trim() strips only 0x20); the cutset form strips any
      // leading/trailing characters IN the cutset (methods.adoc trim)
      if (args.isEmpty)
        BV(regexp_replace(asString(recv), lit("^\\s+|\\s+$"), lit("")), S)
      else BV(trim(asString(recv), litStr(args(0))), S)
    case "trim_prefix" =>
      val p = asString(v(args(0)))
      val s = asString(recv)
      BV(when(s.startsWith(p), expr_substr(s, length(p) + 1)).otherwise(s), S)
    case "trim_suffix" =>
      val p = asString(v(args(0)))
      val s = asString(recv)
      BV(when(s.endsWith(p), substring(s, lit(1), length(s) - length(p))).otherwise(s), S)
    case "has_prefix" => BV(asString(recv).startsWith(asString(v(args(0)))), B)
    case "has_suffix" => BV(asString(recv).endsWith(asString(v(args(0)))), B)
    case "contains" => recv.t match {
      case A(_) =>
        val arr = asArray(recv)
        val needle = v(args(0))
        arr.t match {
          case A(V) =>
            // variant elements have no ordering for array_contains —
            // membership compares canonical JSON text (metrics
            // mappings test names against string lists this way)
            BV(exists(arr.col, x =>
              to_json(x) === to_json(asVariant(needle))), B)
          case _ => BV(array_contains(arr.col, needle.col), B)
        }
      case _ => BV(asString(recv).contains(asString(v(args(0)))), B)
    }
    case "index_of" => BV((instr(asString(recv), asString(v(args(0)))) - 1).cast("long"), I)
    case "length" => recv.t match {
      case A(_) => BV(size(asArray(recv).col).cast("long"), I)
      case V =>
        // dynamic dispatch on the variant's runtime kind (CaseWhen only
        // evaluates the matched branch, so the array cast never runs on
        // scalars)
        BV(when(schema_of_variant(recv.col).startsWith("ARRAY"),
            size(recv.col.cast("array<variant>")).cast("long"))
          .otherwise(length(recv.col.cast("string")).cast("long")), I)
      case _ => BV(length(asString(recv)).cast("long"), I)
    }
    case "slice" =>
      // slice(low, high?) — 0-based, high exclusive; negatives count
      // from the end (methods.adoc slice)
      def bounds(n: Column): (Column, Column) = {
        val lo = asLong(v(args(0)))
        val hi = if (args.length > 1) asLong(v(args(1))) else n
        (when(lo < 0, greatest(n + lo, lit(0L))).otherwise(least(lo, n)),
         when(hi < 0, greatest(n + hi, lit(0L))).otherwise(least(hi, n)))
      }
      def arrSlice(arr: Column): Column = {
        val n = size(arr).cast("long")
        val (lo1, hi1) = bounds(n)
        slice(arr, (lo1 + 1).cast("int"),
          greatest(hi1 - lo1, lit(0L)).cast("int"))
      }
      def strSlice(s: Column): Column = {
        val n = length(s).cast("long")
        val (lo1, hi1) = bounds(n)
        s.substr((lo1 + 1).cast("int"),
          greatest(hi1 - lo1, lit(0L)).cast("int"))
      }
      recv.t match {
        case A(_) => BV(arrSlice(asArray(recv).col), recv.t)
        case S => BV(strSlice(asString(recv)), S)
        case _ =>
          // variant receiver: array vs string is a RUNTIME property
          // (config/rag/eval.yaml `this.unprocessed.slice(1)`)
          val varn = asVariant(recv)
          val isArr = schema_of_variant(varn).startsWith("ARRAY")
          BV(when(isArr,
              parse_json(to_json(arrSlice(varn.cast("array<variant>")))))
            .otherwise(asVariant(BV(strSlice(asString(recv)), S))), V)
      }
    case "split" => BV(split(asString(recv),
      java.util.regex.Pattern.quote(litStr(args(0)))), A(S))
    case "replace_all" => BV(replace(asString(recv), asString(v(args(0))),
      asString(v(args(1)))), S)
    case "reverse" => recv.t match {
      case A(_) => BV(reverse(asArray(recv).col), recv.t)
      case _ => BV(reverse(asString(recv)), S)
    }
    case "repeat" => BV(repeat(asString(recv), asLong(v(args(0))).cast("int")), S)
    case "quote" => BV(to_json(asVariant(BV(asString(recv), S))), S)
    case "format" =>
      // receiver must be a literal format string ("%s-%d".format(a, b));
      // the Compiler routes the literal through the first pseudo-arg.
      // Go's %v verb (render any value) maps to %s — arguments coerce
      // to string (config/test/unit_test_example.yaml "%vend")
      val fmt = litStr(args.head).replace("%v", "%s")
      // cast each argument to its verb's type: %d/%x/%o want integers,
      // %f/%e/%g doubles — a stringified arg there throws at runtime
      val verbs = "%[-+ #0]*[0-9]*(?:\\.[0-9]+)?([a-zA-Z%])".r
        .findAllMatchIn(fmt).map(_.group(1)).filter(_ != "%").toSeq
      val cast = args.tail.zipWithIndex.map { case (a, i) =>
        verbs.lift(i) match {
          case Some("d" | "x" | "X" | "o" | "b" | "c") => asLong(v(a))
          case Some("f" | "e" | "E" | "g" | "G") => asDouble(v(a))
          case _ => asString(v(a))
        }
      }
      BV(format_string(fmt, cast: _*), S)
    case "escape_url_query" => BV(url_encode(asString(recv)), S)
    case "unescape_url_query" => BV(url_decode(asString(recv)), S)
    case "slug" =>
      BV(regexp_replace(regexp_replace(lower(trim(asString(recv))),
        "[^a-z0-9\\s-]", ""), "[\\s-]+", "-"), S)
    case "unicode_segments" =>
      // grapheme/word/sentence segmentation (BreakIterator kernel)
      BV(call_function("graft_unicode_segments", asString(recv),
        lit(litStr(args(0)))), A(S))

    // ── regexp (methods.adoc:797-954) ─────────────────────────────────
    case "re_match" => BV(asString(recv).rlike(litStr(args(0))), B)
    case "re_replace_all" => BV(regexp_replace(asString(recv),
      lit(litStr(args(0))), asString(v(args(1)))), S)
    case "re_find_all" => BV(regexp_extract_all(asString(recv),
      lit(litStr(args(0))), lit(0)), A(S))
    case "re_find_all_submatch" => BV(regexp_extract_all(asString(recv),
      lit(litStr(args(0))), lit(1)), A(S))

    // ── numbers (methods.adoc:955-1580) ───────────────────────────────
    case "abs" => BV(abs(numOperand(recv, recv.t)),
      if (recv.t == I) I else F)
    case "ceil" => BV(ceil(asDouble(recv)).cast("long"), I)
    case "floor" => BV(floor(asDouble(recv)).cast("long"), I)
    case "round" => BV(round(asDouble(recv), 0).cast("long"), I)
    case "log" => BV(log(asDouble(recv)), F)
    case "log10" => BV(log10(asDouble(recv)), F)
    case "pow" => BV(pow(asDouble(recv), asDouble(v(args(0)))), F)
    case "sqrt" => BV(sqrt(asDouble(recv)), F)
    case "max" if args.nonEmpty => BV(greatest(asDouble(recv), asDouble(v(args(0)))), F)
    case "min" if args.nonEmpty => BV(least(asDouble(recv), asDouble(v(args(0)))), F)

    // ── coercion (methods.adoc:2061-2256) ─────────────────────────────
    case "string" => BV(asString(recv), S)
    case "number" => BV(asDouble(recv), F)
    case "bool" => BV(asBool(recv), B)
    case "array" => recv.t match {
      // already an array → identity; scalar → single-element array
      // (methods.adoc array coercion)
      case A(_) => recv
      case _ => BV(array(asVariant(recv)), A(V))
    }
    // width coercions truncate like the reference's integer casts
    case "int8" => BV(asLong(recv).cast("tinyint").cast("long"), I)
    case "int16" => BV(asLong(recv).cast("short").cast("long"), I)
    case "int32" => BV(asLong(recv).cast("int").cast("long"), I)
    case "int64" => BV(asLong(recv), I)
    case "uint8" => BV(asLong(recv).bitwiseAND(lit(0xffL)), I)
    case "uint16" => BV(asLong(recv).bitwiseAND(lit(0xffffL)), I)
    case "uint32" => BV(asLong(recv).bitwiseAND(lit(0xffffffffL)), I)
    case "uint64" => BV(asLong(recv), I)
    case "float32" | "float64" => BV(asDouble(recv), F)
    case "bytes" => BV(asString(recv).cast("binary"), Bin)
    case "not_null" => BV(assert_true_or(recv), recv.t)
    case "not_empty" => recv.t match {
      case A(_) => BV(when(size(asArray(recv).col) > 0, recv.col), recv.t)
      case _ => BV(when(length(asString(recv)) > 0, recv.col), recv.t)
    }
    case "catch" => coalesce2(recv, v(args(0)))
    case "or" => coalesce2(recv, v(args(0)))
    case "timestamp" => BV(asTimestamp(recv), TS)
    case "type" =>
      val tn = recv.t match {
        case S => lit("string")
        case I => lit("number")
        case F => lit("number")
        case B => lit("bool")
        case A(_) => lit("array")
        case TS => lit("timestamp")
        case _ =>
          val sv = schema_of_variant(asVariant(recv))
          when(sv.startsWith("ARRAY"), "array")
            .when(sv.startsWith("OBJECT") || sv.startsWith("STRUCT"), "object")
            .when(sv === "STRING", "string")
            .when(sv === "BOOLEAN", "bool")
            .when(sv.startsWith("DECIMAL") ||
              sv.isin("BIGINT", "INT", "SMALLINT", "TINYINT", "DOUBLE",
                "FLOAT"), "number")
            .otherwise(lower(sv))
      }
      BV(tn, S)

    // ── timestamps (methods.adoc:1581-2060) ───────────────────────────
    case "ts_parse" =>
      BV(to_timestamp(asString(recv), goLayoutToJava(litStr(args(0)))), TS)
    case "ts_format" =>
      BV(date_format(asTimestamp(recv), goLayoutToJava(litStr(args(0)))), S)
    case "ts_strptime" =>
      BV(to_timestamp(asString(recv), strftimeToJava(litStr(args(0)))), TS)
    case "ts_strftime" =>
      BV(date_format(asTimestamp(recv), strftimeToJava(litStr(args(0)))), S)
    case "ts_unix" => BV(unix_timestamp(asTimestamp(recv)), I)
    case "ts_unix_milli" => BV((unix_micros(asTimestamp(recv)) / 1000L), I)
    case "ts_unix_micro" => BV(unix_micros(asTimestamp(recv)), I)
    case "ts_unix_nano" => BV(unix_micros(asTimestamp(recv)) * 1000L, I)
    case "ts_round" =>
      // round to given duration (seconds granularity)
      val secs = asLong(v(args(0)))
      val ts = unix_timestamp(asTimestamp(recv))
      BV(timestamp_seconds(round(ts.cast("double") / secs, 0).cast("long") * secs), TS)
    case "ts_sub" =>
      BV(unix_micros(asTimestamp(recv)) - unix_micros(asTimestamp(v(args(0)))), I)

    // ── object & array (methods.adoc:2257-3318) ───────────────────────
    case "map_each" =>
      // elements coerce to variant so dynamic/JSON lambda results nest
      // correctly in the output array; a lambda with a deleted() path
      // (omitNull) DROPS those elements, like the reference's map_each.
      // A VARIANT receiver dispatches at runtime: objects map their
      // VALUES (lambda sees a {key,value} entry, keys survive), arrays
      // map elements (reference methods.adoc map_each object form).
      var deletes = false
      val f = lam(args(0))
      def mapArr(arrCol: Column, et: BT): Column = {
        val m = transform(arrCol, x => {
          val r = f(BV(x, et))
          deletes = deletes || r.omitNull || r.t == Del
          asVariant(r)
        })
        if (deletes) filter(m, x => x.isNotNull) else m
      }
      recv.t match {
        case V =>
          val overObj = {
            val mv = transform_values(recv.col.cast("map<string,variant>"),
              (k, x) => {
                val entry = parse_json(to_json(struct(k.as("key"),
                  x.as("value"))))
                val r = f(BV(entry, V))
                deletes = deletes || r.omitNull || r.t == Del
                asVariant(r)
              })
            val kept = if (deletes) map_filter(mv, (_, x) => x.isNotNull) else mv
            parse_json(to_json(kept))
          }
          val overArr = parse_json(to_json(
            mapArr(recv.col.cast("array<variant>"), V)))
          BV(when(schema_of_variant(recv.col).startsWith("ARRAY"), overArr)
            .otherwise(overObj), V)
        case _ =>
          val arr = asArray(recv)
          BV(mapArr(arr.col, elemT(arr)), A(V))
      }
    case "filter" =>
      val f = lam(args(0))
      val arr = asArray(recv)
      BV(filter(arr.col, x => asBool(f(BV(x, elemT(arr))))), arr.t)
    case "all" =>
      val f = lam(args(0))
      val arr = asArray(recv)
      BV(forall(arr.col, x => asBool(f(BV(x, elemT(arr))))), B)
    case "any" =>
      val f = lam(args(0))
      val arr = asArray(recv)
      BV(exists(arr.col, x => asBool(f(BV(x, elemT(arr))))), B)
    case "sum" =>
      val arr = asArray(recv)
      BV(aggregate(arr.col, lit(0.0),
        (acc, x) => acc + asDouble(BV(x, elemT(arr)))), F)
    case "fold" =>
      // fold(init, lambda) where the lambda context exposes `tally` and
      // `value` — compiled by Compiler into a two-arg closure packed as
      // MLam over a struct; see Compiler.foldCall
      throw new IllegalArgumentException(
        "fold is compiled inline by the Compiler")
    case "unique" =>
      val arr = asArray(recv)
      elemT(arr) match {
        case V =>
          // variant has no ordering/equality — distinct over string view
          BV(array_distinct(transform(arr.col, x => x.cast("string"))), A(S))
        case _ => BV(array_distinct(arr.col), arr.t)
      }
    case "sort" =>
      val arr = asArray(recv)
      val typed = elemT(arr) match {
        case V => BV(transform(arr.col, x => x.cast("string")), A(S))
        case _ => arr
      }
      BV(array_sort(typed.col), typed.t)
    case "join" =>
      val sep = if (args.nonEmpty) litStr(args(0)) else ""
      val arr = asArray(recv)
      val strs = elemT(arr) match {
        case S => arr.col
        case _ => transform(arr.col, x => x.cast("string"))
      }
      BV(array_join(strs, sep), S)
    case "flatten" =>
      val arr = asArray(recv)
      elemT(arr) match {
        case A(e) => BV(flatten(arr.col), A(e))
        case _ =>
          // variant elements: each is itself an array at runtime —
          // surface that for Catalyst's flatten (array<array<variant>>)
          BV(flatten(transform(arr.col, x => x.cast("array<variant>"))), A(V))
      }
    case "index" =>
      val arr = asArray(recv)
      val i = asLong(v(args(0)))
      val n = size(arr.col).cast("long")
      BV(element_at(arr.col, (when(i < 0, n + i).otherwise(i) + 1).cast("int")),
        elemT(arr))
    case "append" =>
      BV(concat(asArray(recv).col, array(args.map(a => asVariant(v(a))): _*)),
        asArray(recv).t)
    case "concat" =>
      BV(concat((recv +: args.map(v)).map(x => asArray(x).col): _*), asArray(recv).t)
    case "enumerated" =>
      // entries go through variant (not struct): downstream paths
      // (`index == 0`, `value.trim()`) resolve dynamically like every
      // other blobl object
      val arr = asArray(recv)
      BV(zip_with(sequence(lit(0), size(arr.col) - 1), arr.col,
        (i, x) => parse_json(to_json(struct(i.as("index"),
          asVariant(BV(x, elemT(arr))).as("value"))))), A(V))
    case "keys" => BV(json_object_keys(toJsonText(recv)), A(S))
    case "values" =>
      // string-valued view (full dynamic values need variant maps)
      BV(map_values(from_json(toJsonText(recv),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType))), A(S))
    case "get" =>
      args(0) match {
        case MVal(_, Some(path)) =>
          BV(variant_get(asVariant(recv), s"$$.${path}", "variant"), V)
        case _ =>
          // DYNAMIC key (config/rag/eval.yaml `this.get($results.index(i))`)
          // — variant_get needs a constant path, so read through a
          // variant-valued map view; top-level keys only
          BV(element_at(from_json(toJsonText(recv),
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.VariantType)),
            asString(v(args(0)))), V)
      }
    case "get_field" =>
      // parser-synthesized: `.name` field access chained onto a method
      // RESULT (e.g. this.ip.geoip_city(db).city) — path form of get
      BV(try_variant_get(asVariant(recv), s"$$.${litStr(args(0))}", "variant"), V)
    case "exists" =>
      val path = litStr(args(0))
      BV(variant_get(asVariant(recv), s"$$.${path}", "variant").isNotNull, B)
    case "merge" =>
      BV(call_function("graft_json_merge", toJsonText(recv),
        toJsonText(v(args(0)))), J)
    case "assign" =>
      // merge with override (source wins on conflict, arrays concat) —
      // methods.adoc assign
      BV(call_function("graft_json_assign", toJsonText(recv),
        toJsonText(v(args(0)))), J)
    case "diff" =>
      // changelog of create/update/delete ops vs the other value —
      // methods.adoc diff (r3-style {From,Path,To,Type} entries)
      BV(parse_json(call_function("graft_json_diff", toJsonText(recv),
        toJsonText(v(args(0))))), A(V))
    case "infer_schema" =>
      BV(parse_json(call_function("graft_json_infer_schema",
        toJsonText(recv))), V)
    case "vector" =>
      // pgvector literal "[v1,v2,…]" — the JSON text of a numeric
      // array IS the pgvector format (methods.adoc vector)
      BV(call_function("graft_json_normalize", toJsonText(recv)), S)
    case "bloblang" =>
      // dynamic mapping with a literal source (methods.adoc bloblang):
      // compiled ONCE at plan build like every other mapping — a
      // non-literal mapping argument would need per-row compilation,
      // which the distributed engine rejects by design
      val m = Parser.parse(litStr(args(0)))
      val env = Compiler.Env(
        Compiler.Json(asVariant(recv), toJsonText(recv)),
        Map.empty, None, Map.empty)
      val res = Compiler.runStatements(m.stmts, lit("{}"), env)
      BV(parse_json(when(!res.deleted && res.assigned,
        call_function("graft_json_normalize", res.rootJson))), V)
    case "without" =>
      BV(call_function("graft_json_without", toJsonText(recv),
        lit(args.map(litStr).mkString(","))), J)
    case "collapse" =>
      BV(parse_json(call_function("graft_json_collapse", toJsonText(recv))), V)
    case "squash" =>
      BV(parse_json(call_function("graft_json_squash", toJsonText(recv))), V)
    case "explode" =>
      BV(parse_json(call_function("graft_json_explode", toJsonText(recv),
        lit(litStr(args(0))))), V)

    // ── parsing & formatting (methods.adoc:3319-3736) ─────────────────
    case "parse_json" => BV(parse_json(asString(recv)), V)
    case "format_json" => BV(toJsonText(recv), S)
    case "parse_timestamp" =>
      BV(to_timestamp(asString(recv), goLayoutToJava(litStr(args(0)))), TS)
    case "parse_csv" => BV(split(asString(recv), ","), A(S))
    case "parse_url" =>
      BV(parse_json(to_json(struct(
        parse_url(asString(recv), lit("HOST")).as("host"),
        parse_url(asString(recv), lit("PATH")).as("path"),
        parse_url(asString(recv), lit("QUERY")).as("query"),
        parse_url(asString(recv), lit("PROTOCOL")).as("scheme")))), V)

    // ── encoding & crypto (methods.adoc:3737-3953) ────────────────────
    case "encode" => litStr(args(0)) match {
      case "base64" => BV(base64(asBinary(recv)), S)
      // lowercase to match the reference (Go hex.EncodeToString);
      // Spark's hex() is uppercase
      case "hex" => BV(lower(hex(asBinary(recv))), S)
      case other => throw new IllegalArgumentException(s"encode($other) unsupported")
    }
    case "decode" => litStr(args(0)) match {
      case "base64" => BV(unbase64(asString(recv)), Bin)
      case "hex" => BV(unhex(asString(recv)), Bin)
      case other => throw new IllegalArgumentException(s"decode($other) unsupported")
    }
    // hash returns RAW BYTES like the reference (chain .encode("hex")/
    // .encode("base64") for text); Spark's digest builtins emit hex, so
    // unhex recovers the bytes. xxhash64/crc32 return their integer as a
    // string (the reference's numeric-hash behavior).
    case "hash" => litStr(args(0)) match {
      case "md5" => BV(unhex(md5(asBinary(recv))), Bin)
      case "sha1" => BV(unhex(sha1(asBinary(recv))), Bin)
      case "sha256" => BV(unhex(sha2(asBinary(recv), 256)), Bin)
      case "sha512" => BV(unhex(sha2(asBinary(recv), 512)), Bin)
      case "xxhash64" => BV(xxhash64(asString(recv)).cast("string"), S)
      case "crc32" => BV(crc32(asBinary(recv)).cast("string"), S)
      case other => throw new IllegalArgumentException(s"hash($other) unsupported")
    }

    // ── strings, tranche 2 ────────────────────────────────────────────
    case "replace" => // alias of replace_all (methods.adoc strings)
      BV(regexp_replace(asString(recv),
        java.util.regex.Pattern.quote(litStr(args(0))),
        java.util.regex.Matcher.quoteReplacement(litStr(args(1)))), S)
    case "strip_html" =>
      BV(trim(regexp_replace(asString(recv), "<[^>]*>", "")), S)
    // Go html.EscapeString escapes exactly these five entities
    case "escape_html" =>
      BV(Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;",
        "'" -> "&#39;", "\"" -> "&#34;").foldLeft(asString(recv)) {
        case (c, (from, to)) => regexp_replace(c,
          java.util.regex.Pattern.quote(from), to)
      }, S)
    case "unescape_html" =>
      BV(Seq("&lt;" -> "<", "&gt;" -> ">", "&#39;" -> "'", "&#34;" -> "\"",
        "&quot;" -> "\"", "&amp;" -> "&").foldLeft(asString(recv)) {
        case (c, (from, to)) => regexp_replace(c, from,
          java.util.regex.Matcher.quoteReplacement(to))
      }, S)
    case "escape_url_path" => // %20 for space, not '+' (Go url.PathEscape)
      BV(regexp_replace(url_encode(asString(recv)), "\\+", "%20"), S)
    case "unescape_url_path" =>
      BV(url_decode(regexp_replace(asString(recv), "\\+", "%2B")), S)
    case "unquote" => BV(try_parse_json(asString(recv)).cast("string"), S)
    case "filepath_join" => BV(array_join(asArray(recv).col, "/"), S)
    case "filepath_split" => BV(split(asString(recv), "/"), A(S))

    // ── numbers, tranche 2 ────────────────────────────────────────────
    case "bitwise_and" => BV(asLong(recv).bitwiseAND(asLong(v(args(0)))), I)
    case "bitwise_or" => BV(asLong(recv).bitwiseOR(asLong(v(args(0)))), I)
    case "bitwise_xor" => BV(asLong(recv).bitwiseXOR(asLong(v(args(0)))), I)
    case "cos" => BV(cos(asDouble(recv)), F)
    case "sin" => BV(sin(asDouble(recv)), F)
    case "tan" => BV(tan(asDouble(recv)), F)

    // ── timestamps, tranche 2 (aliases + tz + ISO-8601 durations) ─────
    case "format_timestamp" => apply(recv, "ts_format", args)
    case "format_timestamp_strftime" => apply(recv, "ts_strftime", args)
    case "format_timestamp_unix" => apply(recv, "ts_unix", args)
    case "format_timestamp_unix_milli" => apply(recv, "ts_unix_milli", args)
    case "format_timestamp_unix_micro" => apply(recv, "ts_unix_micro", args)
    case "format_timestamp_unix_nano" => apply(recv, "ts_unix_nano", args)
    case "parse_timestamp_strptime" => apply(recv, "ts_strptime", args)
    case "ts_tz" =>
      BV(convert_timezone(lit(litStr(args(0))), asTimestamp(recv)), TS)
    case "ts_add_iso8601" | "ts_sub_iso8601" =>
      val dur = java.time.Duration.parse(litStr(args(0)))
      val micros = dur.toNanos / 1000
      val signed = if (name == "ts_sub_iso8601") -micros else micros
      BV(timestamp_micros(unix_micros(asTimestamp(recv)) + lit(signed)), TS)

    // ── object & array, tranche 2 ─────────────────────────────────────
    case "key_values" =>
      // array<variant> elements (per-element parse) so downstream array
      // methods see a real ARRAY column, not one opaque variant
      val m = try_variant_get(asVariant(recv), "$", "map<string,variant>")
      BV(transform(map_entries(m), e =>
        parse_json(to_json(struct(e.getField("key").as("key"),
          e.getField("value").as("value"))))), A(V))
    case "with" =>
      val m = try_variant_get(asVariant(recv), "$", "map<string,variant>")
      BV(parse_json(to_json(map_filter(m, (k, _) =>
        k.isin(args.map(litStr): _*)))), V)
    case "map_each_key" =>
      val f = lam(args(0))
      val m = try_variant_get(asVariant(recv), "$", "map<string,variant>")
      BV(parse_json(to_json(transform_keys(m, (k, _) =>
        asString(f(BV(k, S)))))), V)
    case "zip" =>
      val a = asArray(recv)
      val b = asArray(v(args(0)))
      BV(zip_with(a.col, b.col, (x, y) =>
        array(asVariant(BV(x, elemT(a))), asVariant(BV(y, elemT(b))))), A(A(V)))
    case "sort_by" =>
      val f = lam(args(0))
      val arr = asArray(recv)
      val et = elemT(arr)
      def key(c: Column): Column = asString(f(BV(c, et)))
      BV(array_sort(arr.col, (l, r) =>
        when(key(l) < key(r), -1).when(key(l) > key(r), 1).otherwise(0)), arr.t)
    case "find" =>
      val arr = asArray(recv)
      val target = asType(v(args(0)), elemT(arr))
      BV(element_at(filter(arr.col, x => x === target), 1), elemT(arr))
    case "find_by" =>
      val arr = asArray(recv)
      val f = lam(args(0))
      BV(element_at(filter(arr.col, x =>
        coalesce(asBool(f(BV(x, elemT(arr)))), lit(false))), 1), elemT(arr))
    case "find_all" =>
      val arr = asArray(recv)
      val target = asType(v(args(0)), elemT(arr))
      BV(filter(arr.col, x => x === target), arr.t)
    case "find_all_by" =>
      val arr = asArray(recv)
      val f = lam(args(0))
      BV(filter(arr.col, x =>
        coalesce(asBool(f(BV(x, elemT(arr)))), lit(false))), arr.t)

    // ── crypto, tranche 2 ─────────────────────────────────────────────
    // reference encrypt_aes/decrypt_aes (methods.adoc encryption
    // section) → Spark's native aes_encrypt/aes_decrypt; algorithm
    // names map ctr → CTR (the reference default), cbc → CBC, gcm → GCM
    case "encrypt_aes" =>
      val mode = litStr(args(0)) match {
        case "ctr" => "CTR"
        case "cbc" => "CBC"
        case "gcm" => "GCM"
        case other => throw new IllegalArgumentException(s"encrypt_aes($other)")
      }
      BV(aes_encrypt(asBinary(recv), asBinary(v(args(1))), lit(mode)), Bin)
    case "decrypt_aes" =>
      val mode = litStr(args(0)) match {
        case "ctr" => "CTR"
        case "cbc" => "CBC"
        case "gcm" => "GCM"
        case other => throw new IllegalArgumentException(s"decrypt_aes($other)")
      }
      BV(aes_decrypt(asBinary(recv), asBinary(v(args(1))), lit(mode)), Bin)
    case "uuid_v5" =>
      // RFC 4122 name-based (SHA-1) uuid: hash(namespace-bytes ++ name),
      // version/variant nibbles patched in the hex composition
      val h = sha1(concat(asBinary(v(args(0))), asBinary(recv)))
      BV(concat(
        substring(h, 1, 8), lit("-"), substring(h, 9, 4),
        lit("-5"), substring(h, 14, 3),
        lit("-"), lit("a"), substring(h, 18, 3),
        lit("-"), substring(h, 21, 12)), S)

    // geoip_* family (methods.adoc:4492-4557): look the receiver IP up
    // in a real .mmdb file (MmdbReader, public MaxMind DB spec 2.0) and
    // return the record object — the record's shape IS the database's
    // (city/country/asn/...), exactly like the reference, so one kernel
    // serves the whole family. Missing IPs yield null (catchable).
    case "geoip_city" | "geoip_country" | "geoip_asn" | "geoip_isp" |
         "geoip_enterprise" | "geoip_anonymous_ip" |
         "geoip_connection_type" | "geoip_domain" =>
      BV(parse_json(call_function("graft_geoip_lookup", asString(recv),
        lit(litStr(args(0))))), V)

    // credentials comparisons (methods.adoc) — self-contained kernels:
    // bcrypt (BcryptOps) and argon2i/argon2id (Argon2Ops, RFC 9106)
    case "compare_bcrypt" =>
      BV(call_function("graft_compare_bcrypt", asString(recv),
        asString(v(args(0)))), B)
    case "compare_argon2" =>
      BV(call_function("graft_compare_argon2", asString(recv),
        asString(v(args(0)))), B)

    // ── parsing & codecs, tranche 2 ───────────────────────────────────
    case "parse_yaml" =>
      BV(parse_json(call_function("graft_parse_yaml", asString(recv))), V)
    case "format_yaml" =>
      BV(call_function("graft_format_yaml", toJsonText(recv)), S)
    case "parse_xml" =>
      BV(parse_json(call_function("graft_parse_xml", asString(recv))), V)
    case "parse_duration" =>
      BV(call_function("graft_parse_duration", asString(recv)), I)
    case "parse_duration_iso8601" =>
      BV(call_function("graft_parse_duration_iso", asString(recv)), I)
    case "format_xml" =>
      BV(call_function("graft_format_xml", toJsonText(recv)), S)
    case "re_find_object" =>
      BV(parse_json(call_function("graft_re_find_object", asString(recv),
        lit(litStr(args(0))), lit("false"))), V)
    case "re_find_all_object" =>
      BV(parse_json(call_function("graft_re_find_object", asString(recv),
        lit(litStr(args(0))), lit("true"))), A(V))
    case "re_replace" => apply(recv, "re_replace_all", args)
    // HS = shared secret; RS/ES = PEM key material (PKCS#8 private to
    // sign, X.509/SPKI public to verify) — methods.adoc JWT section
    case "sign_jwt_hs256" | "sign_jwt_hs384" | "sign_jwt_hs512" |
         "sign_jwt_rs256" | "sign_jwt_rs384" | "sign_jwt_rs512" |
         "sign_jwt_es256" | "sign_jwt_es384" | "sign_jwt_es512" =>
      BV(call_function("graft_sign_jwt", toJsonText(recv),
        lit(litStr(args(0))),
        lit(name.stripPrefix("sign_jwt_").toUpperCase)), S)
    case "parse_jwt_hs256" | "parse_jwt_hs384" | "parse_jwt_hs512" |
         "parse_jwt_rs256" | "parse_jwt_rs384" | "parse_jwt_rs512" |
         "parse_jwt_es256" | "parse_jwt_es384" | "parse_jwt_es512" =>
      BV(parse_json(call_function("graft_parse_jwt", asString(recv),
        lit(litStr(args(0))),
        lit(name.stripPrefix("parse_jwt_").toUpperCase))), V)
    case "replace_many" | "replace_all_many" =>
      // flat [from1, to1, from2, to2, …] literal list like the reference
      val pairs = args.map(litStr).grouped(2).toSeq
      require(pairs.forall(_.size == 2), "replace_many needs from/to pairs")
      BV(pairs.foldLeft(asString(recv)) { case (c, Seq(from, to)) =>
        replace(c, lit(from), lit(to))
      }, S)
    case "parse_msgpack" =>
      BV(parse_json(call_function("graft_msgpack_decode", asBinary(recv))), V)
    case "parse_parquet" =>
      // whole parquet FILE as a value (methods.adoc parse_parquet) —
      // rows come back as an array of documents
      BV(parse_json(call_function("graft_parquet_decode", asBinary(recv))), A(V))
    case "format_parquet" =>
      BV(call_function("graft_parquet_encode", toJsonText(recv),
        lit(litStr(args(0)))), Bin)
    case "format_msgpack" =>
      BV(call_function("graft_msgpack_encode", toJsonText(recv)), Bin)
    case "parse_logfmt" =>
      BV(parse_json(to_json(str_to_map(asString(recv), lit(" "), lit("=")))), V)
    case "parse_form_url_encoded" =>
      BV(parse_json(to_json(transform_values(
        str_to_map(asString(recv), lit("&"), lit("=")), (_, v0) => url_decode(v0)))), V)
    case "json_path" =>
      BV(variant_get(asVariant(recv), "$." + litStr(args(0)), "variant"), V)
    case "json_schema" =>
      // valid → document unchanged; invalid → null (recoverable via
      // catch, the reference's error-channel contract)
      val violation = call_function("graft_json_schema_check",
        toJsonText(recv), lit(litStr(args(0))))
      BV(when(violation.isNull, asVariant(recv)), V)
    case "patch" =>
      // apply a diff-format changelog (methods.adoc patch pairs with
      // diff's {From,Path,To,Type} entries)
      BV(parse_json(call_function("graft_json_patch",
        toJsonText(recv), toJsonText(v(args(0))))), V)
    case "compress" =>
      BV(call_function("graft_compress", asBinary(recv), lit(litStr(args(0)))), Bin)
    case "decompress" =>
      BV(call_function("graft_decompress", asBinary(recv), lit(litStr(args(0)))), Bin)

    case other =>
      throw new IllegalArgumentException(s"unknown blobl method: $other")
  }

  // ── helpers ───────────────────────────────────────────────────────────
  private def expr_substr(s: Column, from: Column): Column =
    s.substr(from.cast("int"), length(s))

  private def asBinary(v0: BV): Column = v0.t match {
    case Bin => v0.col
    case _ => asString(v0).cast("binary")
  }

  private def assert_true_or(v0: BV): Column = v0.col

  def coalesce2(a: BV, b: BV): BV = {
    val t = unify(a.t, b.t)
    BV(coalesce(asType(a, t), asType(b, t)), t)
  }

  def elemT(arr: BV): BT = arr.t match {
    case A(e) => e
    case _ => V
  }

}
