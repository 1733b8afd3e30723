package graft.blobl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.expressions.GraftFunctions

import Ast._
import Values._
import Values.BT._
import Methods.{MArg, MLam, MVal}

/** Compiles a parsed Bloblang mapping to Catalyst Column trees.
  *
  * Two bindings for `this`:
  *   - [[Compiler.Json]]: the document is a JSON payload in a string
  *     column — `this` is `parse_json(value)` (VariantType), paths are
  *     `variant_get`. The reference's native mode (every message is a
  *     lazily-parsed JSON tree, bloblang/about.adoc:62-68).
  *   - [[Compiler.Typed]]: `this.<field>` binds to a typed top-level
  *     column — the fast path when the source schema is known (SURVEY.md
  *     §1.3 "typed fast-path").
  *
  * Error semantics: the reference flags per-message errors and `catch`/
  * `|` recover (about.adoc:365-403). Catalyst expressions return null
  * instead of erroring; `catch`/`|` compile to coalesce — absence and
  * error collapse into null. Observable divergence is limited to
  * mappings that distinguish `null` values from errors.
  */
object Compiler {

  sealed trait Binding {
    /** Resolve `this.<segs>` to a value. */
    def resolveThis(segs: Seq[String]): BV
  }

  /** `this` = try_parse_json(<valueCol>) (projected once by [[Blobl]]);
    * `rawCol` is the message's verbatim content string — `content()`
    * reads it, and a mapping that never assigns root passes it through
    * untouched (even non-JSON content, per config/test/filters.yaml).
    */

  /** Variant path for a field chain: plain identifiers use dot form,
    * anything else (keys with dots/spaces — `this."service.name"`)
    * uses the bracket-quoted form variant_get also accepts.
    */
  private[blobl] def vpath(segs: Seq[String]): String =
    "$" + segs.map { seg =>
      if (seg.matches("[0-9]+")) "[" + seg + "]" // array index (this.0)
      else if (seg.matches("[A-Za-z_][A-Za-z0-9_]*")) "." + seg
      else "['" + seg.replace("'", "\\'") + "']"
    }.mkString

  case class Json(thisCol: Column, rawCol: Column) extends Binding {
    def resolveThis(segs: Seq[String]): BV =
      if (segs.isEmpty) BV(thisCol, V)
      else BV(variant_get(thisCol, vpath(segs), "variant"), V)
  }

  /** `this.<field>` = typed column; deeper segs use struct access. */
  case class Typed(df: DataFrame) extends Binding {
    private val types: Map[String, BT] =
      df.schema.fields.map { f =>
        f.name -> (f.dataType.typeName match {
          case "string" => S
          case "long" | "integer" | "short" | "byte" => I
          case "double" | "float" => F
          case "boolean" => B
          case "timestamp" => TS
          case "binary" => Bin
          case t if t.startsWith("array") => A(V)
          case _ => V
        })
      }.toMap

    def resolveThis(segs: Seq[String]): BV = segs match {
      case Seq() =>
        throw new IllegalArgumentException(
          "`this` without a field path is not supported in typed mode")
      case head +: rest =>
        val base = BV(col(head), types.getOrElse(head,
          throw new IllegalArgumentException(s"unknown column: $head")))
        rest.foldLeft(base)((b, seg) =>
          BV(variant_get(asVariant(b), vpath(Seq(seg)), "variant"), V))
    }
  }

  case class Env(binding: Binding,
                 vars: Map[String, BV],          // lambda params + lets
                 metaCol: Option[Column],
                 envVars: Map[String, String],
                 thisOverride: Option[BV] = None,
                 maps: Map[String, Seq[Stmt]] = Map.empty, // named maps
                 depth: Int = 0,                 // apply() inline depth
                 applying: Set[String] = Set.empty, // maps on the inline stack
                 batchCol: Option[Column] = None, // batch identity (__batch)
                 // JSON text of the root UNDER CONSTRUCTION — RHS `root`
                 // reads (result_map `root.x = root.x.append(this)`)
                 rootCol: Option[Column] = None) {
    def withVar(name: String, v: BV): Env = copy(vars = vars + (name -> v))
    /** Rebind `this` to a value — expression-form lambda bodies
      * (`items.map_each($d.merge(this))`) see the ELEMENT as `this`.
      */
    def withThis(v: BV): Env = copy(thisOverride = Some(v))
    def resolveThis(segs: Seq[String]): BV = thisOverride match {
      case Some(base) =>
        segs.foldLeft(base)((b, seg) =>
          BV(variant_get(asVariant(b), vpath(Seq(seg)), "variant"), V))
      case None => binding.resolveThis(segs)
    }
  }

  /** Compile one expression. */
  def compile(e: Expr, env: Env): BV = e match {
    case StrLit(s) => BV(lit(s), S)
    case IntLit(n) => BV(lit(n), I)
    case FloatLit(n) => BV(lit(n), F)
    case BoolLit(b) => BV(lit(b), B)
    case NullLit => BV(lit(null), N)

    case ArrLit(items) if items.isEmpty =>
      // array() alone infers ARRAY<VOID>, which can't cast to variant
      // (fold/append seeds like `fold([], …)`)
      BV(array().cast("array<variant>"), A(V))

    case ArrLit(items) =>
      val vs = items.map(compile(_, env))
      // deleted() and false if-without-else REMOVE the element
      // (reference: config/test/bloblang/literals.yaml:14-25); a plain
      // null literal stays
      val needFilter = vs.exists(v0 => v0.t == Del || v0.omitNull)
      val elems = array(vs.map { v0 =>
        if (v0.t == Del) lit(DeletedSentinel).cast("variant")
        else if (v0.omitNull)
          coalesce(asVariant(v0), lit(DeletedSentinel).cast("variant"))
        else asVariant(v0)
      }: _*)
      val cleaned =
        if (needFilter)
          filter(elems, x => !(x.cast("string") <=> lit(DeletedSentinel)))
        else elems
      BV(cleaned, A(V))

    case ObjLit(fields) =>
      // if-without-else and deleted() omit the key (literals.yaml:1-25):
      // nulls are dropped by to_json(ignoreNullFields=true)
      val fvs = fields.map { case (k, fe) =>
        val v0 = compile(fe, env)
        val c =
          if (v0.t == Del) lit(null).cast("string")
          else v0.t match {
            // nested documents embed as real trees — a J (JSON text)
            // child would otherwise re-encode as a quoted string
            // (config/test/structured_metadata.yaml nested objects)
            case J | V | A(_) => asVariant(v0)
            case _ => dropDeleted(v0)
          }
        c.as(k)
      }
      BV(to_json(struct(fvs: _*), Map("ignoreNullFields" -> "true")), J)

    case ObjLitDyn(fields) =>
      // computed keys can't be a static struct — assemble the JSON text
      // per pair (key serialized as a JSON string, value via its JSON
      // form) and drop null/deleted pairs at runtime, matching the
      // static literal's ignoreNullFields semantics
      val pairs = fields.map { case (k, fe) =>
        val keyText = k match {
          case Left(s) => toJsonText(BV(lit(s), S))
          case Right(e) => toJsonText(BV(asString(compile(e, env)), S))
        }
        val v0 = compile(fe, env)
        if (v0.t == Del) lit(null).cast("string")
        else {
          val valText = toJsonText(v0)
          val dropped = valText.isNull ||
            (valText.cast("string") <=> lit("\"" + DeletedSentinel + "\""))
          when(dropped, lit(null).cast("string"))
            .otherwise(concat(keyText, lit(":"), valText))
        }
      }
      BV(concat(lit("{"),
        array_join(filter(array(pairs: _*), x => x.isNotNull), ","),
        lit("}")), J)

    case ThisPath(segs) => env.resolveThis(segs)

    case BarePath(segs) =>
      env.vars.get(segs.head) match {
        case Some(base) =>
          segs.tail.foldLeft(base)((b, seg) =>
            BV(variant_get(asVariant(b), vpath(Seq(seg)), "variant"), V))
        case None if segs.head == "root" && env.rootCol.nonEmpty =>
          // RHS `root` reads the document UNDER CONSTRUCTION (bloblang
          // about.adoc: root paths are readable mid-mapping —
          // result_map `root.processed = root.processed.append(this)`)
          val doc = BV(try_parse_json(env.rootCol.get), V)
          if (segs.tail.isEmpty) doc
          else BV(try_variant_get(asVariant(doc), vpath(segs.tail),
            "variant"), V)
        case None => env.resolveThis(segs)
      }

    case VarRef(name) =>
      env.vars.getOrElse(name,
        throw new IllegalArgumentException(s"unknown variable: $$$name"))

    case MetaRef(key) =>
      val m = env.metaCol.getOrElse(
        throw new IllegalArgumentException("no metadata column bound"))
      key match {
        case Some(k) => BV(element_at(m, k), S)
        case None => BV(to_json(m), J)
      }

    case FnCall(name, args) => Functions(name, args, env)

    case MethodCall(recv, "apply", Seq(StrLit(mapName))) =>
      applyNamedMap(mapName, compile(recv, env), env)

    // ── from_all() batch folds (config/test/bloblang/windowed.yaml,
    // docs/…/buffers/system_window.adoc:113-127): evaluate the receiver
    // across ALL batch messages and reduce. Compiles to a window
    // aggregate over the batch (partitioned by `__batch` when the frame
    // carries one) — partial aggregation map-side, no driver loop.
    case MethodCall(MethodCall(inner, "from_all", _), "sum", _) =>
      val v = compile(inner, env)
      val w = batchFrame(env)
      // integral inputs keep an integral sum (blobl numbers are
      // int64-or-float64; 243+71 must render 314, not 314.0)
      val ls = sum(asLong(v)).over(w)
      val ds = sum(asDouble(v)).over(w)
      BV(when(ds === ls.cast("double"), ls.cast("variant"))
        .otherwise(ds.cast("variant")), V)
    case MethodCall(MethodCall(inner, "from_all", _), "unique", _) =>
      val v = compile(inner, env)
      BV(collect_set(asVariant(v)).over(batchFrame(env)), A(V))
    case MethodCall(MethodCall(inner, "from_all", _), "max", _) =>
      // integral inputs keep an integral extreme (same rendering rule
      // as sum); config/examples/stateful_polling.yaml's cursor write
      val v = compile(inner, env)
      val w = batchFrame(env)
      val lm = max(asLong(v)).over(w)
      val dm = max(asDouble(v)).over(w)
      BV(when(dm === lm.cast("double"), lm.cast("variant"))
        .otherwise(dm.cast("variant")), V)
    case MethodCall(MethodCall(inner, "from_all", _), "min", _) =>
      val v = compile(inner, env)
      val w = batchFrame(env)
      val lm = min(asLong(v)).over(w)
      val dm = min(asDouble(v)).over(w)
      BV(when(dm === lm.cast("double"), lm.cast("variant"))
        .otherwise(dm.cast("variant")), V)
    case MethodCall(MethodCall(inner, "from_all", _), "fold", args)
        if args.length == 2 =>
      val v = compile(inner, env)
      val all = collect_list(asVariant(v)).over(batchFrame(env))
      val init = compile(args(0), env)
      BV(aggregate(all, asVariant(init), (acc, x) => {
        val env2 = env.withVar("tally", BV(acc, V)).withVar("value", BV(x, V))
        asVariant(compile(args(1), env2))
      }), V)
    case MethodCall(MethodCall(inner, "from_all", _), name, _) =>
      throw new IllegalArgumentException(
        s"from_all().$name: supported reducers are sum/unique/fold/max/min")

    // `expr.from(n)` (functions.adoc from): evaluate the expression in
    // the context of batch message n — nth value over the batch window
    case MethodCall(inner, "from", Seq(IntLit(n))) =>
      val v = compile(inner, env)
      val w = batchPart(env)
        .orderBy(org.apache.spark.sql.functions.col("__seq"))
        .rowsBetween(Long.MinValue, Long.MaxValue)
      BV(nth_value(v.col, n.toInt + 1).over(w), v.t)

    case MethodCall(recv, "fold", args) if args.length == 2 =>
      // fold(init, expr) — expr sees `tally` (accumulator) and `value`
      // (element), reference: config/test/bloblang/windowed.yaml:4-8.
      // The lambda form `fold(init, i -> …)` binds i to the
      // {tally, value} OBJECT (config/rag/eval.yaml:80-89).
      val arr = asArray(compile(recv, env))
      val init = compile(args(0), env)
      BV(aggregate(arr.col, asVariant(init), (acc, x) => args(1) match {
        case Lambda(p, b) =>
          val pair = BV(parse_json(to_json(struct(acc.as("tally"),
            asVariant(BV(x, Methods.elemT(arr))).as("value")))), V)
          asVariant(compile(b, env.withVar(p, pair)))
        case b =>
          val env2 = env.withVar("tally", BV(acc, V))
            .withVar("value", BV(x, Methods.elemT(arr)))
          asVariant(compile(b, env2))
      }), V)

    case MethodCall(recv, "format", args) =>
      recv match {
        case StrLit(fmt) =>
          Methods(BV(lit(fmt), S), "format",
            MVal(BV(lit(fmt), S), Some(fmt)) +: args.map(a => MVal(compile(a, env))))
        case other =>
          // dynamic receiver (config/examples/discord_bot.yaml picks
          // the format string from an array at runtime): no
          // compile-time verb casts — %v renders as %s and every
          // argument coerces to its string form
          val fmtC = regexp_replace(asString(compile(other, env)),
            lit("%v"), lit("%s"))
          val cast = args.map(a => asString(compile(a, env)))
          BV(call_function("format_string", fmtC +: cast: _*), S)
      }

    case MethodCall(recv, name, args) =>
      val r = compile(recv, env)
      val lambdaTaking = Set("map_each", "filter", "all", "any", "find")
      val margs: Seq[MArg] = args.map {
        case Lambda(p, body) =>
          MLam(x => compile(body, env.withVar(p, x)))
        case body if lambdaTaking(name) =>
          // expression-form lambda: `this` = element
          MLam(x => compile(body, env.withThis(x)))
        case lit0 @ StrLit(s) => MVal(compile(lit0, env), Some(s))
        case a => MVal(compile(a, env))
      }
      Methods(r, name, margs)

    case Lambda(_, _) =>
      throw new IllegalArgumentException("lambda outside method argument")

    case UnOp("!", x) => BV(!asBool(compile(x, env)), B)
    case UnOp("-", x) =>
      val v0 = compile(x, env)
      if (v0.t == I) BV(-asLong(v0), I) else BV(-asDouble(v0), F)
    case UnOp(op, _) =>
      throw new IllegalArgumentException(s"unknown unary op $op")

    case BinOp(op, le, re) =>
      val l = compile(le, env)
      val r = compile(re, env)
      op match {
        case "+" =>
          if (l.t == S || r.t == S) BV(concat(asString(l), asString(r)), S)
          else if (isArr(l) && isArr(r)) BV(concat(asArray(l).col, asArray(r).col), A(V))
          else numeric(l, r, _ + _)
        case "-" => numeric(l, r, _ - _)
        case "*" => numeric(l, r, _ * _)
        case "/" => BV(asDouble(l) / asDouble(r), F)
        case "%" => BV(asLong(l) % asLong(r), I)
        case "==" => BV(cmpCol(l, r, _ === _), B)
        case "!=" => BV(cmpCol(l, r, _ =!= _), B)
        case "<" => BV(cmpCol(l, r, _ < _), B)
        case "<=" => BV(cmpCol(l, r, _ <= _), B)
        case ">" => BV(cmpCol(l, r, _ > _), B)
        case ">=" => BV(cmpCol(l, r, _ >= _), B)
        case "&&" => BV(asBool(l) && asBool(r), B)
        case "||" => BV(asBool(l) || asBool(r), B)
        case other => throw new IllegalArgumentException(s"unknown op $other")
      }

    case Pipe(le, re) => Methods.coalesce2(compile(le, env), compile(re, env))

    case IfExpr(cond, thn, els) =>
      val c = asBool(compile(cond, env))
      val t = compile(thn, env)
      val e2 = els.map(compile(_, env))
      (t.t, e2) match {
        case (Del, Some(e)) if e.t != Del =>
          // then-branch deletes: value only when cond false
          BV(when(!coalesce(c, lit(false)), asType(e, e.t)), e.t, omitNull = true)
        case (Del, _) => BV(lit(null), Del)
        case (_, Some(e)) if e.t == Del =>
          BV(when(coalesce(c, lit(false)), asType(t, t.t)), t.t, omitNull = true)
        case (_, Some(e)) =>
          val ut = unify(t.t, e.t)
          BV(when(c, asType(t, ut)).otherwise(asType(e, ut)), ut,
            t.omitNull || e.omitNull)
        case (_, None) =>
          // if-without-else: absent when false (key omission handled by
          // the surrounding object/array/assignment context)
          BV(when(c, asType(t, t.t)), t.t, omitNull = true)
      }

    case MatchExpr(target, cases) =>
      val env2 = target match {
        // a targeted match REBINDS `this` to the target inside arm
        // conditions and bodies (reference match docs: `match value {
        // this.length() == 0 => … }`)
        case Some(te) =>
          val tv = compile(te, env)
          env.withVar("__match", tv).withThis(tv)
        case None => env
      }
      val compiled = cases.map { case (condOpt, body) =>
        (condOpt.map(ce => asBool(compile(ce, env2))), compile(body, env2))
      }
      // deleted() arms follow the IfExpr convention: null + omitNull —
      // the surrounding object/array/map_each context drops the entry
      // (unifying the sentinel into e.g. array<variant> is a type error)
      val anyDel = compiled.exists { case (_, b) => b.t == Del || b.omitNull }
      val ut = compiled.map(_._2.t).filter(_ != Del)
        .reduceOption(unify).getOrElse(N)
      def cast(body: BV): Column =
        if (body.t == Del) asType(BV(lit(null), N), ut) else asType(body, ut)
      val init: Column = compiled.collectFirst {
        case (None, body) => cast(body)
      }.getOrElse(asType(BV(lit(null), N), ut))
      val out = compiled.filter(_._1.isDefined).foldRight(init) {
        case ((Some(c), body), acc) => when(c, cast(body)).otherwise(acc)
        case (_, acc) => acc
      }
      BV(out, ut, omitNull = anyDel)
  }

  /** Chains of DISTINCT nested maps inline up to this depth (cheap —
    * each map appears once per chain). */
  private val MaxMapDepth = 8

  /** Inline a named map (`map name { … }` applied via `.apply("name")`,
    * reference bloblang/about.adoc:332-353): compile the map body with
    * `this` = the receiver. Map bodies support `let` plus ONE whole-root
    * assignment.
    *
    * RECURSIVE maps (config/test/bloblang/walk_json.yaml's tree-walk
    * idiom) cannot inline — a static expression tree with multiple
    * recursive call sites grows exponentially per inlined level
    * (measured: minutes of analysis time at depth 4). They compile to
    * ONE interpreted kernel expression instead ([[MapInterp]]), the same
    * execution class the reference uses for every mapping; only
    * recursion pays interpreter cost.
    */
  private def applyNamedMap(name: String, v: BV, env: Env): BV = {
    val stmts = env.maps.getOrElse(name,
      throw new IllegalArgumentException(s"unknown map: $name"))
    if (isRecursive(name, env.maps)) {
      import org.apache.spark.sql.GraftColumnBridge
      return BV(parse_json(GraftColumnBridge.column(MapApplyInterp(
        GraftColumnBridge.expression(toJsonText(v)),
        name, env.maps, env.envVars))), V)
    }
    if (env.applying.contains(name) || env.depth >= MaxMapDepth) {
      // mutual recursion the static scan didn't classify, or a distinct
      // chain deeper than the inline cap: route to the interpreted
      // kernel rather than silently degrading to identity (wrong output
      // with no error signal)
      import org.apache.spark.sql.GraftColumnBridge
      BV(parse_json(GraftColumnBridge.column(MapApplyInterp(
        GraftColumnBridge.expression(toJsonText(v)),
        name, env.maps, env.envVars))), V)
    } else {
      var e2 = env.withThis(v).copy(depth = env.depth + 1,
        applying = env.applying + name)
      var result: Option[BV] = None       // last whole-root value
      var built: Option[Column] = None    // JSON text under construction
      var sawNested = false
      stmts.foreach {
        case LetAssign(n, ve) => e2 = e2.withVar(n, compile(ve, e2))
        case RootAssign(Seq(), ve) =>
          val v0 = compile(ve, e2)
          result = Some(v0)
          built = Some(serializeRoot(v0))
        case RootAssign(segs, ve)
            if segs.exists(s => s == "-" || s.forall(_.isDigit)) =>
          // array path segments — same kernel route as runStatements
          sawNested = true
          val v0 = compile(ve, e2)
          val pathJson = lit(segs.map(s =>
            "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
            .mkString("[", ",", "]"))
          val leaf = v0.t match {
            case Del => lit("\"" + DeletedSentinel + "\"")
            case N => lit("null")
            case _ => coalesce(toJsonText(v0), lit("null"))
          }
          built = Some(call_function("graft_json_set",
            built.getOrElse(lit("{}")), pathJson, leaf))
        case RootAssign(segs, ve) =>
          // nested path assignment builds the map's document
          // progressively (config/template_examples/
          // processor_hydration.yaml map bodies)
          sawNested = true
          val v0 = compile(ve, e2)
          built = Some(call_function("graft_json_merge",
            built.getOrElse(lit("{}")), nestedPatch(segs, v0)))
        case other => throw new IllegalArgumentException(
          s"map $name: map bodies support let + root assignments, got $other")
      }
      if (sawNested) BV(parse_json(built.get), V)
      else result.getOrElse(BV(asVariant(v), V))
    }
  }

  /** Batch-scoped window spec: partitioned by the envelope's `__batch`
    * when the frame carries one, else the whole input is one batch. */
  private[blobl] def batchPart(env: Env): org.apache.spark.sql.expressions.WindowSpec =
    env.batchCol match {
      case Some(b) => org.apache.spark.sql.expressions.Window.partitionBy(b)
      case None => org.apache.spark.sql.expressions.Window.partitionBy()
    }

  private[blobl] def batchFrame(env: Env): org.apache.spark.sql.expressions.WindowSpec =
    batchPart(env).rowsBetween(Long.MinValue, Long.MaxValue)

  /** Map names applied anywhere in a statement list (static scan). */
  private def appliesIn(stmts: Seq[Stmt]): Set[String] = {
    def inExpr(e: Expr): Set[String] = e match {
      case MethodCall(r, "apply", Seq(StrLit(n))) => inExpr(r) + n
      case MethodCall(r, _, as) => inExpr(r) ++ as.flatMap(inExpr)
      case FnCall(_, as) => as.flatMap(inExpr).toSet
      case BinOp(_, l, r) => inExpr(l) ++ inExpr(r)
      case UnOp(_, x) => inExpr(x)
      case Pipe(l, r) => inExpr(l) ++ inExpr(r)
      case IfExpr(c, t, e2) =>
        inExpr(c) ++ inExpr(t) ++ e2.toSeq.flatMap(inExpr)
      case MatchExpr(t, cs) => t.toSeq.flatMap(inExpr).toSet ++
        cs.flatMap { case (c, b) => c.toSeq.flatMap(inExpr) ++ inExpr(b) }
      case ArrLit(xs) => xs.flatMap(inExpr).toSet
      case ObjLit(fs) => fs.flatMap(f => inExpr(f._2)).toSet
      case ObjLitDyn(fs) => fs.flatMap(f =>
        f._1.toOption.toSeq.flatMap(inExpr) ++ inExpr(f._2)).toSet
      case Lambda(_, b) => inExpr(b)
      case _ => Set.empty
    }
    stmts.flatMap {
      case RootAssign(_, v) => inExpr(v)
      case LetAssign(_, v) => inExpr(v)
      case MetaAssign(_, v) => inExpr(v)
      case IfStmt(c, t, e2) => inExpr(c) ++ appliesIn(t) ++ appliesIn(e2)
      case MapDecl(_, ss) => appliesIn(ss)
    }.toSet
  }

  /** Can applying `name` reach itself again (directly or mutually)? */
  private def isRecursive(name: String, maps: Map[String, Seq[Stmt]]): Boolean = {
    var seen = Set.empty[String]
    var frontier = appliesIn(maps.getOrElse(name, Seq.empty))
    while (frontier.nonEmpty) {
      if (frontier.contains(name)) return true
      seen ++= frontier
      frontier = frontier.flatMap(n => appliesIn(maps.getOrElse(n, Seq.empty))) -- seen
    }
    false
  }

  private def isArr(v0: BV): Boolean = v0.t match {
    case A(_) => true
    case _ => false
  }

  private def numeric(l: BV, r: BV, f: (Column, Column) => Column): BV = {
    val t = numericResult(l, r)
    BV(f(numOperand(l, t), numOperand(r, t)), t)
  }

  /** Dynamic comparison: two VARIANTS compare numerically when both
    * carry numbers at runtime, else lexicographically — blobl is
    * uni-typed, so `tally < value` over JSON numbers must not fall back
    * to string order (config/test/bloblang/windowed.yaml's max fold).
    */
  private def cmpCol(l: BV, r: BV, f: (Column, Column) => Column): Column =
    (l.t, r.t) match {
      case (V, V) =>
        val ln = try_variant_get(l.col, "$", "double")
        val rn = try_variant_get(r.col, "$", "double")
        when(ln.isNotNull && rn.isNotNull, f(ln, rn))
          .otherwise(f(asString(l), asString(r)))
      case _ =>
        val (a, b) = cmpOperand(l, r)
        f(a, b)
    }

  /** Comparison operands: pick the more specific side's type. */
  private def cmpOperand(l: BV, r: BV): (Column, Column) = {
    val t = (l.t, r.t) match {
      case (V, o) if o != V => o
      case (o, V) if o != V => o
      case (a, b) => unify(a, b)
    }
    t match {
      case S => (asString(l), asString(r))
      case I => (asLong(l), asLong(r))
      case F => (asDouble(l), asDouble(r))
      case B => (asBool(l), asBool(r))
      case TS => (asTimestamp(l), asTimestamp(r))
      case _ => (asString(l), asString(r))
    }
  }

  private def dropDeleted(v0: BV): Column = v0.t match {
    case Del => lit(null).cast("string")
    case _ => v0.col
  }

  // ── statement execution (JSON mode) ──────────────────────────────────

  /** Result of running a mapping's statements over a JSON document.
    * `assigned` = whether ANY root assignment fired for the row; when
    * false the message passes through verbatim (reference: a mapping
    * that never assigns root is a pass-through, config/test/filters.yaml).
    */
  case class DocResult(rootJson: Column, deleted: Column,
                       meta: Option[Column], assigned: Column)

  /** Fold statements into (rootJson, deletedCond, meta). `rootInit` is
    * "{}" for `mapping` (fresh doc) or the normalized input for
    * `mutation`.
    */
  def runStatements(stmts: Seq[Stmt], rootInit: Column, env0: Env): DocResult = {
    var root = rootInit
    var deleted: Column = lit(false)
    var assigned: Column = lit(false)
    // named maps register before anything compiles (reference maps are
    // file-scoped and may be declared after their first use)
    var env = env0.copy(maps = env0.maps ++ stmts.collect {
      case MapDecl(n, ss) => n -> ss
    })
    var meta = env0.metaCol
    // the condition of top-level statements: their updates replace the
    // value outright rather than as `when(true, new).otherwise(old)`,
    // which would put a second copy of the old value in the plan per
    // statement (analysis works on the unshared tree, so N statements
    // would cost 2^N copies of the first root)
    val always = lit(true)
    def onlyIf(c: Column, updated: Column, old: Column): Column =
      if (c eq always) updated else when(c, updated).otherwise(old)

    def apply(ss: Seq[Stmt], cond: Column): Unit = {
      // statements see the root built SO FAR (RHS `root` reads) and the
      // metadata as updated by EARLIER statements (`meta = …` then
      // `@key` — config/rag/ingestion strips prefixes then reads)
      def envNow: Env = env.copy(rootCol = Some(root), metaCol = meta)
      ss.foreach {
      case MapDecl(_, _) => () // collected above

      case LetAssign(name, value) =>
        env = env.withVar(name, compile(value, envNow))

      // `root = if c { X } [else { Y }]` desugars to the statement form
      // so a false condition with no else SKIPS the assignment (the
      // message passes through, config/test/filters.yaml) instead of
      // assigning an un-attributable null.
      case RootAssign(Seq(), IfExpr(c, thn, els)) =>
        apply(Seq(IfStmt(c, Seq(RootAssign(Seq(), thn)),
          els.map(e => Seq(RootAssign(Seq(), e): Stmt)).getOrElse(Seq.empty))), cond)

      // `root = match { c => deleted(), … }` desugars the same way: an
      // unmatched row SKIPS the assignment rather than conflating
      // "no arm fired" with "a deleting arm fired" (both compile to
      // null in expression position — config/test/bloblang/windowed.yaml
      // drops every message but the first this way)
      case RootAssign(Seq(), MatchExpr(None, mcases)) =>
        def toIf(cs: Seq[(Option[Expr], Expr)]): Seq[Stmt] = cs match {
          case Seq() => Seq.empty
          case (Some(c), b) +: rest =>
            Seq(IfStmt(c, Seq(RootAssign(Seq(), b)), toIf(rest)))
          case (None, b) +: _ => Seq(RootAssign(Seq(), b))
        }
        apply(toIf(mcases), cond)

      case RootAssign(Seq(), value) =>
        compile(value, envNow) match {
          case BV(_, Del, _) =>
            deleted = deleted || cond
          case v0 if v0.omitNull =>
            // e.g. root = (expr with deleted() in a match arm) — null
            // means the deleting branch fired
            deleted = deleted || (cond && v0.col.isNull)
            root = onlyIf(cond && v0.col.isNotNull, serializeRoot(v0), root)
            assigned = assigned || (cond && v0.col.isNotNull)
          case v0 =>
            root = onlyIf(cond, serializeRoot(v0), root)
            assigned = assigned || cond
        }

      case RootAssign(segs, value)
          if segs.exists(s => s == "-" || s.forall(_.isDigit)) =>
        // ARRAY path segments (`root.fallback."-".retry = x` appends,
        // `root.fallback."0".x = y` indexes — bloblang path assignment,
        // config/template_examples/output_dead_letter.yaml): the
        // object-patch merge can't express these, so route through the
        // graft_json_set kernel
        val v0 = compile(value, envNow)
        val pathJson = lit(segs.map(s =>
          "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
          .mkString("[", ",", "]"))
        val leaf = v0.t match {
          case Del => lit("\"" + DeletedSentinel + "\"")
          case N => lit("null")
          case _ => coalesce(toJsonText(v0), lit("null"))
        }
        val assignCond = if (v0.omitNull) cond && v0.col.isNotNull else cond
        root = onlyIf(assignCond,
          call_function("graft_json_set", root, pathJson, leaf), root)
        assigned = assigned || assignCond

      case RootAssign(segs, value) =>
        // nested one-path patch {a:{b:<v>}} deep-merged into the doc;
        // nulls preserved so an assigned null survives into the merge —
        // except omit-null values (false if-without-else), which skip
        // the assignment entirely
        val v0 = compile(value, envNow)
        val patch = nestedPatch(segs, v0)
        val assignCond = if (v0.omitNull) cond && v0.col.isNotNull else cond
        root = onlyIf(assignCond,
          call_function("graft_json_merge", root, patch), root)
        assigned = assigned || assignCond

      case MetaAssign(key, value) =>
        // assignment REPLACES an existing key (map_concat alone trips
        // DUPLICATED_MAP_KEY when the key is already present —
        // config/examples/joining_streams.yaml reassigns output_topic)
        val m = meta.getOrElse(map().cast("map<string,string>"))
        val v0 = asString(compile(value, envNow))
        meta = Some(onlyIf(cond, map_concat(
          map_filter(m, (k, _) => k =!= lit(key)),
          map(lit(key), v0)), m))

      case MetaWholeAssign(value) =>
        // `meta = expr` replaces the whole map (the expr must produce
        // an object; values coerce to their string forms)
        val m = meta.getOrElse(map().cast("map<string,string>"))
        val v0 = compile(value, envNow)
        val newMap = from_json(toJsonText(v0),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))
        meta = Some(onlyIf(cond, coalesce(newMap, m), m))

      case IfStmt(c, thn, els) =>
        val cc = asBool(compile(c, envNow))
        apply(thn, cond && coalesce(cc, lit(false)))
        if (els.nonEmpty) apply(els, cond && !coalesce(cc, lit(false)))
      }
    }

    apply(stmts, always)
    DocResult(root, deleted, meta, assigned)
  }

  /** JSON text of a nested one-path patch: {a:{b:{c: value}}}. */
  private def nestedPatch(segs: Seq[String], v0: BV): Column = {
    val leaf: Column = v0.t match {
      case Del => lit(DeletedSentinel).cast("variant")
      case N => lit(null).cast("variant")
      case _ => asVariant(v0)
    }
    val nested = segs.tail.foldRight(leaf)((seg, acc) =>
      parse_json(to_json(struct(acc.as(seg)), Map("ignoreNullFields" -> "false"))))
    to_json(struct(nested.as(segs.head)), Map("ignoreNullFields" -> "false"))
  }

  private def serializeRoot(v0: BV): Column = toJsonText(v0)

  /** Register required runtime functions for a session. */
  def prepare(df: DataFrame): Unit = GraftFunctions.register(df.sparkSession)
}
