package graft.sources

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}

/** In-process pgvector-capable SQL engine behind `postgres://` DSNs —
  * the loopback stand-in for the external PostgreSQL+pgvector the
  * reference's RAG configs write to (config/rag/templates/
  * pgvector_output.yaml, pgvector_query.yaml; the `vector` type and
  * `<->`/`<=>`/`<#>` distance operators are pgvector's public SQL
  * surface). Same seam pattern as the mem:// brokers: a real postgres
  * needs a JDBC driver jar this environment lacks, so the DSN resolves
  * to this engine, which executes the STATEMENT SHAPES the sql_raw
  * configs emit and rejects anything else loudly.
  *
  * Supported statements (parsed structurally, not by fixed text):
  *  - CREATE EXTENSION [IF NOT EXISTS] vector
  *  - CREATE TABLE [IF NOT EXISTS] t (col type …, PRIMARY KEY(…))
  *    with types text / integer / bigint / real / double precision /
  *    boolean / vector(N)
  *  - DELETE FROM t WHERE (a, b) = ($1, $2)  |  WHERE a = $1 [AND …]
  *  - INSERT INTO t (cols) VALUES ($1, …)
  *  - INSERT INTO t (cols) SELECT $1, $2, (e->>'f')::INT, e->>'g',
  *    (e->>'h')::text::vector FROM jsonb_array_elements($3) AS e
  *    (one inserted row per element of the JSON-array argument)
  *  - SELECT … FROM t t1 ORDER BY vec <-> $1 LIMIT k — top-k by
  *    distance (`<->` L2, `<=>` cosine, `<#>` negative inner product),
  *    select list may contain a correlated
  *    (SELECT STRING_AGG(t2.doc, '' ORDER BY ord) … WHERE t1.k = t2.k …)
  *    reassembly subquery, exactly the retrieval template's shape
  *
  * Scale note: this plays the role of the EXTERNAL database (a
  * single-node service in the reference's own deployment). Lake-scale
  * similarity search stays on the Spark side
  * ([[graft.operators.Similarity]]); this seam exists for config
  * parity and end-to-end gates.
  */
object PgVector {

  private val F = JsonNodeFactory.instance
  private val mapper = new ObjectMapper()

  final case class Col(name: String, tpe: String, dim: Int = 0)

  final class Table(val cols: Seq[Col], val pk: Seq[String],
                    val serial: Set[String] = Set.empty) {
    // storage with null tombstones + LAZY equality indexes per column
    // tuple: the RAG indexing output issues one DELETE-by-key +
    // INSERT per document batch, and a linear scan per statement made
    // the store quadratic in corpus size (sf1: 50k docs = 467 s, the
    // r19 rung's first reading). All mutation runs under exec's
    // global lock, so index maintenance is single-threaded.
    private val store = new ArrayBuffer[Array[Any]]()
    private var dead = 0
    private val indexes = scala.collection.mutable.HashMap
      .empty[Seq[Int], scala.collection.mutable.HashMap[
        Seq[Any], scala.collection.mutable.LinkedHashSet[Int]]]
    val colIdx: Map[String, Int] = cols.map(_.name).zipWithIndex.toMap
    def pkOf(r: Array[Any]): Seq[Any] = pk.map(k => r(colIdx(k)))
    // serial columns auto-assign on insert when no value arrives
    private val seq = new java.util.concurrent.atomic.AtomicLong()
    def nextSerial(): Long = seq.incrementAndGet()

    /** Dense live rows; compacts tombstones first (indexes rebuild
      * lazily afterwards). The public read surface.
      */
    def rows: ArrayBuffer[Array[Any]] = { compact(); store }

    private def compact(): Unit = if (dead > 0) {
      store.filterInPlace(_ != null)
      dead = 0
      indexes.clear()
    }

    private def indexFor(colIdxs: Seq[Int])
        : scala.collection.mutable.HashMap[
            Seq[Any], scala.collection.mutable.LinkedHashSet[Int]] =
      indexes.getOrElseUpdate(colIdxs, {
        val m = scala.collection.mutable.HashMap.empty[
          Seq[Any], scala.collection.mutable.LinkedHashSet[Int]]
        var i = 0
        while (i < store.size) {
          val r = store(i)
          if (r != null)
            m.getOrElseUpdate(colIdxs.map(r(_)),
              scala.collection.mutable.LinkedHashSet.empty[Int]) += i
          i += 1
        }
        m
      })

    private[PgVector] def append(r: Array[Any]): Unit = {
      store += r
      val slot = store.size - 1
      indexes.foreach { case (ci, m) =>
        m.getOrElseUpdate(ci.map(r(_)),
          scala.collection.mutable.LinkedHashSet.empty[Int]) += slot
      }
    }

    /** Live slots whose `colIdxs` values equal `key` (indexed). */
    private[PgVector] def slotsEq(colIdxs: Seq[Int],
                                  key: Seq[Any]): Seq[Int] =
      indexFor(colIdxs).get(key).map(_.toSeq).getOrElse(Nil)

    private[PgVector] def updateAt(slot: Int, col: Int, v: Any): Unit = {
      val r = store(slot)
      // re-index only tuples involving the column
      indexes.foreach { case (ci, m) =>
        if (ci.contains(col)) { m.get(ci.map(r(_))).foreach(_ -= slot); () }
      }
      r(col) = v
      indexes.foreach { case (ci, m) =>
        if (ci.contains(col))
          m.getOrElseUpdate(ci.map(r(_)),
            scala.collection.mutable.LinkedHashSet.empty[Int]) += slot
      }
    }

    private[PgVector] def deleteAt(slot: Int): Unit = {
      val r = store(slot)
      if (r != null) {
        indexes.foreach { case (ci, m) =>
          m.get(ci.map(r(_))).foreach(_ -= slot); ()
        }
        store(slot) = null
        dead += 1
      }
    }
  }

  private val tables =
    scala.collection.concurrent.TrieMap.empty[(String, String), Table]

  /** Drop every table registered under the DSN (test/gate isolation). */
  def reset(dsn: String): Unit =
    tables.keys.filter(_._1 == norm(dsn)).foreach(tables.remove)

  def table(dsn: String, name: String): Option[Table] =
    tables.get((norm(dsn), name))

  private def norm(dsn: String): String = dsn.stripSuffix("/")

  /** Execute one statement; returns result rows (empty for DML/DDL). */
  def exec(dsn: String, sql: String, args: Seq[JsonNode]): Seq[ObjectNode] =
    synchronized {
      val s = sql.trim.stripSuffix(";").trim
      val flat = s.replaceAll("\\s+", " ")
      val up = flat.toUpperCase
      if (up.startsWith("CREATE EXTENSION")) {
        require(up.contains("VECTOR"),
          s"pgvector engine: only the vector extension exists, got: $flat")
        Nil
      }
      else if (up.startsWith("CREATE TABLE")) { createTable(dsn, flat); Nil }
      else if (up.startsWith("DELETE FROM")) { delete(dsn, flat, args); Nil }
      else if (up.startsWith("INSERT INTO")) { insert(dsn, flat, args); Nil }
      else if (up.startsWith("SELECT")) select(dsn, flat, args)
      else throw new IllegalArgumentException(
        s"pgvector engine: statement shape not supported: $flat")
    }

  // ── DDL ──────────────────────────────────────────────────────────────

  private val CreateRe =
    ("(?i)CREATE TABLE (?:IF NOT EXISTS )?([\\w.]+) \\((.*)\\)").r

  private def createTable(dsn: String, flat: String): Unit = flat match {
    case CreateRe(name, body) =>
      if (tables.contains((norm(dsn), name)) &&
          flat.toUpperCase.contains("IF NOT EXISTS")) return
      var pk = Seq.empty[String]
      var serial = Set.empty[String]
      val cols = ArrayBuffer.empty[Col]
      // split on top-level commas (vector(768) has inner parens)
      var depth = 0; val cur = new StringBuilder
      val parts = ArrayBuffer.empty[String]
      body.foreach {
        case '(' => depth += 1; cur.append('(')
        case ')' => depth -= 1; cur.append(')')
        case ',' if depth == 0 => parts += cur.toString; cur.clear()
        case c => cur.append(c)
      }
      if (cur.nonEmpty) parts += cur.toString
      parts.map(_.trim).filter(_.nonEmpty).foreach { p =>
        val pu = p.toUpperCase
        if (pu.startsWith("PRIMARY KEY")) {
          pk = p.substring(p.indexOf('(') + 1, p.lastIndexOf(')'))
            .split(",").map(_.trim).toSeq
        } else {
          val name = p.split("\\s+", 2)(0)
          val tpe = p.split("\\s+", 2)(1).trim.toLowerCase
          // inline column constraint: `key varchar(64) PRIMARY KEY`
          if (tpe.contains("primary key")) pk = pk :+ name
          if (tpe.split("\\s+")(0).startsWith("serial")) serial += name
          val vec = "vector\\((\\d+)\\)".r.findFirstMatchIn(tpe)
          cols += (vec match {
            case Some(m) => Col(name, "vector", m.group(1).toInt)
            case None => Col(name, tpe.split("\\s+")(0) match {
              case "int" | "integer" | "bigint" | "smallint" |
                   "serial" | "bigserial" => "integer"
              case "real" | "double" | "float" | "numeric" => "double"
              case "boolean" | "bool" => "boolean"
              case _ => "text"
            })
          })
        }
      }
      tables.update((norm(dsn), name), new Table(cols.toSeq, pk, serial))
    case _ => throw new IllegalArgumentException(
      s"pgvector engine: cannot parse CREATE TABLE: $flat")
  }

  // ── DML ──────────────────────────────────────────────────────────────

  private def tableOf(dsn: String, name: String): Table =
    tables.getOrElse((norm(dsn), name),
      throw new IllegalArgumentException(
        s"pgvector engine: relation '$name' does not exist"))

  /** `WHERE (a, b) = ($1, $2)` or `WHERE a = $1 [AND b = $2 …]` →
    * (columns, argument ordinals).
    */
  private def parseEq(where: String): Seq[(String, Int)] = {
    val w = where.trim
    val Tuple = "(?i)\\(([^)]*)\\) = \\(([^)]*)\\)".r
    Tuple.findFirstMatchIn(w) match {
      case Some(m) =>
        val cols = m.group(1).split(",").map(_.trim)
        val ords = m.group(2).split(",").map(_.trim.stripPrefix("$").toInt)
        cols.zip(ords).toSeq
      case None =>
        w.split("(?i) AND ").toSeq.map { c =>
          val Array(l, r) = c.split("=", 2).map(_.trim)
          (l, r.stripPrefix("$").toInt)
        }
    }
  }

  private val DeleteRe = "(?i)DELETE FROM ([\\w.]+) WHERE (.*)".r

  private def delete(dsn: String, flat: String, args: Seq[JsonNode]): Unit =
    flat match {
      case DeleteRe(name, where) =>
        val t = tableOf(dsn, name)
        val eqs = parseEq(where).map { case (c, ord) =>
          (t.colIdx(c), cell(t.cols(t.colIdx(c)), args(ord - 1)))
        }
        t.slotsEq(eqs.map(_._1), eqs.map(_._2)).foreach(t.deleteAt)
        ()
      case _ => throw new IllegalArgumentException(
        s"pgvector engine: cannot parse DELETE: $flat")
    }

  private val InsertValuesRe =
    "(?i)INSERT INTO ([\\w.]+) \\(([^)]*)\\) VALUES \\((.*)\\)".r
  // upsert: `… VALUES ($1,$2) ON CONFLICT(key) DO UPDATE SET
  // val=excluded.val[, …]` (postgres upsert syntax — the sql cache's
  // set_suffix in config/examples/stateful_polling.yaml) and the
  // DO NOTHING variant
  private val InsertConflictRe =
    ("(?i)INSERT INTO ([\\w.]+) \\(([^)]*)\\) VALUES \\((.*)\\) " +
      "ON CONFLICT ?\\(([^)]*)\\) DO (NOTHING|UPDATE SET .*)").r
  private val InsertSelectRe =
    ("(?i)INSERT INTO ([\\w.]+) \\(([^)]*)\\) SELECT (.*) FROM " +
      "JSONB_ARRAY_ELEMENTS\\(\\$(\\d+)\\) AS (\\w+)").r

  private def insert(dsn: String, flat: String, args: Seq[JsonNode]): Unit =
    flat match {
      case InsertConflictRe(name, colList, valList, conflictCols, action) =>
        val t = tableOf(dsn, name)
        val cols = colList.split(",").map(_.trim).toSeq
        val ords = valList.split(",").map(_.trim.stripPrefix("$").toInt)
        require(cols.length == ords.length, s"insert arity: $flat")
        val vals = cols.zip(ords.map(o => args(o - 1)).toSeq)
        val ck = conflictCols.split(",").map(_.trim).toSeq
        val ckIdx = ck.map(c => t.colIdx(c))
        val newByCol = vals.toMap
        val key = ck.map(c => cell(t.cols(t.colIdx(c)), newByCol(c)))
        t.slotsEq(ckIdx, key).headOption match {
          case None => insertRow(t, vals)
          case Some(i) if action.toUpperCase.startsWith("UPDATE SET") =>
            // items are `col = excluded.col` — take the new row's value
            action.substring("UPDATE SET".length).split(",")
              .map(_.trim).filter(_.nonEmpty).foreach { item =>
                val Array(l, r) = item.split("=", 2).map(_.trim)
                val src = r.stripPrefix("excluded.")
                t.updateAt(i, t.colIdx(l),
                  cell(t.cols(t.colIdx(l)), newByCol(src)))
              }
          case _ => () // DO NOTHING
        }
      case InsertValuesRe(name, colList, valList) =>
        val t = tableOf(dsn, name)
        val cols = colList.split(",").map(_.trim)
        val ords = valList.split(",").map(_.trim.stripPrefix("$").toInt)
        require(cols.length == ords.length, s"insert arity: $flat")
        insertRow(t, cols.toSeq.zip(ords.map(o => args(o - 1)).toSeq))
      case InsertSelectRe(name, colList, selList, arrOrd, alias) =>
        val t = tableOf(dsn, name)
        val cols = colList.split(",").map(_.trim).toSeq
        val exprs = splitTop(selList).map(_.trim)
        require(cols.length == exprs.length, s"insert arity: $flat")
        val arr = args(arrOrd.toInt - 1)
        val elems =
          if (arr.isArray) arr.elements().asScala.toSeq
          else mapper.readTree(arr.asText) match {
            case a: ArrayNode => a.elements().asScala.toSeq
            case other => throw new IllegalArgumentException(
              s"pgvector engine: jsonb_array_elements arg is not an array: $other")
          }
        // each select item is either a positional $n (constant per
        // statement) or an extraction from the element:
        //   (alias->>'f')::CAST…  |  alias->>'f'
        val extractRe =
          ("(?i)\\(?" + alias + "->>'([^']+)'\\)?(?:::\\w+)*").r
        elems.foreach { e =>
          val vals = exprs.map { x =>
            if (x.startsWith("$")) args(x.stripPrefix("$").toInt - 1)
            else extractRe.findFirstMatchIn(x) match {
              case Some(m) => Option(e.get(m.group(1)))
                .getOrElse(F.nullNode())
              case None => throw new IllegalArgumentException(
                s"pgvector engine: select item not supported: $x")
            }
          }
          insertRow(t, cols.zip(vals))
        }
      case _ => throw new IllegalArgumentException(
        s"pgvector engine: cannot parse INSERT: $flat")
    }

  private def insertRow(t: Table, vals: Seq[(String, JsonNode)]): Unit = {
    val row = new Array[Any](t.cols.length)
    vals.foreach { case (c, v) =>
      val i = t.colIdx.getOrElse(c, throw new IllegalArgumentException(
        s"pgvector engine: unknown column '$c'"))
      row(i) = cell(t.cols(i), v)
    }
    // serial columns self-assign when the insert omits them
    t.serial.foreach { c =>
      val i = t.colIdx(c)
      if (row(i) == null) row(i) = java.lang.Long.valueOf(t.nextSerial())
    }
    if (t.pk.nonEmpty) {
      val k = t.pkOf(row)
      require(t.slotsEq(t.pk.map(t.colIdx), k).isEmpty,
        s"pgvector engine: duplicate key ${t.pk.mkString(",")}=$k")
    }
    t.append(row)
    ()
  }

  /** JSON value → typed cell. Vectors accept a JSON array of numbers
    * or pgvector's text form "[0.1,0.2,…]".
    */
  private def cell(c: Col, v: JsonNode): Any = {
    if (v == null || v.isNull) return null
    c.tpe match {
      case "vector" =>
        val arr: Seq[Double] =
          if (v.isArray) v.elements().asScala.map(_.asDouble).toSeq
          else mapper.readTree(v.asText) match {
            case a: ArrayNode => a.elements().asScala.map(_.asDouble).toSeq
            case other => throw new IllegalArgumentException(
              s"pgvector engine: bad vector literal: $other")
          }
        require(c.dim == 0 || arr.length == c.dim,
          s"pgvector engine: vector dim ${arr.length} != ${c.dim}")
        arr.map(_.toFloat).toArray
      case "integer" =>
        if (v.isNumber) v.asLong
        else v.asText.trim.toLong
      case "double" =>
        if (v.isNumber) v.asDouble else v.asText.trim.toDouble
      case "boolean" =>
        if (v.isBoolean) v.asBoolean else v.asText.trim.toBoolean
      case _ => if (v.isTextual) v.asText else mapper.writeValueAsString(v)
    }
  }

  /** split on top-level commas (parens may nest). */
  private def splitTop(s: String): Seq[String] = {
    var depth = 0; val cur = new StringBuilder
    val out = ArrayBuffer.empty[String]
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case ch => cur.append(ch)
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }

  // ── query ────────────────────────────────────────────────────────────

  private val TopKRe =
    ("(?i)SELECT (.*) FROM ([\\w.]+)(?: (\\w+))? ORDER BY (\\w+) " +
      "(<->|<=>|<#>) \\$(\\d+)(?: ASC| DESC)? LIMIT (\\d+)").r
  private val AggRe =
    ("(?i)\\( ?SELECT STRING_AGG\\((\\w+)\\.(\\w+), '([^']*)' " +
      "ORDER BY (\\w+)(?: ASC| DESC)?\\) FROM ([\\w.]+) (\\w+) " +
      "WHERE (.*?) GROUP BY (\\w+) ?\\)(?: AS (\\w+))?").r

  private def select(dsn: String, flat: String,
                     args: Seq[JsonNode]): Seq[ObjectNode] = flat match {
    case TopKRe(selList, name, alias0, vecCol, op, ord, limit) =>
      val t = tableOf(dsn, name)
      val outerAlias = Option(alias0).getOrElse(name)
      val q = cell(Col("q", "vector"), args(ord.toInt - 1))
        .asInstanceOf[Array[Float]]
      val vi = t.colIdx.getOrElse(vecCol, throw new IllegalArgumentException(
        s"pgvector engine: unknown vector column '$vecCol'"))
      def dist(r: Array[Any]): Double = {
        val v = r(vi).asInstanceOf[Array[Float]]
        op match {
          case "<->" =>
            math.sqrt(v.indices.foldLeft(0.0)((a, i) =>
              a + (v(i) - q(i)) * (v(i) - q(i))))
          case "<=>" =>
            val dot = v.indices.foldLeft(0.0)((a, i) => a + v(i) * q(i))
            val nv = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
            val nq = math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))
            1.0 - dot / math.max(nv * nq, 1e-30)
          case _ =>
            -v.indices.foldLeft(0.0)((a, i) => a + v(i) * q(i))
        }
      }
      // stable secondary order on the row's pk keeps ties deterministic
      // (postgres makes no such promise; determinism helps the gates)
      val top = t.rows.sortBy(r => (dist(r), t.pkOf(r).mkString(" ")))
        .take(limit.toInt)
      top.map { r => render(t, outerAlias, splitTop(selList), r, dsn) }.toSeq
    case GeneralSelectRe(selList, name, alias0, whereOpt, orderOpt,
                         dirOpt, limitOpt) =>
      // the general scalar form: SELECT cols|* FROM t [WHERE col op $n
      // [AND ...]] [ORDER BY col [ASC|DESC]] [LIMIT n] -- the shape
      // sql_select builds (config/examples/stateful_polling.yaml)
      val t = tableOf(dsn, name)
      val outerAlias = Option(alias0).getOrElse(name)
      val kept0 = Option(whereOpt).map(_.trim) match {
        case Some(w) if w.nonEmpty =>
          val conds = w.split("(?i) AND ").toSeq.map { c =>
            val m = "(?i)([\\w.]+) *(=|!=|<>|>=|<=|>|<) *\\$(\\d+)".r
              .findFirstMatchIn(c.trim).getOrElse(
                throw new IllegalArgumentException(
                  s"pgvector engine: cannot parse WHERE condition: $c"))
            (m.group(1).stripPrefix(outerAlias + "."), m.group(2),
              m.group(3).toInt)
          }
          t.rows.filter { r =>
            conds.forall { case (cName, op, ord) =>
              val i = t.colIdx.getOrElse(cName,
                throw new IllegalArgumentException(
                  s"pgvector engine: unknown column '$cName'"))
              val want = cell(t.cols(i), args(ord - 1))
              val got = r(i)
              def cmpNum = (got, want) match {
                case (a: java.lang.Long, b: java.lang.Long) =>
                  java.lang.Long.compare(a, b)
                case (a: java.lang.Number, b: java.lang.Number) =>
                  java.lang.Double.compare(a.doubleValue, b.doubleValue)
                case (a, b) => String.valueOf(a).compareTo(String.valueOf(b))
              }
              op match {
                case "=" => got == want
                case "!=" | "<>" => got != want
                case ">" => got != null && cmpNum > 0
                case "<" => got != null && cmpNum < 0
                case ">=" => got != null && cmpNum >= 0
                case "<=" => got != null && cmpNum <= 0
              }
            }
          }
        case _ => t.rows
      }
      val ordered = Option(orderOpt) match {
        case Some(oc) =>
          val i = t.colIdx.getOrElse(oc.stripPrefix(outerAlias + "."),
            throw new IllegalArgumentException(
              s"pgvector engine: unknown ORDER BY column '$oc'"))
          val asc = kept0.sortBy(r => r(i) match {
            case l: java.lang.Long => (l.doubleValue, "")
            case d: java.lang.Double => (d.doubleValue, "")
            case v => (0.0, String.valueOf(v))
          })
          if (Option(dirOpt).exists(_.trim.equalsIgnoreCase("DESC")))
            asc.reverse
          else asc
        case None => kept0
      }
      val limited = Option(limitOpt) match {
        case Some(n) => ordered.take(n.toInt)
        case None => ordered
      }
      val items =
        if (selList.trim == "*") t.cols.map(_.name)
        else splitTop(selList)
      limited.map(r => render(t, outerAlias, items, r, dsn)).toSeq
    case _ => throw new IllegalArgumentException(
      s"pgvector engine: cannot parse SELECT: $flat")
  }

  private val GeneralSelectRe =
    ("(?i)SELECT (.*?) FROM ([\\w.]+)(?: (?:AS )?(\\w+))?" +
      "(?: WHERE (.*?))?(?: ORDER BY ([\\w.]+)( ASC| DESC)?)?" +
      "(?: LIMIT (\\d+))?").r

  private def render(t: Table, outerAlias: String, items: Seq[String],
                     r: Array[Any], dsn: String): ObjectNode = {
    val o = F.objectNode()
    items.map(_.trim).foreach { item =>
      AggRe.findFirstMatchIn(item) match {
        case Some(m) =>
          val (aggAlias, docCol, sep, ordCol, tbl, innerAlias, where,
               outName) =
            (m.group(1), m.group(2), m.group(3), m.group(4), m.group(5),
             m.group(6), m.group(7), Option(m.group(9)))
          require(aggAlias == innerAlias,
            s"pgvector engine: STRING_AGG alias mismatch in: $item")
          val t2 = tableOf(dsn, tbl)
          // correlation: `t1.k = t2.k [AND …]` — equality on shared cols
          val corr = where.split("(?i) AND ").toSeq.map { c =>
            val Array(l, rr) = c.split("=", 2).map(_.trim)
            val col = Seq(l, rr).find(_.startsWith(innerAlias + "."))
              .getOrElse(throw new IllegalArgumentException(
                s"pgvector engine: bad correlation '$c'")).split("\\.")(1)
            val outer = Seq(l, rr).find(_.startsWith(outerAlias + "."))
              .getOrElse(throw new IllegalArgumentException(
                s"pgvector engine: bad correlation '$c'")).split("\\.")(1)
            (t2.colIdx(col), t.colIdx(outer))
          }
          val oi = t2.colIdx(ordCol)
          val di = t2.colIdx(docCol)
          val agg = t2.rows
            .filter(r2 => corr.forall { case (i2, i1) => r2(i2) == r(i1) })
            .sortBy(r2 => r2(oi) match {
              case l: java.lang.Long => l.longValue
              case other => other.toString.toLong
            })
            .map(r2 => String.valueOf(r2(di))).mkString(sep)
          o.put(outName.getOrElse("string_agg"), agg)
          ()
        case None =>
          val AsRe = "(?i)(\\S+)(?: AS (\\w+))?".r
          val (colName, outName) = item match {
            case AsRe(c, a) => (c.stripPrefix(outerAlias + "."),
              Option(a).getOrElse(c.stripPrefix(outerAlias + ".")))
            case _ => (item, item)
          }
          val i = t.colIdx.getOrElse(colName,
            throw new IllegalArgumentException(
              s"pgvector engine: unknown select column '$colName'"))
          r(i) match {
            case null => o.set[JsonNode](outName, F.nullNode())
            case v: Array[Float] =>
              o.put(outName, v.map(x =>
                if (x == x.toLong) x.toLong.toString else x.toString)
                .mkString("[", ",", "]"))
            case l: java.lang.Long => o.put(outName, l.longValue)
            case d: java.lang.Double => o.put(outName, d.doubleValue)
            case b: java.lang.Boolean => o.put(outName, b.booleanValue)
            case s => o.put(outName, s.toString)
          }
          ()
      }
    }
    o
  }
}
