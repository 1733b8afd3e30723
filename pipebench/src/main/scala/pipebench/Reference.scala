package pipebench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

import scala.jdk.CollectionConverters._

/** Independent plain-Scala reference for every workload's output. It
  * shares no code with the program: it re-implements the order mapping,
  * the catch record and the routing, and computes exact shingle Jaccard
  * for the dedup corpus by brute force over an inverted index.
  */
object Reference {

  private val mapper = new ObjectMapper()
  private val F = JsonNodeFactory.instance

  /** The order mapping both Kafka workloads run, in Bloblang. */
  val OrderMapping: String =
    """root.order_id = this.id
      |root.customer = this.customer.uppercase()
      |root.region = this.region
      |root.n_items = this.items.length()
      |root.total_cents = this.items.map_each(it -> it.qty * it.unit_cents).sum()
      |root.ts = this.ts""".stripMargin

  /** Orders at or above this total route to `priority`. */
  val PriorityCents = 50000L

  /** A complete JSON object, or None (truncated, trailing garbage, not
    * an object).
    */
  def parseObject(s: String): Option[ObjectNode] =
    try {
      val p = mapper.getFactory.createParser(s)
      try {
        val n: JsonNode = mapper.readTree(p)
        if (p.nextToken() != null) None
        else n match {
          case o: ObjectNode => Some(o)
          case _ => None
        }
      } finally p.close()
    } catch { case _: Exception => None }

  /** [[OrderMapping]] applied to one well-formed order. */
  def mapOrder(o: ObjectNode): ObjectNode = {
    val out = F.objectNode()
    out.put("order_id", o.get("id").asLong)
    out.put("customer", o.get("customer").asText.toUpperCase(java.util.Locale.ROOT))
    out.put("region", o.get("region").asText)
    val items = o.get("items").elements().asScala.toSeq
    out.put("n_items", items.size)
    out.put("total_cents",
      items.map(it => it.get("qty").asLong * it.get("unit_cents").asLong).sum)
    out.put("ts", o.get("ts").asLong)
    out
  }

  /** The record the `etl_batch` config delivers for one input message:
    * the mapped order with its route, or the catch record for a message
    * that is not JSON.
    */
  def etlOutput(key: String, raw: String): ObjectNode =
    parseObject(raw) match {
      case Some(o) =>
        val m = mapOrder(o)
        m.put("route",
          if (m.get("total_cents").asLong >= PriorityCents) "priority"
          else "standard")
        m
      case None =>
        val c = F.objectNode()
        c.put("dead_letter", true)
        c.put("order_id", key.toLong)
        c.put("raw", raw)
        c.put("route", "dlq")
        c
    }

  /** Canonical text of a JSON tree: keys sorted, numbers in their
    * shortest exact decimal form (so 5, 5.0 and 5E0 compare equal).
    */
  def canon(n: JsonNode): String = {
    val sb = new StringBuilder
    def go(x: JsonNode): Unit = x match {
      case null => sb ++= "null"
      case o: ObjectNode =>
        sb += '{'
        o.fieldNames().asScala.toSeq.sorted.zipWithIndex.foreach { case (k, i) =>
          if (i > 0) sb += ','
          sb ++= mapper.writeValueAsString(k) += ':'
          go(o.get(k))
        }
        sb += '}'
      case a if a.isArray =>
        sb += '['
        a.elements().asScala.zipWithIndex.foreach { case (e, i) =>
          if (i > 0) sb += ','
          go(e)
        }
        sb += ']'
      case v if v.isNumber =>
        val d = v.decimalValue().stripTrailingZeros()
        sb ++= (if (d.signum == 0) "0" else d.toPlainString)
      case v if v.isNull || v.isMissingNode => sb ++= "null"
      case v => sb ++= mapper.writeValueAsString(v)
    }
    go(n)
    sb.toString
  }

  // ── dedup corpus ──────────────────────────────────────────────────

  /** Distinct word n-grams of a whitespace-tokenized text. */
  def shingles(text: String, n: Int): Set[String] = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Set.empty
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Expected results of the dedup pipeline over `docs`: exact
    * duplicates collapse to their smallest id (see [[exactSurvivors]]);
    * the survivors' near-duplicate [[pairs]]; clusters resolved to their
    * smallest id; the kept ids.
    */
  final case class Dedup(pairs: Map[(Long, Long), Double], kept: Set[Long])

  /** One document per case-insensitive, whitespace-normalized text: the
    * one with the smallest id, in id order.
    */
  def exactSurvivors(docs: Seq[Gen.Doc]): Seq[Gen.Doc] =
    docs.groupBy(d => d.text.trim.replaceAll("\\s+", " ").toLowerCase(java.util.Locale.ROOT))
      .values.map(_.minBy(_.id)).toSeq.sortBy(_.id)

  /** Every pair of `docs` (ids below 2^32) whose shingle sets have
    * Jaccard >= threshold on the unrounded ratio, reported rounded to 4
    * places; a document shorter than a shingle pairs with nothing.
    */
  def pairs(docs: Seq[Gen.Doc], shingleN: Int, threshold: Double)
      : Map[(Long, Long), Double] = {
    val sets = docs.map(d => d.id -> shingles(d.text, shingleN))
      .filter(_._2.nonEmpty)
    val size = sets.toMap.view.mapValues(_.size).toMap
    val index = scala.collection.mutable.HashMap.empty[String, List[Long]]
    sets.foreach { case (id, sh) =>
      sh.foreach(s => index(s) = id :: index.getOrElse(s, Nil))
    }
    // co-occurrence count per pair = |A ∩ B| (sets are distinct)
    // (ids fit in 32 bits: the pair packs into one Long key)
    val inter = scala.collection.mutable.LongMap.empty[Int]
    index.valuesIterator.foreach { ids =>
      val arr = ids.toArray.sorted
      var i = 0
      while (i < arr.length) {
        var j = i + 1
        while (j < arr.length) {
          val k = (arr(i) << 32) | arr(j)
          inter(k) = inter.getOrElse(k, 0) + 1
          j += 1
        }
        i += 1
      }
    }
    inter.iterator.flatMap { case (k, c) =>
      val (a, b) = (k >>> 32, k & 0xffffffffL)
      val j = c.toDouble / ((size(a) + size(b)).toDouble - c.toDouble)
      if (j >= threshold)
        Some((a, b) -> BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
    }.toMap
  }

  def dedup(docs: Seq[Gen.Doc], shingleN: Int, threshold: Double): Dedup = {
    val survivors = exactSurvivors(docs)
    val pairs = this.pairs(survivors, shingleN, threshold)
    // union-find, smallest id is the representative
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.keys.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val dropped = pairs.keys.flatMap { case (a, b) => Seq(a, b) }
      .filter(id => find(id) != id).toSet
    Dedup(pairs, survivors.map(_.id).toSet -- dropped)
  }
}
