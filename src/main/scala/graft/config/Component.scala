package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** How a config component node is read, once for every family (caches,
  * inputs, outputs, processors). A component is one kind key, plus an
  * optional `label` and, for inputs and outputs, optional attached
  * `processors:` (components/inputs/about.adoc, outputs/about.adoc).
  * The kind names an entry of the family's table, else a registered
  * [[Templates]] entry of that family.
  */
private[graft] object Component {

  /** The one parser of a component's kind key: `label` names the
    * component and is not a kind, nor is `processors` when the family
    * attaches processors.
    */
  def kindOf(n: JsonNode, attaching: Boolean = false): (String, JsonNode) = {
    val fields = n.properties().asScala.toSeq.filterNot(e =>
      e.getKey == "label" || (attaching && e.getKey == "processors"))
    require(fields.size == 1, s"component must have exactly one key: $n")
    (fields.head.getKey, fields.head.getValue)
  }

  /** A component node read once: its kind, its body and its attached
    * `processors:`, compiled with the run's env.
    */
  final case class Node(kind: String, body: JsonNode,
                        attached: Seq[DataFrame => DataFrame]) {
    def after(df: DataFrame): DataFrame =
      attached.foldLeft(df)((d, p) => p(d))
  }

  sealed trait Resolved[+E] { def node: Node }

  final case class Found[+E](entry: E, node: Node) extends Resolved[E]

  final case class Templated(family: String, template: Templates.Template,
                             node: Node, env: Map[String, String])
      extends Resolved[Nothing] {
    /** Expand against `spark` and hand the concrete component to `k`; a
      * template that expands to itself fails by name.
      */
    def expand[R](spark: SparkSession)(k: JsonNode => R): R =
      Templates.guard(family, node.kind)(
        k(Templates.expand(spark, template, node.body, env)))
  }

  /** One family's name → entry table. Construction rejects a repeated
    * name, so no entry can shadow or override another. `missing` is the
    * family's error for a name that is neither an entry nor a template.
    */
  final class Family[E](val name: String, attaches: Boolean,
                        missing: String => String)(entries: Seq[(String, E)]*) {
    private val table: Map[String, E] = {
      val all = entries.flatten
      val repeated = all.groupBy(_._1).collect {
        case (n, es) if es.size > 1 => n
      }
      require(repeated.isEmpty,
        s"$name table: repeated names ${repeated.toSeq.sorted.mkString(", ")}")
      all.toMap
    }

    def names: Set[String] = table.keySet

    def resolve(n: JsonNode, env: Map[String, String]): Resolved[E] = {
      val (kind, body) = kindOf(n, attaches)
      val attached =
        if (!attaches) Nil
        else Option(n.get("processors")).map(_.elements().asScala.toSeq
          .map(Processors.compile(_, env))).getOrElse(Nil)
      val node = Node(kind, body, attached)
      table.get(kind) match {
        case Some(e) => Found(e, node)
        case None => Templates.lookup(name, kind) match {
          case Some(t) => Templated(name, t, node, env)
          case None => throw new IllegalArgumentException(missing(kind))
        }
      }
    }
  }

  // ── field readers shared by the families ─────────────────────────

  def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.toSeq.map(_.asText)

  /** A map-of-strings field (headers, tags); empty when absent. */
  def stringMap(n: JsonNode): Map[String, String] =
    Option(n).map(_.properties().asScala.map(e => e.getKey -> e.getValue.asText)
      .toMap).getOrElse(Map.empty)

  /** A `credentials: {id, secret}` block and `region`; absent keys read
    * as the given defaults.
    */
  def awsCreds(b: JsonNode, id: String = "AK",
               secret: String = "SK"): graft.sources.S3.Credentials =
    graft.sources.S3.Credentials(
      b.at("/credentials/id").asText(id),
      b.at("/credentials/secret").asText(secret),
      b.path("region").asText("us-east-1"))

  def durMs(s: String): Long =
    graft.functions.expressions.CodecOps.parseDuration(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)) / 1000000L

  def durMs(b: JsonNode, field: String, dflt: Long): Long =
    Option(b.get(field)).map(_.asText).filter(_.nonEmpty).map(durMs)
      .getOrElse(dflt)

  def metaColOf(df: DataFrame): Option[String] =
    if (df.columns.contains("metadata")) Some("metadata") else None

  /** A `${! … }` interpolation per row, reading metadata when the frame
    * carries it.
    */
  def interp(df: DataFrame, tpl: String,
             env: Map[String, String] = Map.empty): Column =
    graft.blobl.Blobl.interpolateJson(df, tpl, env, metadataCol = metaColOf(df))

  /** The `mem://` address among a component's urls: the only transports
    * that exist in this environment for the brokers that need one.
    */
  def memUrl(kind: String, urls: Seq[String]): String =
    urls.find(_.startsWith("mem://")).getOrElse(
      throw new IllegalArgumentException(
        s"$kind: only mem:// transports exist in this environment"))

  /** The `mem://` address among a component's required `urls`. */
  def memUrlOf(kind: String, b: JsonNode): String =
    memUrl(kind, Option(b.get("urls")).map(strings).getOrElse(
      throw new IllegalArgumentException(s"$kind needs urls")))

  def redisUrl(kind: String, b: JsonNode): String =
    Option(b.get("url")).map(_.asText).getOrElse(
      throw new IllegalArgumentException(s"$kind needs url"))

  /** `mem://name/queue` → (`mem://name`, `queue`) — the SQS queue-URL
    * shape (…/account/queue) collapsed to the transport seam.
    */
  def splitQueueUrl(url: String): (String, String) = {
    val i = url.lastIndexOf('/')
    require(i > "mem://".length, s"queue url needs a /queue suffix: $url")
    (url.substring(0, i), url.substring(i + 1))
  }

  /** Kafka connector `sasl` block (the reference's conf_sasl field
    * set): the first entry's PLAIN credentials ride the kafka://
    * address as URL-encoded query options, so every transport-seam
    * consumer (batch read, streaming source, sink writer) authenticates
    * each connection it opens. Only PLAIN is implemented — matching the
    * loopback broker — and any other mechanism fails loudly here rather
    * than silently connecting unauthenticated.
    */
  def kafkaSaslQuery(b: JsonNode): Option[String] = {
    val n = b.at("/sasl/0")
    if (n.isMissingNode) None
    else {
      val mech = Option(n.get("mechanism")).map(_.asText.toUpperCase)
        .getOrElse("PLAIN")
      require(mech == "PLAIN" || mech == "SCRAM-SHA-256",
        s"kafka sasl mechanism '$mech': PLAIN and SCRAM-SHA-256 are implemented")
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      Some(s"sasl_user=${enc(n.get("username").asText)}" +
        s"&sasl_pass=${enc(n.get("password").asText)}" +
        s"&sasl_mechanism=${enc(mech)}")
    }
  }

  /** Append query options to a kafka:// address (mem:// and native
    * addresses pass through untouched).
    */
  def kafkaAddr(addr: String, opts: Seq[String]): String =
    if (!addr.startsWith("kafka://") || opts.isEmpty) addr
    else addr + (if (addr.contains("?")) "&" else "?") + opts.mkString("&")

  /** A kafka component's `seed_brokers`/`addresses`, read by one rule
    * in every form (batch read, stream read, write): `explicit` is the
    * first `mem://` or `kafka://` address in list order, wherever it
    * sits. Only when there is none does `wire` fall back to the first
    * bare host:port, which speaks the same Kafka wire protocol our
    * kafka:// client implements (config/examples/
    * aws_cloudwatch_logs.yaml's `addresses: [localhost:9092]`). None
    * means brokers only the native connector reaches.
    */
  final case class KafkaBrokers(addrs: Seq[String]) {
    val explicit: Option[String] =
      addrs.find(a => a.startsWith("mem://") || a.startsWith("kafka://"))
    val wire: Option[String] = explicit.orElse(
      addrs.find(!_.contains("://")).map(a => s"kafka://$a"))
  }

  def kafkaBrokers(b: JsonNode, role: String): KafkaBrokers =
    KafkaBrokers(Option(b.get("seed_brokers")).orElse(Option(b.get("addresses")))
      .map(strings).getOrElse(throw new IllegalArgumentException(
        s"kafka $role needs seed_brokers/addresses")))
}
