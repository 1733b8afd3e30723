package graft.testkit

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blobl.Blobl

/** Declarative config unit tests — the reference's primary correctness
  * harness, re-expressed over Spark (docs/modules/configuration/pages/
  * unit_testing.adoc:18-200; fixture corpus under config/test/).
  *
  * A test file holds an optional `pipeline.processors` config plus a
  * `tests:` list; each case feeds an `input_batch` of messages (content
  * + metadata) through either the file's processors
  * (`target_processors: /pipeline/processors`) or a standalone mapping
  * file (`target_mapping: ./x.blobl`), then checks `output_batches`
  * assertions per message: content_equals / content_matches /
  * json_equals / json_contains / metadata_equals.
  *
  * Execution is the real engine path — messages become an envelope
  * DataFrame and processors compile to Catalyst plans via [[Blobl]] —
  * so a declarative case exercises exactly what production queries run.
  */
object DeclarativeTest {

  private val yaml = new ObjectMapper(new YAMLFactory())
  private val json = new ObjectMapper()

  final case class Msg(content: String, metadata: Map[String, String],
                       batch: Int = 0)

  sealed trait Check {
    /** None = pass, Some(reason) = fail. */
    def apply(m: Msg): Option[String]
  }
  final case class ContentEquals(want: String) extends Check {
    def apply(m: Msg): Option[String] =
      if (m.content == want) None
      else Some(s"content_equals: got '${m.content}', want '$want'")
  }
  final case class ContentMatches(re: String) extends Check {
    def apply(m: Msg): Option[String] =
      if (java.util.regex.Pattern.compile(re).matcher(m.content).find()) None
      else Some(s"content_matches: '$re' not found in '${m.content}'")
  }
  final case class JsonEquals(want: JsonNode) extends Check {
    def apply(m: Msg): Option[String] = {
      val got = json.readTree(m.content)
      if (got == want) None
      else Some(s"json_equals: got $got, want $want")
    }
  }
  final case class JsonContains(want: JsonNode) extends Check {
    def apply(m: Msg): Option[String] = {
      val got = json.readTree(m.content)
      if (contains(got, want)) None
      else Some(s"json_contains: $want not contained in $got")
    }
  }
  final case class MetadataEquals(want: Map[String, String]) extends Check {
    // STRUCTURED metadata values (config/test/structured_metadata.yaml)
    // ride as JSON text in our map<string,string> — compare tree-wise
    // when both sides parse, else byte-wise
    private def same(a: String, b: String): Boolean =
      a == b || (try json.readTree(a) == json.readTree(b)
        catch { case _: Exception => false })
    def apply(m: Msg): Option[String] =
      if (m.metadata.keySet == want.keySet &&
          want.forall { case (k, v) => same(m.metadata(k), v) }) None
      else Some(s"metadata_equals: got ${m.metadata}, want $want")
  }
  /** `file_equals` (unit_testing.adoc:164-200): content matches a file
    * verbatim. */
  final case class FileEquals(path: String) extends Check {
    def apply(m: Msg): Option[String] = {
      val want = Files.readString(Paths.get(path))
      if (m.content == want) None
      else Some(s"file_equals: got '${m.content}', want '$want' ($path)")
    }
  }

  /** `bloblang:` assertion (unit_testing.adoc:164-200): a predicate over
    * the output message — content()/this/metadata bound; error() is null
    * here (error-channel tests assert the column through processors).
    */
  final case class BloblangCheck(pred: String) extends Check {
    def apply(m: Msg): Option[String] = {
      val spark = org.apache.spark.sql.SparkSession.active
      import scala.jdk.CollectionConverters._
      val df = spark.createDataFrame(
        Seq(org.apache.spark.sql.Row(m.content,
          m.metadata, null: String)).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("metadata",
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.StringType)),
          org.apache.spark.sql.types.StructField("error",
            org.apache.spark.sql.types.StringType))))
      val ok = !df.filter(Blobl.predicateJson(df, pred, Map.empty,
        metadataCol = Some("metadata"))).isEmpty
      if (ok) None else Some(s"bloblang: predicate '$pred' is false for '${m.content}'")
    }
  }

  /** Structural subset: every field/element of `want` present (and
    * recursively contained) in `got`; scalars compare by equality.
    */
  private def contains(got: JsonNode, want: JsonNode): Boolean =
    if (want.isObject)
      got.isObject && want.properties().asScala.forall { e =>
        got.has(e.getKey) && contains(got.get(e.getKey), e.getValue) }
    else if (want.isArray)
      got.isArray && want.size() == got.size() &&
        (0 until want.size()).forall(i => contains(got.get(i), want.get(i)))
    else got == want

  final case class TestCase(
      name: String,
      environment: Map[String, String],
      input: Seq[Msg],
      expected: Seq[Seq[Check]],
      processors: Seq[DataFrame => DataFrame],
      cacheResources: Seq[JsonNode] = Nil,
      // declared sizes of each expected output batch; with 2+ batches
      // the run compares batch STRUCTURE, not just the flattened
      // message list (config/test/deduplicate_by_batch.yaml)
      batchSizes: Seq[Int] = Nil)

  /** Config-level `${VAR}` / `${VAR:default}` env interpolation — the
    * reference substitutes these at config parse, BEFORE any component
    * sees the text (unit_testing.adoc environment section). Bloblang's
    * own `${! … }` interpolations are left alone.
    */
  private def substEnv(text: String, env: Map[String, String]): String =
    "\\$\\{([A-Za-z_][A-Za-z0-9_]*)(?::([^}]*))?\\}".r.replaceAllIn(text, m =>
      java.util.regex.Matcher.quoteReplacement(
        env.getOrElse(m.group(1), Option(m.group(2)).getOrElse(""))))

  /** Load every test case from a declarative YAML file.
    *
    * Companion-file convention (unit_testing.adoc:41,240): a file named
    * `foo_benthos_test.yaml` that carries only `tests:` takes its CONFIG
    * from the sibling `foo.yaml` — `test ./config.yaml` and
    * `test ./config_benthos_test.yaml` are equivalent. `resources`
    * mirrors the CLI's `-r resources.yaml`: top-level `cache_resources`
    * / `processor_resources` lists from each file merge into the config
    * before compilation.
    */
  def load(path: String, resources: Seq[String] = Nil): Seq[TestCase] = {
    val testText = Files.readString(Paths.get(path))
    val testRoot = yaml.readTree(testText)
    val companion: Option[java.nio.file.Path] = {
      val f = new File(path)
      val n = f.getName
      val base =
        if (n.endsWith("_benthos_test.yaml")) Some(n.stripSuffix("_benthos_test.yaml") + ".yaml")
        else if (n.endsWith("_benthos_test.yml")) Some(n.stripSuffix("_benthos_test.yml") + ".yml")
        else None
      base.map(b => new File(f.getParentFile, b).toPath)
        .filter(p => Files.exists(p) &&
          // only redirect when the test file holds no config of its own
          testRoot.properties().asScala.map(_.getKey).toSet == Set("tests"))
    }
    val rawText = companion.map(Files.readString).getOrElse(testText)
    val cases = Option(testRoot.get("tests")).map(_.elements().asScala.toSeq)
      .getOrElse(Seq.empty)
    cases.map { tc =>
      val name = tc.get("name").asText()
      val env = mapOf(tc.get("environment"))
      // per-case env substitution over the whole config text (the
      // reference parses the config fresh per test environment)
      val root0 = {
        val base = yaml.readTree(substEnv(rawText, env))
        resources.foldLeft(base) { (acc, rf) =>
          val rn = yaml.readTree(substEnv(Files.readString(Paths.get(rf)), env))
          Seq("cache_resources", "processor_resources").foreach { k =>
            Option(rn.get(k)).foreach { arr =>
              val obj = acc.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
              val tgt = Option(obj.get(k)) match {
                case Some(a: com.fasterxml.jackson.databind.node.ArrayNode) => a
                case _ =>
                  val a = obj.putArray(k); a
              }
              arr.elements().asScala.foreach(e => tgt.add(e.deepCopy[JsonNode]()))
            }
          }
          acc
        }
      }
      // tests[].mocks (unit_testing.adoc:359-377): keys are a processor
      // LABEL or a JSON POINTER; the value replaces the processor
      val root = graft.config.Pipeline.resolveProcessorResources(
        Option(tc.get("mocks")) match {
          case Some(ms) => applyMocks(root0, ms)
          case None => root0
        })
      // input_batch (one batch) or input_batches (several, fed in
      // order as one bounded stream with batch identity —
      // config/test/deduplicate.yaml, deduplicate_by_batch.yaml)
      val input = Option(tc.get("input_batch")).map(_.elements().asScala.toSeq)
        .getOrElse(Seq.empty).map(parseMsg(_, path)) ++
        Option(tc.get("input_batches")).map(_.elements().asScala.toSeq)
          .getOrElse(Seq.empty).zipWithIndex.flatMap { case (b, bi) =>
            b.elements().asScala.toSeq.map(parseMsg(_, path).copy(batch = bi))
          }
      val expectedBatches = Option(tc.get("output_batches"))
        .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
        .map(_.elements().asScala.toSeq.map(parseChecks(_, path)))
      val expected = expectedBatches.flatten
      val procs = (Option(tc.get("target_mapping")), Option(tc.get("target_processors"))) match {
        case (Some(mp), _) =>
          val f = new File(new File(path).getParentFile, mp.asText())
          val src = Files.readString(f.toPath)
          Seq((df: DataFrame) =>
            Blobl.mapping(df, src, env, metadataCol = Some("metadata")))
        case (_, Some(ptr)) =>
          val t = ptr.asText()
          if (t.contains(".yaml#") || t.contains(".yml#")) {
            // cross-file target: `./other.yaml#/pipeline/processors`
            // (config/test/bloblang/also_tests_boolean_operands.yaml) —
            // the processors come from a SIBLING config file
            val Array(file, p2) = t.split("#", 2)
            val cfgPath = new File(new File(path).getParentFile, file)
            val cfgRoot = graft.config.Pipeline.resolveProcessorResources(
              yaml.readTree(substEnv(Files.readString(cfgPath.toPath), env)))
            val node = cfgRoot.at(p2)
            require(!node.isMissingNode,
              s"target_processors $t: $p2 not found in $cfgPath")
            if (node.isArray)
              node.elements().asScala.toSeq.map(compileProcessor(_, env))
            else Seq(compileProcessor(node, env))
          } else if (t.startsWith("/")) {
            val node = root.at(t)
            require(!node.isMissingNode, s"target_processors $t not found in $path")
            // the pointer may address a processor LIST or a single
            // processor object (unit_testing.adoc: "a processor, or
            // list of processors")
            if (node.isArray)
              node.elements().asScala.toSeq.map(compileProcessor(_, env))
            else Seq(compileProcessor(node, env))
          } else {
            // unit_testing.adoc: a non-pointer target is a processor
            // LABEL — the single processor carrying it is the target
            val hits = scala.collection.mutable.Buffer.empty[JsonNode]
            def walk(n: JsonNode): Unit = n match {
              case a: com.fasterxml.jackson.databind.node.ArrayNode =>
                a.elements().asScala.foreach(walk)
              case o: com.fasterxml.jackson.databind.node.ObjectNode =>
                if (o.path("label").asText("") == t) hits += o
                else o.properties().asScala.foreach(p => walk(p.getValue))
              case _ => ()
            }
            walk(root)
            require(hits.size == 1,
              s"target_processors label '$t': ${hits.size} matches in $path")
            Seq(compileProcessor(hits.head, env))
          }
        case _ =>
          // unit_testing.adoc: the default target is the config's own
          // pipeline processors
          val node = root.at("/pipeline/processors")
          require(!node.isMissingNode,
            s"test '$name' has no target and no /pipeline/processors in $path")
          node.elements().asScala.toSeq.map(compileProcessor(_, env))
      }
      // tests run in the config's full resource context — a fixture's
      // cache_resources are live during its runs (unit_testing.adoc)
      val caches = Option(root.get("cache_resources"))
        .map(_.elements().asScala.toSeq).getOrElse(Nil)
      TestCase(name, env, input, expected, procs, caches,
        expectedBatches.map(_.size))
    }
  }

  /** Replace mocked processors in the config tree. A pointer key
    * replaces the node it addresses; a label key replaces every
    * processor object carrying that `label` (the node keeps nothing of
    * the original — the mock IS the processor, per unit_testing.adoc).
    */
  private def applyMocks(root: JsonNode, mocks: JsonNode): JsonNode = {
    val copy = root.deepCopy[JsonNode]()
    mocks.properties().asScala.foreach { e =>
      val (key, mock) = (e.getKey, e.getValue)
      if (key.startsWith("/")) {
        val parentPtr = key.substring(0, key.lastIndexOf('/'))
        val leaf = key.substring(key.lastIndexOf('/') + 1)
        val parent = copy.at(parentPtr)
        require(!parent.isMissingNode, s"mock pointer $key: no such node")
        parent match {
          case a: com.fasterxml.jackson.databind.node.ArrayNode =>
            if (leaf == "-") a.add(mock.deepCopy[JsonNode]())
            else a.set(leaf.toInt, mock.deepCopy[JsonNode]())
            ()
          case o: com.fasterxml.jackson.databind.node.ObjectNode =>
            o.set[JsonNode](leaf, mock.deepCopy[JsonNode]()); ()
          case other => throw new IllegalArgumentException(
            s"mock pointer $key: cannot replace inside $other")
        }
      } else {
        var hits = 0
        def walk(n: JsonNode): Unit = n match {
          case a: com.fasterxml.jackson.databind.node.ArrayNode =>
            (0 until a.size()).foreach { i =>
              val el = a.get(i)
              if (el.isObject && el.path("label").asText("") == key) {
                val repl = mock.deepCopy[JsonNode]()
                repl match {
                  case o2: com.fasterxml.jackson.databind.node.ObjectNode =>
                    o2.put("label", key); ()
                  case _ => ()
                }
                a.set(i, repl); hits += 1
              } else walk(el)
            }
          case o: com.fasterxml.jackson.databind.node.ObjectNode =>
            o.properties().asScala.foreach(p => walk(p.getValue))
          case _ => ()
        }
        walk(copy)
        require(hits > 0, s"mock label '$key': no processor carries it")
      }
    }
    copy
  }

  /** Processor vocabulary shared with the production config runner
    * ([[graft.config.Processors]]) — a tested config runs identically
    * when deployed.
    */
  private def compileProcessor(p: JsonNode, env: Map[String, String]): DataFrame => DataFrame =
    graft.config.Processors.compile(p, env)

  private def parseMsg(m: JsonNode, path: String): Msg = {
    val content =
      if (m.has("content")) m.get("content").asText()
      else if (m.has("json_content")) json.writeValueAsString(m.get("json_content"))
      else if (m.has("file_content"))
        Files.readString(new File(new File(path).getParentFile,
          m.get("file_content").asText()).toPath)
      else ""
    Msg(content, mapOf(m.get("metadata")))
  }

  private def parseChecks(a: JsonNode, path: String): Seq[Check] =
    a.properties().asScala.toSeq.map { e =>
      e.getKey match {
        case "file_equals" => FileEquals(new File(
          new File(path).getParentFile, e.getValue.asText()).getPath)
        case "content_equals" => ContentEquals(e.getValue.asText())
        case "content_matches" => ContentMatches(e.getValue.asText())
        case "json_equals" =>
          JsonEquals(if (e.getValue.isTextual)
            json.readTree(e.getValue.asText()) else e.getValue)
        case "json_contains" =>
          JsonContains(if (e.getValue.isTextual)
            json.readTree(e.getValue.asText()) else e.getValue)
        case "metadata_equals" => MetadataEquals(jsonMapOf(e.getValue))
        case "bloblang" => BloblangCheck(e.getValue.asText())
        case other =>
          throw new IllegalArgumentException(s"unknown assertion '$other'")
      }
    }

  /** Map with non-textual values serialized as JSON (structured
    * metadata assertions). */
  private def jsonMapOf(n: JsonNode): Map[String, String] =
    Option(n).map(_.properties().asScala.map(e =>
      e.getKey -> (if (e.getValue.isTextual) e.getValue.asText()
        else json.writeValueAsString(e.getValue))).toMap)
      .getOrElse(Map.empty)

  private def mapOf(n: JsonNode): Map[String, String] =
    Option(n).map(_.properties().asScala.map(e =>
      e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)

  /** Run one case through the engine; returns failure messages (empty =
    * pass). Output order is input order (a `__seq` column rides through
    * the plan; processors never reorder).
    */
  def run(spark: SparkSession, tc: TestCase): Seq[String] = {
    import spark.implicits._
    if (tc.cacheResources.nonEmpty)
      graft.config.Caches.register(spark, tc.cacheResources, Map.empty)
    val in = tc.input.zipWithIndex
      .map { case (m, i) => (i.toLong, m.batch.toLong, m.content, m.metadata) }
      .toDF("__seq", "__batch", "value", "metadata")
    val out = tc.processors.foldLeft(in: DataFrame)((df, p) => p(df))
    val hasBatch = out.columns.contains("__batch")
    val collected = out.orderBy(col("__seq"))
      .select(col("value"), col("metadata"),
        (if (hasBatch) col("__batch") else lit(0L)).as("__batch"))
      .collect()
    val rows = collected
      .map(r => Msg(r.getString(0),
        Option(r.getMap[String, String](1)).map(_.toMap).getOrElse(Map.empty)))
      .toSeq
    // multi-batch expectations assert the BATCH SHAPE too: batches in
    // first-appearance order must match the declared sizes
    val batchErr =
      if (tc.batchSizes.size < 2) Seq.empty
      else {
        val gotSizes = collected.map(_.getLong(2)).foldLeft(
          Vector.empty[(Long, Int)]) { (acc, b) =>
          acc.lastOption match {
            case Some((id, n)) if id == b => acc.init :+ ((id, n + 1))
            case _ => acc :+ ((b, 1))
          }
        }.map(_._2)
        if (gotSizes != tc.batchSizes.toVector)
          Seq(s"batch shape ${gotSizes.mkString("[", ",", "]")} != " +
            s"expected ${tc.batchSizes.mkString("[", ",", "]")}")
        else Seq.empty
      }
    val sizeErr =
      if (rows.size != tc.expected.size)
        Seq(s"output size ${rows.size} != expected ${tc.expected.size}")
      else Seq.empty
    val msgErrs = rows.zip(tc.expected).zipWithIndex.flatMap {
      case ((msg, checks), i) => checks.flatMap(_.apply(msg)).map(e => s"msg[$i] $e")
    }
    batchErr ++ sizeErr ++ msgErrs
  }
}
