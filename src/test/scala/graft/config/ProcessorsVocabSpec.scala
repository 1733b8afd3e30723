package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Config-form processor vocabulary — every family the YAML runner
  * compiles, exercised over the message envelope exactly as the
  * declarative test harness feeds it.
  */
class ProcessorsVocabSpec extends SparkSpec {

  private val yaml = new ObjectMapper(new YAMLFactory())

  /** Build the envelope the harness uses: ordered messages. */
  private def envelope(msgs: String*): DataFrame = {
    import spark.implicits._
    msgs.zipWithIndex
      .map { case (m, i) => (i.toLong, m, Map.empty[String, String]) }
      .toDF("__seq", "value", "metadata")
  }

  /** Apply a YAML list of processors to a frame. */
  private def apply(df: DataFrame, processorsYaml: String): DataFrame = {
    val list = yaml.readTree(processorsYaml)
    list.elements().asScala.foldLeft(df)((d, p) =>
      Processors.compile(p, Map.empty)(d))
  }

  private def values(df: DataFrame): Seq[String] =
    df.orderBy(col("__seq")).select("value").collect()
      .map(_.getString(0)).toSeq

  private def metaOf(df: DataFrame, key: String): Seq[String] =
    df.orderBy(col("__seq"))
      .select(element_at(col("metadata"), key)).collect()
      .map(_.getString(0)).toSeq

  test("switch routes each message to the first matching case") {
    val in = envelope("""{"k":5}""", """{"k":50}""", """{"k":500}""")
    val out = apply(in,
      """- switch:
        |    - check: 'this.k >= 100'
        |      processors:
        |        - mapping: 'root.tier = "big"'
        |    - check: 'this.k >= 10'
        |      processors:
        |        - mapping: 'root.tier = "mid"'
        |""".stripMargin)
    val got = values(out)
    assert(got(0) == """{"k":5}""", "no case matched: unchanged")
    assert(got(1) == """{"tier":"mid"}""")
    assert(got(2) == """{"tier":"big"}""")
  }

  test("branch: request_map → child → result_map merges back") {
    val in = envelope("""{"name":"ada"}""", """{"name":"bob"}""")
    val out = apply(in,
      """- branch:
        |    request_map: 'root.n = this.name.uppercase()'
        |    processors:
        |      - mapping: 'root.n = this.n + "!"'
        |    result_map: 'root.shout = this.n'
        |""".stripMargin)
    assert(values(out) ==
      Seq("""{"name":"ada","shout":"ADA!"}""",
        """{"name":"bob","shout":"BOB!"}"""))
  }

  test("try skips errored rows; catch recovers and clears the error") {
    val in = envelope("""{"ok":1}""", """{"ok":2}""")
      .withColumn("error",
        when(col("__seq") === 1, lit("poisoned")).otherwise(lit(null)))
    val tried = apply(in,
      """- try:
        |    - mapping: 'root.seen = "try"'
        |""".stripMargin)
    val triedRows = tried.orderBy(col("__seq"))
      .select("value", "error").collect()
    assert(triedRows(0).getString(0) == """{"seen":"try"}""")
    assert(triedRows(1).getString(0) == """{"ok":2}""", "errored row skipped")
    assert(triedRows(1).getString(1) == "poisoned")

    val caught = apply(in,
      """- catch:
        |    - mapping: 'root.recovered = true'
        |""".stripMargin)
    val caughtRows = caught.orderBy(col("__seq"))
      .select("value", "error").collect()
    assert(caughtRows(0).getString(0) == """{"ok":1}""", "healthy untouched")
    assert(caughtRows(1).getString(0) == """{"recovered":true}""")
    assert(caughtRows(1).getString(1) == null, "error cleared")
  }

  test("try: a row an earlier child errors skips the later children") {
    val in = envelope("""{"ok":1}""", "not json")
    val out = apply(in,
      """- try:
        |    - awk: { codec: json, program: 'BEGIN { }' }
        |    - mapping: 'root.seen = true'
        |""".stripMargin)
    val rows = out.orderBy(col("__seq")).select("value", "error").collect()
    assert(rows(0).getString(0) == """{"seen":true}""")
    assert(rows(0).isNullAt(1))
    assert(rows(1).getString(0) == "not json", "errored row untouched")
    assert(!rows(1).isNullAt(1), "error kept")
  }

  test("group_by tags first matching predicate; group_by_value interpolates") {
    val in = envelope("""{"lvl":"err"}""", """{"lvl":"info"}""")
    val byPred = apply(in,
      """- group_by:
        |    - check: 'this.lvl == "err"'
        |""".stripMargin)
    assert(metaOf(byPred, "group") == Seq("0", "-1"))

    val byVal = apply(in,
      """- group_by_value:
        |    value: 'lvl-${! this.lvl }'
        |""".stripMargin)
    assert(metaOf(byVal, "group") == Seq("lvl-err", "lvl-info"))
  }

  test("split assigns size-N sub-batches; select_parts and insert_part index parts") {
    val in = envelope("a", "b", "c", "d", "e")
    assert(metaOf(apply(in, "- split: { size: 2 }"), "sub_batch") ==
      Seq("0", "0", "1", "1", "2"))
    assert(values(apply(in, "- select_parts: { parts: [0, 2, 4] }")) ==
      Seq("a", "c", "e"))
    val inserted = apply(in, """- insert_part: { index: 1, content: "X" }""")
    assert(values(inserted) == Seq("a", "X", "b", "c", "d", "e"))
  }

  test("archive folds the batch to one message; unarchive splits back") {
    val in = envelope("x", "y", "z")
    val arch = apply(in, "- archive: { format: lines }")
    assert(values(arch) == Seq("x\ny\nz"))
    assert(values(apply(arch, "- unarchive: { format: lines }")) ==
      Seq("x", "y", "z"))
  }

  test("unarchive json_array / json_map / csv explode documents") {
    val arr = envelope("""[{"a":1},{"a":2}]""")
    assert(values(apply(arr, "- unarchive: { format: json_array }")) ==
      Seq("""{"a":1}""", """{"a":2}"""))

    val m = envelope("""{"k1":{"a":1},"k2":{"a":2}}""")
    val gotMap = apply(m, "- unarchive: { format: json_map }")
    assert(values(gotMap).toSet == Set("""{"a":1}""", """{"a":2}"""))
    assert(metaOf(gotMap, "archive_key").toSet == Set("k1", "k2"))

    val csv = envelope("name,age\nada,36\nbob,41")
    val gotCsv = values(apply(csv, "- unarchive: { format: csv }"))
    assert(gotCsv == Seq("""{"name":"ada","age":"36"}""",
      """{"name":"bob","age":"41"}"""))
  }

  test("string_split and text_chunker explode with stable ordering") {
    // string_split: content becomes the ARRAY of segments, one message
    // out per message in (processor_string_split.go:84-115)
    val in = envelope("a|b|c")
    assert(values(apply(in, """- string_split: { delimiter: "|" }""")) ==
      Seq("""["a","b","c"]"""))
    assert(values(apply(envelope("a,,b,"),
      """- string_split: { delimiter: ",", empty_as_null: true }""")) ==
      Seq("""["a",null,"b",null]"""))
    val chunked = apply(envelope("abcdefghij"),
      "- text_chunker: { chunk_size: 4, chunk_overlap: 0 }")
    assert(values(chunked) == Seq("abcd", "efgh", "ij"))
  }

  test("dedupe keeps the first occurrence per key") {
    val in = envelope("""{"id":1,"v":"first"}""", """{"id":2,"v":"only"}""",
      """{"id":1,"v":"dup"}""")
    val out = apply(in,
      """- dedupe: { key: '${! this.id }' }""")
    assert(values(out) == Seq("""{"id":1,"v":"first"}""",
      """{"id":2,"v":"only"}"""))
  }

  test("compress/decompress round-trip (base64 envelope encoding)") {
    val in = envelope("hello compression world")
    val out = apply(in,
      """- compress: { algorithm: gzip }
        |- decompress: { algorithm: gzip }
        |""".stripMargin)
    assert(values(out) == Seq("hello compression world"))
  }

  test("avro, msgpack and schema-registry wire format round-trip") {
    val avroSchema =
      """{"type":"record","name":"r","fields":[{"name":"id","type":"long"}]}"""
    val in = envelope("""{"id":7}""")
    val avroRt = apply(in,
      s"""- avro: { operator: from_json, schema: $avroSchema }
         |- avro: { operator: to_json, schema: $avroSchema }
         |""".stripMargin)
    assert(values(avroRt) == Seq("""{"id":7}"""))

    val mpRt = apply(in,
      """- msgpack: { operator: from_json }
        |- msgpack: { operator: to_json }
        |""".stripMargin)
    assert(values(mpRt).head.contains(""""id":7"""))

    val wireRt = apply(in,
      s"""- schema_registry_encode: { schema: $avroSchema, schema_id: 9 }
         |- schema_registry_decode: { schema: $avroSchema }
         |""".stripMargin)
    assert(values(wireRt) == Seq("""{"id":7}"""))
  }

  test("schema-registry provider resolves subject + id; unknown id errors") {
    val avroSchema =
      """{"type":"record","name":"r","fields":[{"name":"id","type":"long"}]}"""
    val in = envelope("""{"id":7}""")
    // subject-resolved encode → provider-resolved decode
    val rt = apply(in,
      s"""- schema_registry_encode:
         |    subject: things
         |    registry:
         |      schemas: { 9: $avroSchema }
         |      subjects: { things: 9 }
         |- schema_registry_decode:
         |    registry:
         |      schemas: { 9: $avroSchema }
         |""".stripMargin)
    assert(values(rt) == Seq("""{"id":7}"""))
    // id 9 on the wire but only id 1 registered → error channel, value kept
    val bad = apply(in,
      s"""- schema_registry_encode: { schema: $avroSchema, schema_id: 9 }
         |- schema_registry_decode:
         |    registry:
         |      schemas: { 1: $avroSchema }
         |""".stripMargin)
    val row = bad.select(col("value"), col("error")).head()
    assert(row.getString(1) == "schema registry: unknown schema id 9")
    assert(row.getString(0).nonEmpty, "message must be kept on unknown id")
    // truncated or wrong-magic payloads error the ROW, never the task —
    // even when bytes 2-5 happen to decode to a registered id
    val b64 = (bs: Array[Byte]) =>
      java.util.Base64.getEncoder.encodeToString(bs)
    val wrongMagic = b64(Array[Byte](1, 0, 0, 0, 9)) // id bytes say 9
    val truncated = b64(Array[Byte](0, 0, 0))
    val hdr = apply(envelope(wrongMagic, truncated),
      s"""- schema_registry_decode:
         |    registry:
         |      schemas: { 9: $avroSchema }
         |""".stripMargin)
    val rows = hdr.select(col("value"), col("error")).collect()
    assert(rows.forall(_.getString(1) ==
      "schema registry: invalid wire format header"))
    assert(rows.map(_.getString(0)).toSet == Set(wrongMagic, truncated),
      "message must be kept on bad header")
  }

  test("parquet encode/decode round-trips the batch through one blob") {
    val in = envelope("""{"id":1,"name":"a"}""", """{"id":2,"name":"b"}""")
    val schema = "message r { required int64 id; required binary name (UTF8); }"
    val out = apply(in,
      s"""- parquet_encode: { schema: '$schema' }
         |- parquet_decode: {}
         |""".stripMargin)
    assert(values(out) == Seq("""{"id":1,"name":"a"}""", """{"id":2,"name":"b"}"""))
    // deprecated combined form
    val out2 = apply(in,
      s"""- parquet: { operator: from_json, schema: '$schema' }
         |- parquet: { operator: to_json }
         |""".stripMargin)
    assert(values(out2) == Seq("""{"id":1,"name":"a"}""", """{"id":2,"name":"b"}"""))
  }

  test("grok and xml produce structured JSON docs") {
    val logs = envelope("GET /health 200")
    val got = values(apply(logs,
      """- grok: { expression: '%{WORD:verb} %{NOTSPACE:path} %{INT:status}' }"""))
    assert(got == Seq("""{"verb":"GET","path":"/health","status":"200"}"""))

    val xml = envelope("<doc><id>4</id></doc>")
    val gotXml = values(apply(xml, "- xml: { operator: to_json }"))
    assert(gotXml.head.contains(""""id":"""), s"xml parse: $gotXml")
  }

  test("cache get hydrates from the registered view and errors on miss") {
    import spark.implicits._
    Seq(("k1", "cached-1")).toDF("key", "value")
      .createOrReplaceTempView("cache_demo")
    val in = envelope("""{"k":"k1"}""", """{"k":"nope"}""")
    val out = apply(in,
      """- cache: { resource: demo, operator: get, key: '${! this.k }' }""")
    val rows = out.orderBy(col("__seq")).select("value", "error").collect()
    assert(rows(0).getString(0) == "cached-1" && rows(0).getString(1) == null)
    assert(rows(1).getString(1) == "cache miss")
  }

  test("cached memoizes children per distinct key") {
    val in = envelope("""{"u":"a"}""", """{"u":"b"}""", """{"u":"a"}""")
    val out = apply(in,
      """- cached:
        |    key: '${! this.u }'
        |    processors:
        |      - mapping: 'root.greet = "hi " + this.u'
        |""".stripMargin)
    assert(values(out) == Seq("""{"greet":"hi a"}""", """{"greet":"hi b"}""",
      """{"greet":"hi a"}"""))
  }

  test("command forks per message; subprocess streams through one child") {
    val in = envelope("alpha", "beta")
    val upper = apply(in, """- command: { name: tr, args: ["a-z", "A-Z"] }""")
    assert(values(upper) == Seq("ALPHA", "BETA"))

    val echoed = apply(in, """- subprocess: { name: cat }""")
    assert(values(echoed) == Seq("alpha", "beta"))
  }

  test("sql_raw runs Spark SQL over the stream view") {
    val in = envelope("x", "y")
    val out = apply(in,
      """- sql_raw: { query: "SELECT __seq, upper(value) AS value, metadata FROM stream" }""")
    assert(values(out) == Seq("X", "Y"))
  }

  test("sql_select enriches from a registered table") {
    import spark.implicits._
    Seq((1L, "us-east"), (2L, "eu-west")).toDF("site_id", "region")
      .createOrReplaceTempView("sites")
    val in = envelope("""{"site":1}""", """{"site":2}""")
    val out = apply(in,
      """- sql_select:
        |    table: sites
        |    key_column: site_id
        |    key: '${! this.site }'
        |    columns: [region]
        |""".stripMargin)
    val got = values(out)
    assert(got(0).contains(""""region":"us-east""""), got(0))
    assert(got(1).contains(""""region":"eu-west""""), got(1))
  }

  test("chat processors compile onto the batched pluggable client") {
    val in = envelope("""{"q":"hello"}""")
    val out = apply(in,
      """- openai_chat_completion: { prompt: 'answer: ${! this.q }' }""")
    assert(values(out).head.startsWith("echo:"), "deterministic echo client")
  }

  test("try_catch routes failures through catch with the error in metadata") {
    import spark.implicits._
    Seq(("0", "hit-value")).toDF("key", "value")
      .createOrReplaceTempView("cache_tc_cache")
    val in = envelope("""{"id":"0"}""", """{"id":"9"}""")
    val out = apply(in,
      """- try_catch:
        |    processors:
        |      - cache: { resource: tc_cache, operator: get, key: '${! this.id }' }
        |    catch:
        |      - mutation: 'root = "recovered: " + meta("error").parse_json().what'
        |""".stripMargin)
    val got = values(out).sorted
    assert(got.head == "hit-value", "the try side passes hits through")
    assert(got(1) == "recovered: cache miss",
      "the miss recovers via catch with @error.what from metadata")
    // the failure flag is CLEARED: no error column survivors
    assert(out.filter(col("error").isNotNull).count() == 0)
  }

  test("while re-applies children until the predicate clears") {
    val in = envelope("""{"n":1}""")
    val out = apply(in,
      """- while:
        |    check: 'this.n < 5'
        |    max_loops: 10
        |    processors:
        |      - mapping: 'root.n = this.n + 1'
        |""".stripMargin)
    assert(values(out) == Seq("""{"n":5}"""))
  }

  test("workflow composes branch stages in declared order") {
    val in = envelope("""{"base":2}""")
    val out = apply(in,
      """- workflow:
        |    order: [square, label]
        |    branches:
        |      square:
        |        request_map: 'root.x = this.base'
        |        processors:
        |          - mapping: 'root.x = this.x * this.x'
        |        result_map: 'root.sq = this.x'
        |      label:
        |        request_map: 'root.s = this.sq'
        |        processors:
        |          - mapping: 'root.s = "sq=" + this.s.string()'
        |        result_map: 'root.label = this.s'
        |""".stripMargin)
    // the default meta_path (meta.workflow) records the execution —
    // workflow.adoc:351-365
    assert(values(out) == Seq("""{"base":2,"label":"sq=4",""" +
      """"meta":{"workflow":{"failed":{},"skipped":[],""" +
      """"succeeded":["square","label"]}},"sq":4}"""))
  }

  test("workflow infers branch order from the mappings and records " +
       "failures without failing the message") {
    val in = envelope("""{"base":3}""")
    locally { // empty cache resource: boom's get("absent") errors the row
      import spark.implicits._
      Seq.empty[(String, String)].toDF("key", "value")
        .createOrReplaceTempView("cache_wf_missing")
    }
    // declared in REVERSE dependency order on purpose: label reads
    // this.sq which square's result_map assigns — inference must run
    // square first (workflow.adoc:100-105)
    val out = apply(in,
      """- workflow:
        |    branches:
        |      label:
        |        request_map: 'root.s = this.sq'
        |        processors:
        |          - mapping: 'root.s = "sq=" + this.s.string()'
        |        result_map: 'root.label = this.s'
        |      square:
        |        request_map: 'root.x = this.base'
        |        processors:
        |          - mapping: 'root.x = this.x * this.x'
        |        result_map: 'root.sq = this.x'
        |      boom:
        |        request_map: 'root.x = this.base'
        |        processors:
        |          - cache: { resource: wf_missing, operator: get, key: absent }
        |        result_map: 'root.never = this'
        |""".stripMargin)
    val doc = values(out).head
    assert(doc.contains(""""label":"sq=9""""))
    assert(doc.contains(""""succeeded":["square","label"]""") ||
           doc.contains(""""succeeded":["square","boom","label"]""") ||
           doc.contains("\"failed\":{\"boom\""),
      s"execution record missing: $doc")
    assert(doc.contains("\"boom\""), s"failed branch not recorded: $doc")
  }

  test("retry leaves healthy rows converged; environment-blocked names are explicit") {
    val in = envelope("""{"v":1}""")
    val out = apply(in,
      """- retry:
        |    max_retries: 2
        |    processors:
        |      - mapping: 'root.v = this.v'
        |""".stripMargin)
    assert(values(out) == Seq("""{"v":1}"""))

    val err = intercept[IllegalArgumentException] {
      apply(in, "- mongodb: { operation: find }")
    }
    assert(err.getMessage.contains("environment-blocked"))
  }

  test("jmespath replaces the doc with the path query result") {
    val in = envelope("""{"a":{"b":42}}""")
    assert(values(apply(in, "- jmespath: { query: 'a.b' }")) == Seq("42"))
  }

  test("wasm form loads the module from module_path") {
    val f = java.nio.file.Files.createTempFile("graft-wasm", ".wasm")
    try {
      java.nio.file.Files.write(f, graft.wasm.DemoModules.upperLen())
      val out = apply(envelope("abc", "x-7"),
        s"""- wasm:
           |    module_path: $f
           |""".stripMargin)
      assert(values(out) == Seq("ABC", "X-7"))
      assert(metaOf(out, "wasm_len") == Seq("3", "3"))
    } finally java.nio.file.Files.delete(f)
  }

  test("ffi form parses the signature and downcalls") {
    val lib = graft.operators.FfiDemo.ensureLib()
    val out = apply(envelope("abc"),
      s"""- ffi:
         |    library_path: $lib
         |    function_name: GraftReverseBytes
         |    args_mapping: 'root = [content(), content(), content().length()]'
         |    signature:
         |      return: { type: int32 }
         |      parameters:
         |        - type: byte*
         |        - { type: byte*, out: true }
         |        - type: int32
         |""".stripMargin)
    assert(values(out) == Seq("""[3,"cba"]"""))
  }

  test("redpanda_data_transform form runs the guest and re-derives order") {
    val f = java.nio.file.Files.createTempFile("graft-rdt", ".wasm")
    try {
      java.nio.file.Files.write(f, graft.wasm.TransformModules.filterRoute())
      val out = apply(envelope("keep", "#drop", "!route"),
        s"""- redpanda_data_transform:
           |    module_path: $f
           |""".stripMargin)
      val got = out.orderBy(col("value")).select("value").collect()
        .map(_.getString(0)).toSeq
      assert(got == Seq("!route", "keep"))
      assert(out.columns.contains("__seq"), "runner ordering column kept")
    } finally java.nio.file.Files.delete(f)
  }
}
