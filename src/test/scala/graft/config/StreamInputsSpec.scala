package graft.config

import graft.SparkSpec
import graft.sources.{DynamoCdc, Jira, Mongo, SalesforceCdc, SpannerCdc, SpiceDb, Twitter}
import graft.sources.S3.Credentials

/** `Pipeline.runStream` through a config, once per stream input form
  * whose in-process fake the test tree has: each case seeds its fake,
  * runs the config into a memory table and counts the rows the first
  * micro-batches deliver. (generate, kafka, poll and discord run through
  * PipelineSpec, KafkaSpec and PollStreamSpec.)
  */
class StreamInputsSpec extends SparkSpec {

  private def uid() = java.util.UUID.randomUUID.toString.replace("-", "")

  /** One form: its seeded `input:` block, the rows it holds, and the
    * teardown of its fake.
    */
  private final case class Form(input: String, rows: Long, stop: () => Unit)

  private val forms: Seq[(String, () => Form)] = Seq(
    "jira (mem:// client)" -> { () =>
      val name = "jira_" + uid()
      Jira.registerClient(name, Jira.InMemoryServer.Transport((0 until 4).map(k =>
        Jira.InMemoryServer.Issue(f"STR-$k%03d", "P", 1700000000000L, "s"))))
      Form(s"""jira:
              |    base_url: mem://$name
              |    auth: { email: bot@x.test, api_token: tok }""".stripMargin,
        4, () => ())
    },
    "twitter_search (mem:// client)" -> { () =>
      val name = "tw_" + uid()
      Twitter.registerClient(name, Twitter.InMemoryServer.Transport(
        (0 until 3).map(i => Twitter.InMemoryServer.Tweet(7000L + i, s"t$i"))))
      Form(s"""twitter_search:
              |    query: graft
              |    api_key: k
              |    api_secret: s
              |    base_url: mem://$name""".stripMargin, 3, () => ())
    },
    "mongodb_cdc" -> { () =>
      val name = "mcdc_" + uid()
      Mongo.named(name).seed("db", "t",
        Seq("""{"_id":1,"v":"a"}""", """{"_id":2,"v":"b"}"""))
      Form(s"""mongodb_cdc:
              |    url: mem://$name
              |    database: db
              |    collections: [ t ]""".stripMargin, 2, () => Mongo.drop(name))
    },
    "aws_dynamodb_cdc" -> { () =>
      val name = "dcdc_" + uid()
      val srv = DynamoCdc.register(name, Credentials("AKS", "SKS"))
      srv.seed("""{"N":"1"}""", Map("k" -> 1L, "v" -> "one"))
      srv.seed("""{"N":"2"}""", Map("k" -> 2L, "v" -> "two"))
      Form(s"""aws_dynamodb_cdc:
              |    endpoint: mem://$name
              |    credentials: { id: AKS, secret: SKS }
              |    table: t""".stripMargin, 2, () => DynamoCdc.drop(name))
    },
    "gcp_spanner_cdc" -> { () =>
      val srv = new SpannerCdc.Server()
      val db = "projects/p/instances/i/databases/d"
      val r = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"${srv.baseUrl}/v1/$db/sessions/s:commit"))
          .header("Authorization", "Bearer spanner-token")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            """{"mutations":[{"insertOrUpdate":{"table":"t",""" +
              """"columns":["k","v"],"values":[["1","a"]]}}]}""")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      Form(s"""gcp_spanner_cdc:
              |    endpoint: ${srv.baseUrl}
              |    database: $db
              |    stream_name: s""".stripMargin, 1, () => srv.stop())
    },
    "salesforce_cdc" -> { () =>
      val srv = new SalesforceCdc.Server(
        SalesforceCdc.Auth("tok", "https://i", "tid"))
      srv.registerSchema("s1",
        """{"type":"record","name":"E","fields":[
          |{"name":"ChangeEventHeader","type":{"type":"record",
          |"name":"H","fields":[{"name":"entityName","type":"string"},
          |{"name":"changeType","type":"string"},
          |{"name":"recordIds","type":{"type":"array","items":"string"}}]}},
          |{"name":"V__c","type":"string"}]}""".stripMargin)
      srv.publish("/data/E", "s1", "E__c", "CREATE", "r1", """{"V__c":"a"}""")
      srv.publish("/data/E", "s1", "E__c", "UPDATE", "r1", """{"V__c":"b"}""")
      Form(s"""salesforce_cdc:
              |    host: 127.0.0.1
              |    port: ${srv.port}
              |    access_token: tok
              |    instance_url: https://i
              |    tenant_id: tid
              |    topic: /data/E""".stripMargin, 2, () => srv.stop())
    },
    "spicedb_watch" -> { () =>
      val srv = new SpiceDb.Server("z-token")
      srv.publish("TOUCH", "doc", "d1", "viewer", "user", "u1")
      srv.publish("TOUCH", "doc", "d2", "viewer", "user", "u1")
      srv.publish("DELETE", "doc", "d1", "viewer", "user", "u1")
      Form(s"""spicedb_watch:
              |    host: 127.0.0.1
              |    port: ${srv.port}
              |    bearer_token: z-token
              |    start_cursor: zed-0""".stripMargin, 3, () => srv.stop())
    },
    "file (csv tail)" -> { () =>
      val dir = java.nio.file.Files.createTempDirectory("stream_csv")
      java.nio.file.Files.writeString(dir.resolve("part-0.csv"),
        "a,b\nx,1\ny,2\nz,3\n")
      Form(s"""file:
              |    path: $dir
              |    format: csv
              |    schema: 'a STRING, b INT'""".stripMargin, 3, () => ())
    })

  forms.foreach { case (label, setup) =>
    test(s"runStream reads the $label stream form through a config") {
      val form = setup()
      val table = "stream_form_" + uid().take(12)
      try {
        val q = Pipeline.runStream(spark,
          s"""input:
             |  ${form.input}
             |pipeline:
             |  processors: []
             |output:
             |  memory: { name: $table }
             |""".stripMargin)
        try {
          q.processAllAvailable()
          assert(spark.table(table).count() == form.rows)
        } finally q.stop()
      } finally form.stop()
    }
  }
}
