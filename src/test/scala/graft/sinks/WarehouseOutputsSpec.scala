package graft.sinks

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

import graft.sources.AzureBlob.Account
import graft.sources.S3.Credentials
import graft.SparkSpec

/** The round-11 output quartet: opensearch (bulk + SigV4),
  * azure_table_storage (Table Shared Key + insert types),
  * azure_data_lake_gen2 (create/append/flush commit protocol),
  * snowflake_put (key-pair JWT + stage files + Snowpipe insertFiles).
  */
class WarehouseOutputsSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private def uid() = java.util.UUID.randomUUID.toString.replace("-", "")

  // ───────────────────────── opensearch ─────────────────────────

  test("opensearch: SigV4-signed bulk lands docs; wrong secret rejected") {
    val name = "os_" + uid()
    val creds = Credentials("AKOS", "SKOS")
    val srv = OpenSearch.register(name, creds)
    val df = (1 to 20).map(i => (i.toString, s"""{"n":$i}""")).toDF("id", "value")
    OpenSearch.bulkWrite(df, s"mem://$name", lit("docs"), lit("index"),
      col("id"), creds = Some(creds))
    assert(srv.es.rows("docs").size == 20)
    intercept[IllegalStateException] {
      OpenSearch.bulkWrite(df, s"mem://$name", lit("docs"), lit("index"),
        col("id"), creds = Some(Credentials("AKOS", "WRONG")))
    }
    assert(srv.rejected > 0)
    OpenSearch.drop(name)
  }

  test("opensearch output config: aws.enabled signs the bulk requests") {
    val name = "os_" + uid()
    val srv = OpenSearch.register(name, Credentials("AKOS", "SKOS"))
    try {
      graft.config.Pipeline.run(spark,
        s"""input:
           |  generate: { count: 5, mapping: 'root.id = this.seq' }
           |output:
           |  opensearch:
           |    urls: [ "mem://$name" ]
           |    index: docs
           |    action: index
           |    id: '$${! this.id }'
           |    aws:
           |      enabled: true
           |      region: us-east-1
           |      credentials: { id: AKOS, secret: SKOS }
           |""".stripMargin)
      assert(srv.es.rows("docs").size == 5)
      assert(srv.rejected == 0)
    } finally OpenSearch.drop(name)
  }

  // ────────────────────── azure_table_storage ──────────────────────

  test("azure tables: INSERT conflicts, INSERT_REPLACE and INSERT_MERGE differ") {
    val name = "at_" + uid()
    val acct = Account("acct1",
      java.util.Base64.getEncoder.encodeToString("table-key".getBytes))
    val srv = AzureTables.register(name, acct)
    val cl = new AzureTables.Client(s"mem://$name", acct)
    cl.insert("t", """{"PartitionKey":"p","RowKey":"1","a":1,"b":"x"}""")
    intercept[IllegalStateException] { // INSERT on existing → 409
      cl.insert("t", """{"PartitionKey":"p","RowKey":"1","a":2}""")
    }
    // MERGE keeps unmentioned properties; REPLACE drops them
    cl.insertOrMerge("t", "p", "1", """{"PartitionKey":"p","RowKey":"1","a":9}""")
    val merged = mapper.readTree(srv.tables("t")(("p", "1")).toString)
    assert(merged.get("a").asInt == 9 && merged.get("b").asText == "x")
    cl.insertOrReplace("t", "p", "1", """{"PartitionKey":"p","RowKey":"1","a":7}""")
    val replaced = mapper.readTree(srv.tables("t")(("p", "1")).toString)
    assert(replaced.get("a").asInt == 7 && !replaced.has("b"))
    AzureTables.drop(name)
  }

  test("azure tables: dataframe write + query round trip, bad key rejected") {
    val name = "at_" + uid()
    val acct = Account("acct1",
      java.util.Base64.getEncoder.encodeToString("table-key".getBytes))
    val srv = AzureTables.register(name, acct)
    val df = (1 to 30).map(i => (s"pk${i % 3}", i.toString, s"""{"n":$i}"""))
      .toDF("pk", "rk", "value")
    AzureTables.write(df, s"mem://$name", acct, "docs",
      col("pk"), col("rk"), insertType = "INSERT_REPLACE")
    val got = new AzureTables.Client(s"mem://$name", acct).query("docs")
    assert(got.size == 30)
    assert(got.map(mapper.readTree(_).get("n").asInt).sorted == (1 to 30))
    val bad = Account("acct1",
      java.util.Base64.getEncoder.encodeToString("wrong".getBytes))
    intercept[IllegalStateException] {
      new AzureTables.Client(s"mem://$name", bad).query("docs")
    }
    assert(srv.rejected > 0)
    AzureTables.drop(name)
  }

  // ───────────────────── azure_data_lake_gen2 ─────────────────────

  test("adls gen2: append stays invisible until flush; wrong position fails") {
    val name = "dl_" + uid()
    val acct = Account("acct2",
      java.util.Base64.getEncoder.encodeToString("dfs-key".getBytes))
    val srv = AzureDataLake.register(name, acct)
    val cl = new AzureDataLake.Client(s"mem://$name", acct)
    cl.createFile("fs", "dir/a.txt")
    cl.append("fs", "dir/a.txt", "hello ".getBytes, 0L)
    cl.append("fs", "dir/a.txt", "world".getBytes, 6L)
    // uncommitted: reader sees an empty file
    assert(srv.committedBytes("fs", "dir/a.txt").get.isEmpty)
    intercept[IllegalStateException] { // wrong flush position
      cl.flush("fs", "dir/a.txt", 99L)
    }
    cl.flush("fs", "dir/a.txt", 11L)
    assert(new String(cl.readFile("fs", "dir/a.txt")) == "hello world")
    AzureDataLake.drop(name)
  }

  test("adls gen2: dataframe write groups rows into per-path files") {
    val name = "dl_" + uid()
    val acct = Account("acct2",
      java.util.Base64.getEncoder.encodeToString("dfs-key".getBytes))
    AzureDataLake.register(name, acct)
    val df = (1 to 40).map(i => (s"out/part${i % 2}", s"""{"i":$i}"""))
      .toDF("path", "value")
    AzureDataLake.write(df, s"mem://$name", acct, "lake",
      col("path"), col("value"))
    val cl = new AzureDataLake.Client(s"mem://$name", acct)
    val paths = cl.listPaths("lake")
    assert(paths.forall(p => p.startsWith("out/part0/") ||
      p.startsWith("out/part1/")))
    val all = paths.flatMap(p => new String(cl.readFile("lake", p))
      .split("\n").filter(_.nonEmpty))
    assert(all.map(mapper.readTree(_).get("i").asInt).sorted == (1 to 40))
    AzureDataLake.drop(name)
  }

  // ─────────────────────── snowflake_put ───────────────────────

  test("snowflake_put: JWT verified, gzip stage files, insertFiles lists them") {
    val name = "sf_" + uid()
    val kp = SnowflakePut.generateKeyPair()
    val srv = SnowflakePut.register(name, "myacct", "loader", kp.getPublic)
    val creds = SnowflakePut.Creds("myacct", "loader", kp)
    val df = (1 to 50).map(i => s"""{"i":$i}""").toDF("value")
      .withColumn("path", lit("2024/01"))
    SnowflakePut.write(df, s"mem://$name", creds, "mystage",
      col("path"), col("value"), compression = "GZIP",
      pipe = Some("db.schema.mypipe"))
    val rows = srv.rows("mystage")
    assert(rows.size == 50)
    assert(rows.map(mapper.readTree(_).get("i").asInt).sorted == (1 to 50))
    val loadedFiles = srv.loaded("db.schema.mypipe")
    assert(loadedFiles.nonEmpty && loadedFiles.forall(f =>
      f.startsWith("2024/01/graft_") && f.endsWith(".json.gz")))
    // every insertFiles path exists in the stage
    assert(loadedFiles.toSet == srv.staged.keys.map(_._2).toSet)
    SnowflakePut.drop(name)
  }

  test("snowflake_put: wrong key pair and expired JWTs are rejected") {
    val name = "sf_" + uid()
    val kp = SnowflakePut.generateKeyPair()
    val srv = SnowflakePut.register(name, "myacct", "loader", kp.getPublic)
    val wrong = SnowflakePut.Creds("myacct", "loader",
      SnowflakePut.generateKeyPair())
    intercept[Exception] { // IllegalState wrapped in SparkException
      SnowflakePut.write(Seq("x").toDF("value"), s"mem://$name", wrong,
        "st", lit("p"))
    }
    assert(srv.rejected > 0)
    // expired token rejected by the verifier directly
    val stale = SnowflakePut.Jwt.issue("myacct", "loader", kp,
      nowSec = 1000L, ttlSec = 10L)
    assert(SnowflakePut.Jwt.verify(stale, kp.getPublic, "myacct", "loader")
      == Left("expired"))
    SnowflakePut.drop(name)
  }
}
