package graft.serverless

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.config.{Pipeline, Processors}
import graft.operators.Http

/** The serverless entry point (reference:
  * cmd/serverless/connect-lambda/main.go + internal/serverless/
  * handler.go + internal/impl/aws/lambda.go): a pipeline runs once per
  * INVOCATION — the Lambda event is the input message, the processors
  * transform it, and the default output routes errored messages to
  * `reject` (→ the invocation errors) and everything else to
  * `sync_response` (→ the invocation's return value). An explicit
  * `output` in the config is honored instead, exactly like the
  * reference's schema-default mechanism (handler.go:36-60).
  */
object Lambda {

  private val yaml = new ObjectMapper(new YAMLFactory())
  private val json = new ObjectMapper()

  /** handler.go's defaulted output: errored() → reject with the error,
    * else sync_response (handler.go:43-60, verbatim semantics).
    */
  private val defaultOutputYaml =
    """switch:
      |  cases:
      |    - check: errored()
      |      output:
      |        reject: "processing failed due to: ${! error() }"
      |    - output:
      |        sync_response: {}
      |""".stripMargin

  private val envelopeSchema = StructType(Seq(
    StructField("value", StringType),
    StructField("metadata", MapType(StringType, StringType)),
    StructField("error", StringType),
    StructField("__seq", LongType, nullable = false)))

  /** One pipeline instance serving many invocations (the reference
    * builds the stream once in NewHandler and feeds it per event).
    * Config needs no `input` (the event IS the input) and no `output`
    * (defaulted as above).
    */
  final class Handler(spark: SparkSession, configYaml: String,
                      env: Map[String, String] = Map.empty) {
    private val root = yaml.readTree(
      if (configYaml == null || configYaml.trim.isEmpty) "{}"
      else configYaml)
    require(!root.has("input"),
      "serverless config: the Lambda event is the input — remove `input`")
    private val procs = Option(root.at("/pipeline/processors"))
      .filterNot(_.isMissingNode)
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    private val output = Option(root.get("output"))
      .getOrElse(yaml.readTree(defaultOutputYaml))
    locally {
      Pipeline.registerCaches(spark,
        Option(root.get("cache_resources"))
          .map(_.elements().asScala.toSeq).getOrElse(Seq.empty))
    }

    /** Handle one invocation: the event JSON becomes a one-message
      * batch, the sync_response store collects the reply
      * (handler.go:99-133 result shaping: 1×1 → the value itself, one
      * batch → array, several batches → array of arrays).
      */
    def handle(eventJson: String): Either[String, String] =
      try {
        val one = spark.createDataFrame(
          java.util.List.of[Row](
            Row(eventJson, Map.empty[String, String], null, 0L)),
          envelopeSchema)
        val processed = procs.foldLeft(one: DataFrame)((df, p) =>
          Processors.compile(p, env)(df))
        val (_, batches) = Pipeline.SyncResponse.collect {
          Pipeline.writeOutput(processed, output)
        }
        val result: com.fasterxml.jackson.databind.JsonNode = {
          def batchNode(b: Seq[String]) = {
            val arr = json.createArrayNode()
            b.foreach(v => arr.add(
              if (v == null) json.nullNode()
              else json.readTree(v)))
            arr
          }
          batches match {
            case Seq(b) if b.size == 1 =>
              if (b.head == null) json.nullNode() else json.readTree(b.head)
            case Seq(b) => batchNode(b)
            case bs =>
              val arr = json.createArrayNode()
              bs.foreach(b => arr.add(batchNode(b)))
              arr
          }
        }
        Right(json.writeValueAsString(result))
      } catch {
        case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
      }
  }

  /** The AWS Lambda custom-runtime loop (the public runtime-interface
    * contract lambda.Start implements): poll
    * GET /2018-06-01/runtime/invocation/next on AWS_LAMBDA_RUNTIME_API,
    * handle, POST the result to .../response (or .../error). Bounded by
    * `maxInvocations` for in-process tests; the real runtime loops
    * until the sandbox freezes it.
    */
  def runLoop(api: String, handler: Handler,
              maxInvocations: Long = Long.MaxValue): Long = {
    val client = Http.javaClient(timeoutMs = 900000, retries = 1)
    val base = s"http://$api/2018-06-01/runtime/invocation"
    var served = 0L
    var continue = true
    while (continue && served < maxInvocations) {
      val next = client(Seq(Http.Request(s"$base/next", "GET",
        Map.empty, ""))).head
      if (next.status == 204 || next.status >= 500) continue = false
      else {
        val id = next.headers.getOrElse("lambda-runtime-aws-request-id",
          throw new IllegalStateException(
            "runtime api: no Lambda-Runtime-Aws-Request-Id header"))
        handler.handle(next.body) match {
          case Right(result) =>
            client(Seq(Http.Request(s"$base/$id/response", "POST",
              Map("Content-Type" -> "application/json"), result)))
          case Left(err) =>
            client(Seq(Http.Request(s"$base/$id/error", "POST",
              Map("Content-Type" -> "application/json"),
              json.writeValueAsString(json.createObjectNode()
                .put("errorMessage", err)
                .put("errorType", "Runtime.HandlerError")))))
        }
        served += 1
      }
    }
    served
  }

  /** Config resolution order per RunLambda (lambda.go:33-71):
    * CONNECT_CONFIG / BENTHOS_CONFIG inline, else the *_CONFIG_PATH
    * files, else the default path list.
    */
  def resolveConfig(env: Map[String, String] = sys.env): String = {
    val inline = env.get("CONNECT_CONFIG").orElse(env.get("BENTHOS_CONFIG"))
      .filter(_.nonEmpty)
    inline.getOrElse {
      val paths =
        env.get("CONNECT_CONFIG_PATH").toSeq ++
          env.get("BENTHOS_CONFIG_PATH").toSeq ++ Seq(
          "./redpanda-connect.yaml", "/redpanda-connect.yaml",
          "/etc/redpanda-connect/config.yaml", "/etc/redpanda-connect.yaml",
          "./connect.yaml", "/connect.yaml",
          "/etc/connect/config.yaml", "/etc/connect.yaml",
          "./benthos.yaml", "./config.yaml", "/benthos.yaml",
          "/etc/benthos/config.yaml", "/etc/benthos.yaml")
      paths.collectFirst {
        case p if java.nio.file.Files.isReadable(
          java.nio.file.Paths.get(p)) =>
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(p)), "UTF-8")
      }.getOrElse("")
    }
  }

  def main(args: Array[String]): Unit = {
    val api = sys.env.getOrElse("AWS_LAMBDA_RUNTIME_API",
      throw new IllegalStateException("AWS_LAMBDA_RUNTIME_API not set"))
    val spark = graft.LocalSession()
    val handler = new Handler(spark, resolveConfig())
    runLoop(api, handler)
    spark.stop()
  }
}
