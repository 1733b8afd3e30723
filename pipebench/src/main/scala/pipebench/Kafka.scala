package pipebench

import graft.sources.{Broker, KafkaWire}

/** The in-process broker both Kafka workloads drive over real TCP, and
  * the benchmark's own producer and reader on it.
  */
final class Kafka(partitions: Int) extends AutoCloseable {
  // ~1 MB per partition fetch at 1 KB records, Kafka's default
  // max.partition.fetch.bytes
  val server = new KafkaWire.Server(maxFetchRecords = 1000)
  val address = s"kafka://127.0.0.1:${server.port}"
  /** The generator's single producer connection. */
  private val producer = new KafkaWire.Client("127.0.0.1", server.port,
    clientId = "pipebench-gen")
  private val reader = new KafkaWire.Client("127.0.0.1", server.port,
    clientId = "pipebench-check")

  def createTopic(topic: String): Unit = server.createTopic(topic, partitions)

  /** Append one partition's records in order; returns the first offset. */
  def produce(topic: String, partition: Int,
              records: Seq[(String, String, Long)]): Long =
    producer.append(topic, partition, records.map { case (k, v, ts) =>
      Broker.Record(k.getBytes("UTF-8"), v.getBytes("UTF-8"), Map.empty, ts)
    })

  /** Every record of a topic as (key, value). */
  def readAll(topic: String): Seq[(String, String)] =
    (0 until reader.partitionCount(topic)).flatMap { p =>
      reader.fetch(topic, p, 0L, reader.endOffset(topic, p)).map { r =>
        (if (r.key == null) null else new String(r.key, "UTF-8"),
          if (r.value == null) null else new String(r.value, "UTF-8"))
      }.toSeq
    }

  def close(): Unit = {
    producer.close()
    reader.close()
    KafkaWire.dropClient(s"127.0.0.1:${server.port}")
    server.stop()
  }
}
