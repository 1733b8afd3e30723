package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Broker

/** A local file system under its own scheme: a non-`file:` path that
  * still lands on the local disk.
  */
class OtherSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("otherfs:///")
}

/** [[LocalCheckpointFileManager]] against Spark's checkpoint-manager
  * contract, and a streaming resume through it.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {
  import LocalCheckpointFileManager.ConfKey

  private def tmp(prefix: String): NioPath = Files.createTempDirectory(prefix)

  private def hp(f: NioPath): Path = new Path("file", null, f.toString)

  private def manager(dir: NioPath): CheckpointFileManager =
    new LocalCheckpointFileManager(hp(dir), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("create without overwrite onto an existing file throws and keeps the target") {
    val dir = tmp("lcfm_exists")
    val fm = manager(dir)
    val p = hp(dir.resolve("0"))
    write(fm, p, "first", overwrite = false)
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel()
    assert(read(fm, p) == "first")
    assert(names(dir) == Set("0"), "neither a temp file nor a .crc is left")
  }

  test("create with overwrite replaces the file") {
    val dir = tmp("lcfm_overwrite")
    val fm = manager(dir)
    val p = hp(dir.resolve("state"))
    write(fm, p, "old", overwrite = true)
    write(fm, p, "new", overwrite = true)
    assert(read(fm, p) == "new")
    assert(names(dir) == Set("state"))
  }

  test("cancel leaves neither the target nor a temp file") {
    val dir = tmp("lcfm_cancel")
    val fm = manager(dir)
    val p = hp(dir.resolve("1"))
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(!fm.exists(p))
    assert(names(dir).isEmpty)
  }

  test("list applies the filter and returns qualified paths; delete and mkdirs") {
    val dir = tmp("lcfm_list")
    val fm = manager(dir)
    Seq("0", "1", "2").foreach(n =>
      write(fm, hp(dir.resolve(n)), n, overwrite = false))
    val odd: PathFilter = (p: Path) => p.getName.toInt % 2 == 1
    val listed = fm.list(hp(dir), odd)
    assert(listed.map(_.getPath.getName).toSeq == Seq("1"))
    assert(listed.head.getPath.toUri.getScheme == "file")
    assert(listed.head.getLen == 1L)
    assert(fm.list(hp(dir)).map(_.getPath.getName).sorted.toSeq ==
      Seq("0", "1", "2"))
    val sub = hp(dir.resolve("a/b"))
    fm.mkdirs(sub)
    assert(fm.exists(sub))
    fm.delete(hp(dir.resolve("a")))
    assert(!fm.exists(sub))
    fm.delete(hp(dir.resolve("missing"))) // no-op
    assert(fm.isLocal)
  }

  test("a non-file: path is handed to Spark's manager") {
    val dir = tmp("lcfm_other")
    val conf = new Configuration()
    conf.set("fs.otherfs.impl", classOf[OtherSchemeFs].getName)
    conf.setBoolean("fs.otherfs.impl.disable.cache", true)
    val root = new Path("otherfs", null, dir.toString)
    val fm = new LocalCheckpointFileManager(root, conf)
    val p = new Path(root, "0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    assert(out.isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream],
      s"expected Spark's rename-based stream, got ${out.getClass}")
    out.write("x".getBytes(UTF_8))
    out.close()
    assert(read(fm, p) == "x")
    val local = manager(dir).createAtomic(hp(dir.resolve("1")), false)
    assert(!local.isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream])
    local.cancel()
  }

  test("install sets the manager once and keeps a value the user set") {
    val fresh = spark.newSession()
    LocalCheckpointFileManager.install(fresh)
    LocalCheckpointFileManager.install(fresh)
    assert(fresh.conf.get(ConfKey) == classOf[LocalCheckpointFileManager].getName)
    val user = spark.newSession()
    val theirs = "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileContextBasedCheckpointFileManager"
    user.conf.set(ConfKey, theirs)
    LocalCheckpointFileManager.install(user)
    assert(user.conf.get(ConfKey) == theirs)
  }

  test("runStream resumes from its checkpoint under the manager, leaving no side files") {
    val s = spark.newSession()
    s.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
    val broker = "lcfm_" + java.util.UUID.randomUUID.toString.replace("-", "")
    Broker.InMemory.named(broker).createTopic("t", 2)
    val transport = Broker.transportFor(s"mem://$broker")
    def append(ids: Range): Unit = ids.foreach { i =>
      transport.append("t", i % 2,
        Seq(Broker.Record(s"k$i".getBytes, s"""{"id":$i}""".getBytes)))
    }
    val ck = tmp("lcfm_ck")
    val out = tmp("lcfm_out")
    val config =
      s"""input:
         |  kafka:
         |    addresses: [ "mem://$broker" ]
         |    topics: [ t ]
         |pipeline:
         |  processors:
         |    - mapping: 'root.id = this.id'
         |output:
         |  parquet:
         |    path: "$out"
         |    checkpoint: "$ck"
         |""".stripMargin
    def ids(): Seq[Long] = s.read.parquet(out.toString)
      .select(get_json_object(col("value"), "$.id").cast("long"))
      .collect().map(_.getLong(0)).toSeq.sorted

    append(0 until 10)
    val q1 = graft.config.Pipeline.runStream(s, config)
    try q1.processAllAvailable() finally q1.stop()
    assert(ids() == (0L until 10L))
    append(10 until 25)
    val q2 = graft.config.Pipeline.runStream(s, config)
    try q2.processAllAvailable() finally q2.stop()
    assert(ids() == (0L until 25L),
      "the restart reads exactly the uncommitted tail, once")

    val files = Files.walk(ck).iterator().asScala.filter(Files.isRegularFile(_))
      .map(_.getFileName.toString).toSeq
    assert(files.exists(_ == "0"), s"commit and offset logs are written: $files")
    assert(!files.exists(f => f.endsWith(".crc") || f.endsWith(".tmp")),
      s"no checksum or temp files: $files")
  }
}
