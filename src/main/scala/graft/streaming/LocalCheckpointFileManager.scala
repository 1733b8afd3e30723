package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.{Path => NioPath}
import java.util.{Comparator, UUID}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint files on a local disk through `java.nio`.
  *
  * Spark's own managers go through Hadoop's local file system, which
  * without the native Hadoop library forks a `chmod` per created file
  * and a `readlink` per path a `FileContext` rename resolves: about ten
  * processes per micro-batch for the offset and commit logs alone. This
  * manager makes the same writes with plain file-system calls:
  *
  *   - `createAtomic` writes a temp sibling and makes it visible in one
  *     step: an atomic rename when overwriting, else a hard link, which
  *     fails when the target exists. That failure surfaces as Hadoop's
  *     [[FileAlreadyExistsException]], which `HDFSMetadataLog.write`
  *     reads as "another query wrote this batch";
  *   - `cancel` removes the temp file; no `.crc` side files are written;
  *   - `open` reads through Hadoop's raw local file system.
  *
  * A path on any other file system is handed to the manager Spark would
  * have picked. [[LocalCheckpointFileManager.install]] selects this class
  * for a session unless one is already configured.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val files: CheckpointFileManager =
    if (onLocalDisk(path, hadoopConf)) new NioFiles(path, hadoopConf)
    else sparkManager(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    files.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = files.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = files.list(p, filter)
  override def mkdirs(p: Path): Unit = files.mkdirs(p)
  override def exists(p: Path): Boolean = files.exists(p)
  override def delete(p: Path): Unit = files.delete(p)
  override def isLocal: Boolean = files.isLocal
  override def createCheckpointDirectory(): Path = files.createCheckpointDirectory()
  override def close(): Unit = files.close()
}

object LocalCheckpointFileManager {

  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Selects this manager for the session's future streaming queries,
    * unless a manager class is already set. Idempotent.
    */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  private def onLocalDisk(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The manager Spark chooses when no class is configured. */
  private def sparkManager(p: Path, conf: Configuration): CheckpointFileManager = {
    val c = new Configuration(conf)
    c.unset(ConfKey)
    CheckpointFileManager.create(p, c)
  }

  private final class NioFiles(root: Path, conf: Configuration)
      extends CheckpointFileManager {
    private lazy val raw = FileSystem.getLocal(conf).getRaw

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = nio(p)
      Files.createDirectories(target.getParent)
      new AtomicOutput(
        target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp"),
        target, overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream = raw.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val children =
        try Files.list(nio(p))
        catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }
      try children.iterator().asScala
        .filter(c => filter.accept(qualified(c)))
        .flatMap(status).toArray
      finally children.close()
    }

    override def mkdirs(p: Path): Unit = { Files.createDirectories(nio(p)); () }

    override def exists(p: Path): Boolean = Files.exists(nio(p))

    override def delete(p: Path): Unit = {
      val target = nio(p)
      if (Files.exists(target)) {
        val all = Files.walk(target)
        try all.sorted(Comparator.reverseOrder[NioPath]())
          .forEach(f => { Files.deleteIfExists(f); () })
        finally all.close()
      }
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      qualified(nio(root))
    }

    /** None when the entry vanished after it was listed. */
    private def status(f: NioPath): Option[FileStatus] =
      try {
        val a = Files.readAttributes(f,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        Some(new FileStatus(a.size, a.isDirectory, 1, 0L,
          a.lastModifiedTime.toMillis, qualified(f)))
      } catch { case _: NoSuchFileException => None }
  }

  private def nio(p: Path): NioPath = Paths.get(p.toUri.getPath)

  private def qualified(f: NioPath): Path =
    new Path("file", null, f.toAbsolutePath.toString)

  /** Written to `temp`; `close` publishes it as `target`. */
  private final class AtomicOutput(temp: NioPath, target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          if (overwrite) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          else
            try Files.createLink(target, temp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
        } finally { Files.deleteIfExists(temp); () }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close()
        finally { Files.deleteIfExists(temp); () }
      }
    }
  }
}
