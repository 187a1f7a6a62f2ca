package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The `CheckpointFileManager` graft's streams write their checkpoints
  * through: the same files as Spark's default manager, without a child
  * process per file.
  *
  * Without libhadoop, Hadoop's local filesystem sets each new file's
  * mode by forking `chmod`, and every `FileContext` rename (Spark's
  * default manager renames through `FileContext`) forks `readlink`
  * four times. An atomic checkpoint file then costs about ten child
  * processes, and a micro-batch of a stateful stream writes ten such
  * files (offsets, commits, a state delta and a state checksum per
  * state partition).
  *
  *  - A `file:` checkpoint gets Spark's own
  *    [[FileSystemBasedCheckpointFileManager]] over a private Hadoop
  *    `LocalFileSystem` whose raw layer sets mode bits in-process
  *    ([[InProcessChmod]]). File creates fork no `chmod`, and renames go
  *    through `FileSystem.rename`, which forks no `readlink`.
  *  - Every other checkpoint (HDFS, object stores) gets exactly the
  *    manager Spark's `CheckpointFileManager.create` returns when
  *    `spark.sql.streaming.checkpointFileManagerClass` is unset.
  *
  * The files are the same either way: data files, Hadoop's `.crc`
  * sidecars, Spark's state checksum files, the same mode bits, and
  * write-to-temp-then-rename for atomicity. A checkpoint written under
  * Spark's default manager resumes under this one and the other way
  * round. [[Streaming.localCheckpoints]] installs it.
  */
class LocalCheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {
  import LocalCheckpointFiles._

  private[graft] val delegate: CheckpointFileManager =
    if (isLocalFile(path, conf)) new OnLocalFs(path, conf)
    else CheckpointFileManager.create(path, withoutManagerClass(conf))

  override def createAtomic(
      p: Path,
      overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFiles {

  /** The session key Spark reads the checkpoint manager class from. */
  val ManagerClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** `path` is a `file:` path (a path without a scheme takes the
    * default filesystem's).
    */
  private def isLocalFile(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** A copy of `conf` under which `CheckpointFileManager.create` picks
    * Spark's default manager.
    */
  private def withoutManagerClass(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    c.unset(ManagerClassKey)
    c
  }

  /** Spark's FileSystem-based manager, over a checksummed local
    * filesystem of its own (never Hadoop's shared FileSystem cache).
    */
  private final class OnLocalFs(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new InProcessChmod)
      local.setConf(conf)
      local.initialize(URI.create("file:///"), conf)
      local
    }
  }

  /** The nine rwx bits of `mode`, in `PosixFilePermission` order. */
  private def posixBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (1 << (8 - i))) != 0) bits.add(b)
    }
    bits
  }

  /** Hadoop's raw local filesystem, setting mode bits through
    * `java.nio` instead of a forked `chmod`: the same bits (the caller
    * has already applied the umask). A sticky bit, which `java.nio`
    * cannot set, and a filesystem without POSIX permissions take
    * Hadoop's own path.
    */
  private final class InProcessChmod extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posixBits(permission.toShort))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
