package graft.stream

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Checkpoint file I/O that starts no process for `file:` paths.
  *
  * Without the native Hadoop library, Spark's default checkpoint manager
  * (`FileContextBasedCheckpointFileManager`) forks a `chmod` for every
  * file it creates and several `readlink`s for every rename (Hadoop's
  * `Shell.runCommand`), on the offset and commit logs and on every state
  * store delta, snapshot and RocksDB upload. [[ForkFreeCheckpointFileManager]]
  * keeps Spark's `FileSystemBasedCheckpointFileManager` logic (write a temp
  * file, then `rename(2)` it, atomic on one local disk) over a checksummed
  * `LocalFileSystem` whose only change is an in-process `chmod(2)`. So the
  * `.crc` files are still written and verified on read. Any other scheme
  * gets exactly the manager Spark would have chosen.
  *
  * The manager class is a session conf read when a streaming query
  * starts; [[install]] sets it on a session that has no value for it, so
  * a manager the user chose is never displaced. */
object CheckpointFiles {

  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  val ManagerClass: String = classOf[ForkFreeCheckpointFileManager].getName

  /** Make [[ForkFreeCheckpointFileManager]] the checkpoint manager of every
    * streaming query `spark` starts from now on, unless the session
    * already names one. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty) spark.conf.set(ConfKey, ManagerClass)

  /** The checkpoint manager queries started on `spark` now will use. */
  def effective(spark: SparkSession): String =
    spark.conf.getOption(ConfKey)
      .getOrElse("<Spark default: FileContextBasedCheckpointFileManager>")

  private[stream] def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Spark's own choice for `path`, built by `CheckpointFileManager.create`
    * from a copy of `conf` that names no manager class. */
  private[stream] def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val plain = new Configuration(conf)
    plain.unset(ConfKey)
    CheckpointFileManager.create(path, plain)
  }

  /** `RawLocalFileSystem` whose `setPermission` is `chmod(2)` through NIO,
    * with the same permission bits, instead of a forked `chmod`. A sticky
    * bit, which NIO cannot set, keeps Hadoop's own path. */
  private[stream] final class InProcessChmodFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val bits = permission.toShort
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // PosixFilePermission lists owner rwx, group rwx, others rwx: bit 8 down to 0
        PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
          if ((bits & (1 << (8 - i))) != 0) perms.add(perm)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
  }

  @volatile private var shared: LocalFileSystem = _

  /** One checksummed `LocalFileSystem` over [[InProcessChmodFileSystem]],
    * configured by its first caller's conf, as Hadoop's own `FileSystem`
    * cache shares one instance per scheme and user. */
  private[stream] def localFs(conf: Configuration): LocalFileSystem = {
    if (shared == null) synchronized {
      if (shared == null) {
        val fs = new LocalFileSystem(new InProcessChmodFileSystem)
        fs.initialize(java.net.URI.create("file:///"), conf)
        shared = fs
      }
    }
    shared
  }

  /** Spark's `FileSystemBasedCheckpointFileManager` on [[localFs]]. */
  private[stream] final class OnLocalFs(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = localFs(conf)
  }
}

/** The checkpoint manager [[CheckpointFiles.install]] names: fork-free
  * rename-based I/O for `file:` paths, Spark's default for any other. */
class ForkFreeCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import CheckpointFileManager.CancellableFSDataOutputStream

  /** The manager this one hands every call to. */
  val delegate: CheckpointFileManager =
    if (CheckpointFiles.isLocal(path, hadoopConf)) new CheckpointFiles.OnLocalFs(path, hadoopConf)
    else CheckpointFiles.sparkDefault(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}
