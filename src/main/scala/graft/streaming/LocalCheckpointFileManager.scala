package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of every graft session: offset and commit
  * logs, state-store deltas and snapshots, sink metadata.
  *
  * Spark's default for `file:` paths is the FileContext-based manager. On
  * a JVM without Hadoop's native library, Hadoop's local file system falls
  * back to forking shell commands: `chmod` for each file and directory it
  * creates with a permission (`RawLocalFileSystem.setPermission`) and
  * `readlink` for each FileContext rename (`getFileLinkStatus`). One
  * state-store delta cost 12 forks, so a micro-batch's fixed cost was
  * spent starting processes.
  *
  * For `file:` paths this manager keeps Spark's FileSystem-based protocol
  * (write a temp file, rename it into place; with `overwriteIfPossible =
  * false` an existing target fails with `FileAlreadyExistsException`)
  * over Hadoop's checksummed [[LocalFileSystem]], so `.crc` sidecars are
  * still written and verified. Only its raw layer differs: permissions
  * are set through `java.nio` ([[NioRawLocalFileSystem]]), and the
  * FileSystem rename reads no links. Any other scheme gets exactly the
  * manager Spark would have built. Installed by
  * `graft.plans.GraftViewExtensions` under Spark's own key
  * [[LocalCheckpointFileManager.ConfKey]], unless the session sets it.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[graft] val delegate: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") {
      conf.setClass("fs.file.impl", classOf[NioLocalFileSystem], classOf[FileSystem])
      // the FileSystem cache is keyed by scheme, not by implementation
      conf.setBoolean("fs.file.impl.disable.cache", true)
      new FileSystemBasedCheckpointFileManager(path, conf)
    } else {
      conf.unset(ConfKey)
      CheckpointFileManager.create(path, conf)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  /** Spark's key for the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make this manager the default of `hadoopConf`; a value already set
    * (`spark.hadoop.*`, or an earlier install) wins, and a session's SQL
    * conf overrides it in every Hadoop conf the session derives. */
  def install(hadoopConf: Configuration): Unit =
    hadoopConf.setIfUnset(ConfKey, classOf[LocalCheckpointFileManager].getName)

  /** Hadoop's checksummed local file system over [[NioRawLocalFileSystem]]. */
  class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

  /** Hadoop's raw local file system, setting permissions in process. The
    * sticky bit is dropped: POSIX file attributes cannot carry it, and no
    * checkpoint file uses it. */
  class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ … OTHERS_EXECUTE, i.e. mode bits 8 … 0
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((bits & (1 << (8 - i))) != 0) perms.add(perm)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }
}
