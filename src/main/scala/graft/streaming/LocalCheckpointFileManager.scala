package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem,
  LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.{
  CancellableFSDataOutputStream, RenameHelperMethods}

/** Checkpoint file manager that writes `file:` checkpoints without starting
  * a process. Without libhadoop, Hadoop's `RawLocalFileSystem` runs a
  * `chmod` for every file and directory it creates, and Spark's default
  * `FileContext` manager adds four `readlink` runs per rename — ~240
  * subprocesses per stateful streaming query, most of them inside
  * state-store commits. Here `file:` paths get Spark's
  * `FileSystemBasedCheckpointFileManager` over a private `LocalFileSystem`
  * whose `setPermission` sets the same 9 mode bits through `java.nio`.
  * Files, `.crc` files, checksum sidecars, modes and write-to-temp-then-
  * rename atomicity are unchanged. Every other scheme gets exactly what
  * `CheckpointFileManager.create` would have built without this class.
  * Installed per query start by [[StreamingOps.startQuery]]. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  /** Both managers Spark can build here write temp-then-rename; their
    * rename half is exposed for tests. */
  private[graft] val impl: CheckpointFileManager with RenameHelperMethods = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") {
      val local = new LocalFileSystem(new LocalCheckpointFileManager.NioRawLocalFileSystem)
      local.initialize(java.net.URI.create("file:///"), hadoopConf)
      new FileSystemBasedCheckpointFileManager(path, hadoopConf) {
        override protected val fs: FileSystem = local
      }
    } else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ClassKey)
      CheckpointFileManager.create(path, conf)
        .asInstanceOf[CheckpointFileManager with RenameHelperMethods]
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def list(p: Path): Array[FileStatus] = impl.list(p)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {
  /** The SQL conf Spark reads the checkpoint file manager class from. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** `RawLocalFileSystem` whose `setPermission` is a `java.nio` call, not a
    * forked `chmod`. Only the 9 rwx bits are set, as `chmod` sets them for
    * the modes Hadoop asks for on checkpoint files and directories. */
  private class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0x1ff
      // PosixFilePermission's declaration order runs from 0400 down to 0001
      val bits = PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, java.util.Set.of(bits: _*))
    }
  }
}
