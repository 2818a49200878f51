package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager every engine stream starts with
  * (`StreamRunner` installs it through
  * `spark.sql.streaming.checkpointFileManagerClass`).
  *
  * Structured Streaming writes the offset log, the commit log and each
  * state-store version through this interface on every micro-batch, so
  * the cost of one atomic file write sits on the trigger's critical
  * path. Without `libhadoop`, Hadoop's `RawLocalFileSystem.setPermission`
  * forks `chmod` for every file and directory it creates, and Spark's
  * default `FileContextBasedCheckpointFileManager` pays several such
  * forks per atomic write.
  *
  * `file:` paths go through Hadoop's checksummed `LocalFileSystem`, so
  * data files carry the same `.crc` companions and get the same modes
  * as under Spark's managers; only the mode change itself is made with
  * `java.nio` instead of a child process. Every other scheme is handed
  * to Spark's `FileContextBasedCheckpointFileManager` unchanged. The
  * path's scheme makes the choice; nothing else selects it.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val impl: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new LocalCheckpointFileManager.Local(path, hadoopConf)
    else new FileContextBasedCheckpointFileManager(path, hadoopConf)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  /** `RawLocalFileSystem` that sets a plain `rwxrwxrwx`-style mode with
    * `Files.setPosixFilePermissions` instead of forking `chmod`. Any
    * other mode (sticky bit) takes Hadoop's own path. */
  private final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toString
      if (mode.matches("([r-][w-][x-]){3}"))
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(mode))
      else super.setPermission(p, permission)
    }
  }

  /** The `file:` manager: Spark's FileSystem-based manager's semantics
    * over a checksummed local file system whose mode changes do not
    * fork. */
  private final class Local(path: Path, hadoopConf: Configuration)
      extends CheckpointFileManager {
    private val fs: FileSystem = {
      val lfs = new LocalFileSystem(new ForkFreeRawLocalFileSystem)
      lfs.initialize(java.net.URI.create("file:///"), hadoopConf)
      lfs
    }

    /** Writes a hidden temp file beside `finalPath` and renames it into
      * place on `close`; `cancel` deletes it. Without
      * `overwriteIfPossible` an existing target fails the commit with
      * `FileAlreadyExistsException` and keeps its bytes. */
    private final class AtomicStream(finalPath: Path, tempPath: Path,
        overwriteIfPossible: Boolean)
        extends CancellableFSDataOutputStream(fs.create(tempPath, true)) {
      private var terminated = false

      override def close(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          underlyingStream.close()
          if (!overwriteIfPossible && fs.exists(finalPath)) {
            fs.delete(tempPath, false)
            throw new FileAlreadyExistsException(
              s"Failed to rename $tempPath to $finalPath as destination already exists")
          }
          if (!fs.rename(tempPath, finalPath))
            throw new java.io.IOException(
              s"Failed to rename temp file $tempPath to $finalPath")
        }
      }

      override def cancel(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try underlyingStream.close()
          finally fs.delete(tempPath, false)
        }
      }
    }

    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream =
      new AtomicStream(p,
        new Path(p.getParent, s".${p.getName}.${UUID.randomUUID}.tmp"),
        overwriteIfPossible)

    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit = fs.mkdirs(p, FsPermission.getDirDefault)
    override def exists(p: Path): Boolean = fs.exists(p)
    override def delete(p: Path): Unit = fs.delete(p, true)
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(path)
      fs.mkdirs(qualified, FsPermission.getDirDefault)
      qualified
    }
  }
}
