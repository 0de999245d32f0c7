package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Streaming checkpoint manager for local (`file:`) checkpoints that
  * starts no processes.
  *
  * Spark's default `FileContextBasedCheckpointFileManager` forks on a
  * host without the native Hadoop library: every `FileContext` rename
  * resolves links through a forked `readlink`, and every file or dir
  * `RawLocalFileSystem` creates gets its mode from a forked `chmod`. A
  * JFR `jdk.ProcessStart` recording of the `batch` benchmark found
  * about 252 forks per `stream_tumbling_count` call (192 `readlink`,
  * 60 `chmod`), every one a fork of the benchmark's multi-GB JVM.
  *
  * This is Spark's `FileSystemBasedCheckpointFileManager` (temp file,
  * then `FileSystem.rename`, which is one `rename(2)`; no
  * `FileContext`) over Hadoop's checksummed [[LocalFileSystem]], which
  * wraps a [[NioPermissionLocalFileSystem]] whose `setPermission` is
  * one `chmod(2)` syscall. Kept as they were: the `.crc` sidecars,
  * Spark's checkpoint checksums (they wrap whichever manager is
  * configured), the atomic temp-then-rename commit and the permission
  * bits (the umask still comes from the Hadoop conf). Paths on any
  * other file system are rejected.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(
      LocalCheckpointFileManager.requireLocal(path, hadoopConf), hadoopConf) {

  override protected val fs: FileSystem = {
    val local = new LocalFileSystem(new NioPermissionLocalFileSystem)
    local.initialize(URI.create("file:///"), hadoopConf)
    local
  }
}

object LocalCheckpointFileManager {

  /** `path` itself if it resolves to the `file:` scheme (an unqualified
    * path takes the conf's default file system), else throws. */
  private def requireLocal(path: Path, hadoopConf: Configuration): Path = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    require(scheme == "file",
      s"${classOf[LocalCheckpointFileManager].getSimpleName} serves only file: " +
        s"checkpoints, got $path")
    path
  }
}

/** `RawLocalFileSystem` whose `setPermission` is a java.nio
  * `chmod(2)` instead of the forked `chmod` Hadoop falls back to
  * without its native library. The sticky bit has no java.nio form, so
  * a mode carrying it still takes Hadoop's path.
  */
class NioPermissionLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
}
