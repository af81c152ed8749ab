package graft.streaming

import java.io.IOException
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Spark's FileSystem checkpoint manager, with the permission bits of a
  * local checkpoint file set in process. Without libhadoop,
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file it
  * creates — twice per checkpoint file, once for the file and once for its
  * Hadoop `.crc`. For a local path this manager writes through its own
  * checksummed `LocalFileSystem`, initialised with the query's Hadoop conf,
  * around [[NioPermissionFileSystem]], so the `.crc` sidecars, atomic
  * rename and permission bits stay as they were; any other path keeps the
  * file system its scheme names.
  * `StreamOps.withStreamingConf` names this class for every engine
  * streaming query, and every checkpoint writer (offset, commit, source and
  * metadata logs, state-store deltas, RocksDB files) gets its manager from
  * `CheckpointFileManager.create`. */
class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  override protected val fs: FileSystem = path.getFileSystem(hadoopConf) match {
    case local: LocalFileSystem =>
      val nio = new LocalFileSystem(new NioPermissionFileSystem)
      nio.initialize(local.getUri, hadoopConf)
      nio
    case other => other
  }
}

/** A `RawLocalFileSystem` that sets permission bits with
  * `Files.setPosixFilePermissions` instead of a `chmod` subprocess. It
  * throws on a bit that call cannot set (the sticky bit) rather than drop
  * it. */
class NioPermissionFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if ((permission.toShort & ~0x1ff) != 0) // any bit beyond rwx (0777)
      throw new IOException(s"cannot set $permission on $p in process: only rwx bits are supported")
    val rwx = Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
    Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx.map(_.SYMBOL).mkString))
  }
}
