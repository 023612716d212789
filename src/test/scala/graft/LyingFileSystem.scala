package graft

import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A filesystem that LIES about exclusive create: `create(f, overwrite =
  * false)` silently overwrites an existing path instead of failing — the
  * S3-class behavior (no conditional PUT) that the commit-substrate
  * capability probe exists to catch. Everything else delegates to the
  * local filesystem. Registered in specs under the `lying` scheme via
  * `fs.lying.impl`.
  */
class LyingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("lying:///")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    super.create(f, true, bufferSize, replication, blockSize, progress)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    super.create(f, permission, true, bufferSize, replication, blockSize,
      progress)
}

/** The local filesystem re-exposed under a NON-`file` scheme, so specs
  * can drive the HDFS-class commit branch (exclusive `create(f, false)`
  * claims, torn-claim repair) on a store that honors the contract — the
  * control for [[LyingFileSystem]].
  */
class HonestFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("honest:///")
}

/** The local filesystem under the `denying` scheme, whose `listFiles` of
  * a directory named [[DenyingFileSystem.Denied]] throws
  * `AccessDeniedException`: what the local filesystem can raise on a
  * task's `_temporary` attempt dir while a writer is creating it. Other
  * `listFiles` calls go to the `file` scheme, since the raw local
  * filesystem cannot locate blocks under another scheme.
  */
class DenyingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("denying:///")

  override def listFiles(f: Path,
      recursive: Boolean): RemoteIterator[LocatedFileStatus] =
    if (f.getName == DenyingFileSystem.Denied)
      throw new java.nio.file.AccessDeniedException(f.toString)
    else org.apache.hadoop.fs.FileSystem.getLocal(getConf)
      .listFiles(new Path(f.toUri.getPath), recursive)
}

object DenyingFileSystem {
  val Denied = "v9_denied"
}
