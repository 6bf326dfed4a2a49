package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system with `setPermission` on
  * java.nio. Without the native `libhadoop`, the stock one starts a
  * `chmod` process for every file and directory it creates with a mode,
  * ten per parquet write. A mode with the sticky bit, or a platform
  * without java.nio's POSIX view, takes Hadoop's own path.
  * [[Connectors.overwritePartitions]] selects it per write. */
class NioLocalFileSystem extends LocalFileSystem(new RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
    if (permission.getStickyBit || view == null) super.setPermission(p, permission)
    // a plain FsPermission prints its nine rwx bits as "rwxr-x---"
    else view.setPermissions(PosixFilePermissions.fromString(new FsPermission(permission.toShort).toString))
  }
})
