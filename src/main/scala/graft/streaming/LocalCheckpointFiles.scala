package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => NioPath, Paths}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Spark's checkpoint file manager for `file:` checkpoints, on java.nio.
  *
  * Without the native `libhadoop`, Hadoop's local file system starts a
  * `readlink` process for every `FileContext.rename` and a `chmod`
  * process for every file it creates. The offset log, the commit log
  * and the state stores create and rename a few files per micro-batch,
  * so stateful tasks spent most of their time waiting on those forks.
  * Here a file is written to a temp file in its own directory, closed,
  * then moved into place: rename(2) to overwrite, link(2) when the
  * target must not exist, so a second writer of one batch fails
  * atomically (`HDFSMetadataLog` depends on that). No process is
  * started and no Hadoop `.crc` sidecar is written; Spark's own state
  * checksum files (`N.delta.crc`) are untouched. Reads, listings and
  * deletes use Hadoop's raw local file system, which forks nothing for
  * them. Every other scheme goes to Spark's FileContext manager.
  */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {
  private[graft] val delegate: Option[CheckpointFileManager] =
    if (path.getFileSystem(hadoopConf).getUri.getScheme == "file") None
    else Some(new FileContextBasedCheckpointFileManager(path, hadoopConf))
  private lazy val raw = FileSystem.getLocal(hadoopConf).getRawFileSystem
  private def local(p: Path): NioPath = Paths.get(raw.makeQualified(p).toUri)

  override def createAtomic(p: Path, overwrite: Boolean): CancellableFSDataOutputStream =
    delegate.fold[CancellableFSDataOutputStream] {
      val target = local(p)
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new CancellableFSDataOutputStream(
          new BufferedOutputStream(Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW))) {
        private var done = false
        override def close(): Unit = if (!done) {
          done = true
          try {
            super.close()
            if (overwrite) Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
            else try Files.createLink(target, tmp) catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$p already exists")
            }
            // a sidecar left by Hadoop's checksummed file system would
            // no longer match the new bytes
            Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
          } finally { Files.deleteIfExists(tmp); () }
        }
        override def cancel(): Unit = if (!done) {
          done = true
          try underlyingStream.close() finally { Files.deleteIfExists(tmp); () }
        }
      }
    }(_.createAtomic(p, overwrite))

  override def open(p: Path): FSDataInputStream = delegate.fold(raw.open(p))(_.open(p))
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.fold(raw.listStatus(p, filter))(_.list(p, filter))
  override def mkdirs(p: Path): Unit =
    delegate.fold { Files.createDirectories(local(p)); () }(_.mkdirs(p))
  override def exists(p: Path): Boolean = delegate.fold(Files.exists(local(p)))(_.exists(p))
  override def delete(p: Path): Unit = delegate.fold { raw.delete(p, true); () }(_.delete(p))
  override def isLocal: Boolean = delegate.forall(_.isLocal)
  override def createCheckpointDirectory(): Path = delegate.fold {
    mkdirs(path); raw.makeQualified(path)
  }(_.createCheckpointDirectory())
  override def close(): Unit = delegate.foreach(_.close())
}
