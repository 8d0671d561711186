package graft.streaming

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.{CancellableFSDataOutputStream, RenameBasedFSDataOutputStream}

/** The streaming checkpoint's file manager (offset, commit and source
  * logs, state), registered by `Engine.session` through
  * `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * On `file:` paths Spark's default, `FileContextBasedCheckpointFileManager`,
  * goes through Hadoop's `LocalFs`, which forks a process for every
  * `readlink` (8 per rename) and every `chmod` (each create and mkdir):
  * about 30 forks per micro-batch, ≈4 ms each from a large-heap driver.
  * Here the same operations start no process: open, list, rename,
  * exists and delete go through a `RawLocalFileSystem` of our own (not
  * the FileSystem cache), and temp files and directories are made with
  * `java.nio`. Local checkpoints therefore carry no Hadoop `.crc` side
  * files. A checkpoint that has them (written by Spark's manager)
  * resumes here, and the side file of a path this manager deletes or
  * overwrites goes with it: Hadoop's checksummed `LocalFileSystem`
  * would refuse to read a file whose side file is stale.
  *
  * The write contract is Spark's: a log file is written to a temp file
  * and renamed into place (`RenameBasedFSDataOutputStream`), and a
  * rename with `overwriteIfPossible = false` refuses an existing file
  * with `FileAlreadyExistsException`. Every other scheme (HDFS, object
  * stores) is handed to Spark's manager unchanged.
  *
  * It extends `FileSystemBasedCheckpointFileManager` only for the sealed
  * `RenameHelperMethods` that `RenameBasedFSDataOutputStream` needs.
  * Every method is overridden; the parent is built on the local root,
  * so it opens no client for a remote checkpoint, and is otherwise
  * unused. */
class ForkFreeCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(new Path("file:///"), hadoopConf) {

  private val remote: Option[FileContextBasedCheckpointFileManager] = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") None
    else Some(new FileContextBasedCheckpointFileManager(path, hadoopConf))
  }

  private lazy val raw: RawLocalFileSystem = {
    val rawFs = new RawLocalFileSystem
    rawFs.initialize(java.net.URI.create("file:///"), hadoopConf)
    rawFs
  }

  private def local(p: Path): java.nio.file.Path = raw.pathToFile(p).toPath

  /** Hadoop's checksum side file of `p`, left by Spark's manager. */
  private def dropChecksum(p: Path): Unit = {
    Files.deleteIfExists(local(new Path(p.getParent, s".${p.getName}.crc")))
    ()
  }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    remote.fold[CancellableFSDataOutputStream](
      new RenameBasedFSDataOutputStream(this, p, overwriteIfPossible))(
      _.createAtomic(p, overwriteIfPossible))

  override def createTempFile(p: Path): FSDataOutputStream = remote.fold {
    val f = local(p)
    Files.createDirectories(f.getParent)
    new FSDataOutputStream(
      new java.io.BufferedOutputStream(Files.newOutputStream(f)), null)
  }(_.createTempFile(p))

  override def renameTempFile(src: Path, dst: Path,
      overwriteIfPossible: Boolean): Unit = remote.fold {
    if (raw.exists(dst)) {
      if (!overwriteIfPossible) {
        // the stream is already closed, so its cancel() would not
        // remove the temp file: do it here
        raw.delete(src, false)
        throw new FileAlreadyExistsException(
          s"Failed to rename $src to $dst as destination already exists")
      }
      dropChecksum(dst)
    }
    if (!raw.rename(src, dst))
      throw new java.io.IOException(s"Failed to rename temp file $src to $dst")
  }(_.renameTempFile(src, dst, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream = remote.fold(raw.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    remote.fold(raw.listStatus(p, filter))(_.list(p, filter))

  override def mkdirs(p: Path): Unit =
    remote.fold[Unit] { Files.createDirectories(local(p)); () }(_.mkdirs(p))

  override def exists(p: Path): Boolean = remote.fold(raw.exists(p))(_.exists(p))

  override def delete(p: Path): Unit = remote.fold[Unit] {
    raw.delete(p, true)
    dropChecksum(p)
  }(_.delete(p))

  override def isLocal: Boolean = remote.fold(true)(_.isLocal)

  override def createCheckpointDirectory(): Path = remote.fold {
    val qualified = raw.makeQualified(path)
    mkdirs(qualified)
    qualified
  }(_.createCheckpointDirectory())

  override def close(): Unit = remote.foreach(_.close())
}
