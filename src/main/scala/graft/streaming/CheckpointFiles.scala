package graft.streaming

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of graft sessions
  * (`spark.sql.streaming.checkpointFileManagerClass`, set by
  * [[graft.GraftSession]]). Every trigger of a streaming query writes
  * its offset and commit log entries through `createAtomic`, before and
  * after the batch. Spark's default manager goes through Hadoop's
  * FileContext, which without Hadoop's native library forks a `chmod`
  * per created file and a `readlink` per rename.
  *
  * On `file:` paths this manager writes a hidden temp file with
  * java.nio and moves it into place with ATOMIC_MOVE (no process fork,
  * no checksum side file), and makes directories with java.nio; reads,
  * listings and deletes go through Spark's FileSystem-based manager.
  * Other schemes keep Spark's own choice: FileContext, or FileSystem
  * where FileContext is unsupported.
  */
class CheckpointFiles(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {
  private val fs = path.getFileSystem(hadoopConf)
  private val local = fs.getUri.getScheme == "file"
  private val base: CheckpointFileManager =
    if (local) new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else try new FileContextBasedCheckpointFileManager(path, hadoopConf)
    catch {
      case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    }

  private def nioPath(p: Path): java.nio.file.Path =
    new java.io.File(fs.makeQualified(p).toUri.getPath).toPath

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (local) CheckpointFiles.atomicLocal(nioPath(p), overwriteIfPossible)
    else base.createAtomic(p, overwriteIfPossible)

  override def mkdirs(p: Path): Unit =
    if (local) Files.createDirectories(nioPath(p)) else base.mkdirs(p)

  override def open(p: Path): FSDataInputStream = base.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = base.list(p, filter)
  override def exists(p: Path): Boolean = base.exists(p)
  override def delete(p: Path): Unit = base.delete(p)
  override def isLocal: Boolean = base.isLocal
  override def createCheckpointDirectory(): Path = base.createCheckpointDirectory()
  override def close(): Unit = base.close()
}

object CheckpointFiles {

  /** A stream into a hidden temp file beside `dst` that lands as `dst` on
    * close. Without `overwrite`, an existing `dst` fails the close with
    * Hadoop's FileAlreadyExistsException (what Spark's metadata logs
    * expect from a concurrent writer) and is left as it was. `cancel`
    * and a failed close delete the temp file. */
  private[streaming] def atomicLocal(dst: java.nio.file.Path,
                                     overwrite: Boolean): CancellableFSDataOutputStream = {
    Files.createDirectories(dst.getParent)
    val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID()}.tmp")
    val out = new BufferedOutputStream(
      Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
    new AtomicLocalFile(out, tmp, dst, overwrite)
  }

  private final class AtomicLocalFile(out: OutputStream, tmp: java.nio.file.Path,
                                      dst: java.nio.file.Path, overwrite: Boolean)
      extends CancellableFSDataOutputStream(out) {
    private var ended = false

    override def cancel(): Unit = synchronized {
      if (!ended) {
        ended = true
        try out.close() finally Files.deleteIfExists(tmp)
      }
    }

    override def close(): Unit = synchronized {
      if (!ended) {
        ended = true
        try {
          out.close()
          if (!overwrite && Files.exists(dst))
            throw new FileAlreadyExistsException(s"$dst already exists")
          Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
        } catch {
          case e: Throwable =>
            Files.deleteIfExists(tmp)
            throw e
        }
      }
    }
  }
}
