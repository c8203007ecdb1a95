package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The streaming checkpoint file manager of every session
  * (`spark.sql.streaming.checkpointFileManagerClass`, set in
  * `CliUtil.builder`).
  *
  * Without the native libhadoop, Hadoop runs a shell command for simple
  * local file operations, so Spark's default manager starts one OS process
  * per checkpoint file or more: every rename through `FileContext` forks
  * `readlink`, and every file `LocalFileSystem` creates forks `chmod`,
  * once for the file and once for its `.crc` sidecar. A 4-micro-batch KPI
  * replay started about 470 processes, and they, not compute, set its time.
  *
  * On a `file:` path (Hadoop's `LocalFileSystem`) this manager creates temp
  * files and directories with java.nio, which sets no permission and writes
  * no `.crc` sidecar, and replaces an existing file with a POSIX rename. It
  * opens, lists, checks, deletes and renames onto a new name through
  * `LocalFileSystem`, whose local implementations start no process. The
  * contract is Spark's, unchanged: `createAtomic` writes a temp file and
  * renames it onto the target, an existing target fails the rename with
  * `FileAlreadyExistsException` unless `overwriteIfPossible`, and
  * `cancel()` deletes the temp file. `LocalFileSystem` still verifies,
  * renames and deletes the `.crc` sidecars of a checkpoint the default
  * manager wrote, so such a checkpoint resumes.
  *
  * Any other scheme delegates every call to Spark's default,
  * `FileContextBasedCheckpointFileManager`.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val impl: CheckpointFileManager = path.getFileSystem(hadoopConf) match {
    case _: LocalFileSystem => new LocalCheckpointFileManager.Nio(path, hadoopConf)
    case _ => new FileContextBasedCheckpointFileManager(path, hadoopConf)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  /** Spark's `FileSystem` manager with the three calls that would fork
    * `chmod`, and the overwriting rename, done by java.nio instead. */
  private final class Nio(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    private val local = fs.asInstanceOf[LocalFileSystem]
    private def nio(p: Path) = local.pathToFile(p).toPath

    override def createTempFile(p: Path): FSDataOutputStream = {
      val file = nio(p)
      Files.createDirectories(file.getParent)
      new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(file)), null)
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(nio(p))

    /** `FileSystem.rename` onto an existing file returns false and leaves
      * both files in place under Hive's `ProxyLocalFileSystem`, which
      * Spark's jars register for `file:`, so an overwrite is a POSIX
      * rename. A `.crc` sidecar of the old bytes goes first: a crash
      * between the two steps then leaves the old bytes unchecked, never
      * the new bytes against a stale checksum. A non-overwriting rename
      * onto an existing target deletes its temp file before it fails:
      * Spark's stream has marked itself closed by then, so the caller's
      * `cancel()` would leave the temp file behind. */
    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
      if (overwriteIfPossible) {
        Files.deleteIfExists(nio(local.getChecksumFile(dst)))
        Files.move(nio(src), nio(dst), StandardCopyOption.ATOMIC_MOVE)
      } else try super.renameTempFile(src, dst, overwriteIfPossible) catch {
        case e: FileAlreadyExistsException =>
          Files.deleteIfExists(nio(src))
          throw e
      }

    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(path)
      Files.createDirectories(nio(qualified))
      qualified
    }
  }
}
