package graft.streaming

import java.nio.file.{Files => JFiles}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Dataset, GraftSessionBridge}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.StreamingQuery

/** Hadoop's `RawLocalFileSystem` with an in-JVM `chmod`.
  *
  * Without `libhadoop`, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process, and the raw file system calls it for every file it
  * creates and every directory it makes: per micro-batch, on the driver
  * alone, the offset-log and commit-log temp files, the append's
  * `_temporary/0` (two directories) and its `_SUCCESS`; on the tasks,
  * every state-store delta and checksum temp file, every write-task
  * attempt directory and every data file. Here the mode is set through
  * `Files.setPosixFilePermissions`, with the same rwx bits `chmod`
  * would set. A sticky bit, which that call cannot set, takes Hadoop's
  * own path. */
class PosixLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else JFiles.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(Seq(permission.getUserAction,
        permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString))
}

/** The checkpoint file manager of every stream [[StreamStart]] starts.
  *
  * For a `file:` checkpoint it is Spark's `FileSystemBasedCheckpointFileManager`
  * over [[PosixLocalFileSystem]]; for every other scheme it is
  * whatever Spark's `CheckpointFileManager.create` picks by default
  * (`FileContextBasedCheckpointFileManager` where the scheme has one),
  * unchanged.
  *
  * Why: without `libhadoop`, Hadoop's checksummed local file system forks
  * a `chmod` for every file it creates and `readlink` four times for
  * every `FileContext.rename` (the file and its `.crc`), and a
  * micro-batch writes an offset entry, a commit entry and, per state
  * store, a delta file plus Spark's checksum file. Those forks were most
  * of the curation stream's per-micro-batch floor.
  *
  * Guarantees on `file:`:
  *   - atomicity is the POSIX rename of a fully written temp file;
  *   - the no-overwrite case (the offset and commit logs) is a
  *     check-then-rename, which assumes one writer per checkpoint — what
  *     Spark requires of a checkpoint location anyway;
  *   - no Hadoop `.crc` sidecar is written. State files stay covered by
  *     Spark's own checksum files (`<file>.crc`), which the state stores
  *     write and verify through this manager. A checkpoint written
  *     earlier through the checksummed file system resumes here; its
  *     old sidecars are ignored, and are left behind when the files they
  *     cover are purged. */
class RawLocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val underlying: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") {
      conf.setClass("fs.file.impl", classOf[PosixLocalFileSystem], classOf[FileSystem])
      conf.setBoolean("fs.file.impl.disable.cache", true)
      new FileSystemBasedCheckpointFileManager(path, conf)
    } else {
      conf.unset(StreamStart.fileManagerConf)
      CheckpointFileManager.create(path, conf)
    }
  }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = underlying.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  def exists(p: Path): Boolean = underlying.exists(p)
  def delete(p: Path): Unit = underlying.delete(p)
  def isLocal: Boolean = underlying.isLocal
  def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

/** The one way the library starts a checkpointed stream. */
object StreamStart {
  private[streaming] val fileManagerConf = "spark.sql.streaming.checkpointFileManagerClass"

  /** Writer options for a micro-batch's file append: `file:` paths go
    * through [[PosixLocalFileSystem]], uncached (the file-system cache
    * is keyed by scheme, not conf), so the append and its commit
    * protocol write no `.crc` sidecars and fork no `chmod`, neither for
    * the files nor for the directories they make. Through the
    * checksummed local file system every file the append created forked
    * a `chmod`, a cost that follows the host's load rather than the
    * batch's size. They are writer options, not session conf, because
    * Hadoop's `FileSystem.getLocal`, which RocksDB's state upload calls,
    * requires `fs.file.impl` to be a `LocalFileSystem`. */
  val rawLocalWrite: Map[String, String] = Map(
    "fs.file.impl" -> classOf[PosixLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `ds.writeStream` in append mode, checkpointed at `checkpointPath`,
    * handing each micro-batch to `write`, started.
    *
    * The query runs on a `cloneSession()` of `ds`'s session whose conf
    * names [[RawLocalCheckpointFileManager]]; the caller's session is
    * never changed. The query is therefore registered with the clone's
    * `streams`, not the caller's: drive and watch it through the
    * returned handle.
    *
    * A `write` that appends files passes [[rawLocalWrite]] to its
    * writer, as the library's sinks do.
    *
    * Delivery is AT-LEAST-ONCE on replay: `write` gets the batch id, but
    * a crash after it wrote and before the commit log lands that batch
    * again on restart unless `write` is idempotent in the id. The
    * idempotent sink write belongs here, in the one start path every
    * library sink shares. */
  def appendBatches[T](ds: Dataset[T], checkpointPath: String)(
      write: (Dataset[T], Long) => Unit): StreamingQuery = {
    val session = GraftSessionBridge.cloneSession(ds.sparkSession)
    session.conf.set(fileManagerConf, classOf[RawLocalCheckpointFileManager].getName)
    GraftSessionBridge.onSession(ds, session).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch(write)
      .start()
  }
}
