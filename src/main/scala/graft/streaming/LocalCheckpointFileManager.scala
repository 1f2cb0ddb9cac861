package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager that writes local checkpoints through Hadoop's
  * `FileSystem` API instead of `FileContext`.
  *
  * Spark's default manager goes through `FileContext`. Without Hadoop's
  * native library, the local `FileContext` shells out to helper processes:
  * one small atomic write forked about five of them and took a median
  * 32 ms, against one fork and 7 ms through `FileSystem` (4-core Xeon
  * container, JDK 17, Hadoop 3.4). A 2 s micro-batch writes
  * several such files (offsets, commits, source and sink logs, one state
  * delta per partition); in a traced round trip the consumer's trigger
  * fell from 1061 to 804 ms with this manager.
  *
  * For `file:` paths, and scheme-less paths on a local default filesystem,
  * this manager delegates to Spark's own
  * `FileSystemBasedCheckpointFileManager`. Every other scheme gets exactly
  * what `CheckpointFileManager.create` returns without this class
  * configured. On the local filesystem `FileContext`'s no-overwrite rename
  * is itself check-then-rename, so the `FileSystem` manager's
  * check-then-rename keeps the same guarantee. File names, Hadoop `.crc`
  * sidecars and Spark's checkpoint checksums are unchanged.
  *
  * Spark instantiates the class named by
  * [[LocalCheckpointFileManager.ConfKey]] through this
  * `(Path, Configuration)` constructor; [[LocalCheckpointFileManager.install]]
  * sets the key.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (LocalCheckpointFileManager.isLocal(path, hadoopConf))
      new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  /** The Spark SQL key naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** True when `path` resolves to the `file` scheme, directly or through
    * the default filesystem.
    */
  private def isLocal(path: Path, conf: Configuration): Boolean =
    "file".equalsIgnoreCase(Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme))

  /** Names this class as the session's checkpoint file manager, unless the
    * session already names one. Idempotent. It is never unset: the file
    * source's metadata log is created lazily on the stream thread, after
    * `start()` returns.
    */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
}
