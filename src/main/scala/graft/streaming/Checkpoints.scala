package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** The one place a checkpointed query is started: `start` installs
  * [[SchemeCheckpointFileManager]] on the session, then sets the query's
  * checkpoint location. The manager covers everything the session
  * checkpoints — the source file log, offsets, commits, the file sink's
  * `_spark_metadata` and the state stores — for this query and every later
  * one. The choice follows the checkpoint path's scheme, so there is no
  * option to set; a manager class the session already names is kept. */
object Checkpoints {

  /** Spark's session key for the checkpoint file manager class. */
  val ManagerClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  def start[T](spark: SparkSession, writer: DataStreamWriter[T],
               checkpointDir: String): StreamingQuery = {
    if (spark.conf.getOption(ManagerClassKey).isEmpty)
      spark.conf.set(ManagerClassKey, classOf[SchemeCheckpointFileManager].getName)
    writer.option("checkpointLocation", checkpointDir).start()
  }

  /** True when `path` resolves to the local file system: its own scheme,
    * or the default file system's when it has none. */
  private[graft] def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
}

/** Checkpoint file manager that renames local checkpoints through
  * `FileSystem`. Spark's default renames through `FileContext`, whose
  * symlink check on the local file system forks a `readlink` process when
  * Hadoop's native library is absent — about 33 forks per loader round,
  * which kept `latestOffset`, `walCommit` and `commitOffsets` at 32–36 ms
  * each (7–10 ms with this manager; SCALE.md § Streaming). The
  * `FileSystem` rename is a plain `rename(2)`: atomic, but it checks for an
  * existing target before renaming instead of refusing atomically, which is
  * enough for a checkpoint with one writer. Every other scheme (HDFS,
  * object stores) keeps Spark's default, with its atomic no-overwrite
  * rename. */
final class SchemeCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (Checkpoints.isLocal(path, conf))
      new FileSystemBasedCheckpointFileManager(path, LocalWrites.configured(conf, path))
    else {
      // Spark's own choice, as if no manager class were configured.
      val default = new Configuration(conf)
      default.unset(Checkpoints.ManagerClassKey)
      CheckpointFileManager.create(path, default)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path) = delegate.open(p)
  override def list(p: Path, filter: PathFilter) = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}
