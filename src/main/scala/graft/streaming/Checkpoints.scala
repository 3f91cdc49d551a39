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
  * option to set; a manager class the session already names is kept.
  *
  * `start` also starts the query without per-session artifact isolation.
  * A query runs on a clone of the session, and with isolation on each
  * clone gets an artifact state of its own, so its tasks run in a fresh
  * class loader. Spark's codegen cache is keyed by class loader: every
  * loader round compiled the same generated classes again (7 a round,
  * 50–65 ms; SCALE.md § Streaming). Without isolation the tasks run in
  * the executor's default class loader and the cache hits from the second
  * round on. The program's queries add no artifacts to a session — the
  * loader uses built-in expressions, the upsert's batch function is the
  * program's own class — so they need none of it. The key is set only
  * for the `start()` call, whose session clone copies the conf; a value
  * the session sets itself is kept. */
object Checkpoints {

  /** Spark's session key for the checkpoint file manager class. */
  val ManagerClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's session key for per-session artifact isolation. */
  private[graft] val IsolationKey = "spark.sql.artifact.isolation.enabled"

  def start[T](spark: SparkSession, writer: DataStreamWriter[T],
               checkpointDir: String): StreamingQuery = {
    if (spark.conf.getOption(ManagerClassKey).isEmpty)
      spark.conf.set(ManagerClassKey, classOf[SchemeCheckpointFileManager].getName)
    val shared =
      if (spark.sessionState.conf.contains(IsolationKey)) Map.empty[String, String]
      else Map(IsolationKey -> "false")
    scoped(spark, shared)(writer.option("checkpointLocation", checkpointDir).start())
  }

  /** Runs `body` with `keys` set on the session, then puts back exactly
    * what was there: a key the session did not set is unset again, also
    * when `body` throws. For settings that a query or a writer copies
    * from the session when it is created. */
  private[graft] def scoped[A](spark: SparkSession, keys: Map[String, String])(body: => A): A = {
    val conf = spark.sessionState.conf
    val saved = keys.keys.map(k => k -> Option.when(conf.contains(k))(conf.getConfString(k)))
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
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
