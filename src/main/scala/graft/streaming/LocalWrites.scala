package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The one owner of the file system the program's local writes go
  * through: the loader's sink, the checkpoint logs, the batch reload and
  * the persisted layouts. Without Hadoop's native library, the local file
  * system sets the permission of every file and directory it creates by
  * forking `chmod` (~5 ms a file, a `.crc` side file being a second one);
  * [[NioLocalFileSystem]] sets the same bits through `java.nio` and forks
  * nothing.
  *
  * A write reaches it through two Hadoop keys: the class for the `file:`
  * scheme, and no FileSystem cache for that scheme, because Hadoop caches
  * one instance per scheme from the first use in the JVM and would
  * otherwise hand back the default one. The keys apply only to paths on
  * the local file system ([[Checkpoints.isLocal]]) and only when the
  * configuration names no `file:` class of its own. */
object LocalWrites {

  private val ImplKey = "fs.file.impl"
  private val NoCacheKey = "fs.file.impl.disable.cache"

  /** The keys that route writes under `path` through [[NioLocalFileSystem]]:
    * empty for other schemes and when `conf` already names a class. */
  def keys(path: Path, conf: Configuration): Map[String, String] =
    if (Checkpoints.isLocal(path, conf) && conf.get(ImplKey) == null)
      Map(ImplKey -> classOf[NioLocalFileSystem].getName, NoCacheKey -> "true")
    else Map.empty

  /** Write options for one DataFrame write to `path`; a write's options
    * reach its job's Hadoop configuration and nothing else. Not for a
    * write to a catalog table, which records its options as table
    * properties: see [[scoped]]. */
  def options(spark: SparkSession, path: String): Map[String, String] =
    keys(new Path(path), spark.sessionState.newHadoopConf())

  /** `conf` with the keys for `path` added, as a copy when any apply. */
  def configured(conf: Configuration, path: Path): Configuration = {
    val ks = keys(path, conf)
    if (ks.isEmpty) conf
    else {
      val c = new Configuration(conf)
      ks.foreach { case (k, v) => c.set(k, v) }
      c
    }
  }

  /** Runs `body` with the keys for `path` set on the session, then puts
    * back what was there. For writers that build their Hadoop
    * configuration from the session when they are created and take no
    * options into it: the streaming file sink, which does so in `start()`,
    * and a write to a catalog table, whose options would become table
    * properties. */
  def scoped[A](spark: SparkSession, path: String)(body: => A): A =
    Checkpoints.scoped(spark, options(spark, path))(body)
}

/** Hadoop's checksummed local file system, with the same files, `.crc`
  * side files and rename semantics, over [[NioRawLocalFileSystem]]. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` — called on every file
  * create and every mkdir, with the umask already applied — sets the
  * `rwx` bits through `java.nio` instead of forking `chmod`. Bits that
  * `java.nio` cannot express take Hadoop's own path: a requested sticky
  * bit, and an existing setuid or setgid bit (a directory under a setgid
  * parent inherits it; `chmod` with a four-digit mode keeps it on a
  * directory, `java.nio` would clear it). */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    val special = permission.getStickyBit ||
      (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xc00) != 0 // 06000
    if (special) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(f, PosixFilePermissions.fromString(permission.toString))
  }
}
