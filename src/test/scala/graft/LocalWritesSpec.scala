package graft

import java.nio.file.{Files, Path => JPath, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{IncrementalLoader, LocalWrites, NioLocalFileSystem, NioRawLocalFileSystem}

/** The program's local writes go through `NioLocalFileSystem`: the same
  * files, `.crc` side files and permission bits as Hadoop's local file
  * system, with no forked process per file; only local paths get it, and
  * the session is left as it was. */
class LocalWritesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkBatch(ids: Range, path: String): Unit =
    ids.map(i => (i.toLong, Timestamp.valueOf(f"2024-01-0${1 + i % 3} 10:${i % 60}%02d:00"), s"t${i % 3}", i * 1.0))
      .toDF("event_id", "ts", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(path)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** A fresh, uncached instance of `fs` initialized on `conf`. */
  private def local(fs: FileSystem, conf: Configuration): FileSystem = {
    fs.initialize(FileSystem.getDefaultUri(conf), conf)
    fs
  }

  /** Commands of the processes started while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    val dump = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(dump) }
  }

  test("files and directories get the permission bits of Hadoop's LocalFileSystem") {
    for (umask <- Seq("022", "027")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val base = Files.createTempDirectory("graft_lw_bits")
      def tree(fs: FileSystem, root: String): Seq[Int] = {
        val dir = new Path(base.toString, s"$root/a/b")
        val out = fs.create(new Path(dir, "part-0"))
        out.write(Array[Byte](1, 2, 3)); out.close()
        fs.mkdirs(new Path(base.toString, s"$root/c"))
        Seq(s"$root/a", s"$root/a/b", s"$root/a/b/part-0", s"$root/a/b/.part-0.crc", s"$root/c")
          .map(r => mode(base.resolve(r)))
      }
      val hadoop = tree(local(new LocalFileSystem(), conf), "hadoop")
      val nio = tree(local(new NioLocalFileSystem(), conf), "nio")
      assert(nio === hadoop, s"umask $umask")
      val (d, f) = if (umask == "022") (0x1ed, 0x1a4) else (0x1e8, 0x1a0) // 0755/0644, 0750/0640
      assert(hadoop === Seq(d, d, f, f, d), s"umask $umask")
    }
  }

  test(".crc side files are written and a corrupted byte still fails the read") {
    val fs = local(new NioLocalFileSystem(), new Configuration())
    val base = Files.createTempDirectory("graft_lw_crc")
    val p = new Path(base.toString, "data.bin")
    val out = fs.create(p)
    out.write(Array.tabulate[Byte](4096)(_.toByte)); out.close()
    assert(Files.exists(base.resolve(".data.bin.crc")))
    val bytes = Files.readAllBytes(base.resolve("data.bin"))
    bytes(100) = (bytes(100) ^ 0x40).toByte
    Files.write(base.resolve("data.bin"), bytes)
    val in = fs.open(p)
    try intercept[ChecksumException](in.readAllBytes())
    finally in.close()
  }

  test("bits java.nio cannot express take Hadoop's own path") {
    val conf = new Configuration()
    val base = Files.createTempDirectory("graft_lw_special")
    val raw = Seq(new RawLocalFileSystem(), new NioRawLocalFileSystem()).map(local(_, conf))
    // A requested sticky bit: 01755.
    val sticky = raw.map { fs =>
      val d = base.resolve(s"sticky-${fs.getClass.getSimpleName}")
      Files.createDirectory(d)
      fs.setPermission(new Path(d.toString), new FsPermission(0x3ed.toShort))
      mode(d)
    }
    assert(sticky === Seq(0x3ed, 0x3ed))
    // An existing setgid bit on a directory survives a 0755 chmod: 02755.
    val setgid = raw.map { fs =>
      val d = base.resolve(s"setgid-${fs.getClass.getSimpleName}")
      Files.createDirectory(d)
      assert(new ProcessBuilder("chmod", "2700", d.toString).start().waitFor() === 0)
      fs.setPermission(new Path(d.toString), new FsPermission(0x1ed.toShort))
      mode(d)
    }
    assert(setgid === Seq(0x5ed, 0x5ed))
  }

  test("the keys apply to local paths only, and not over a file system class already chosen") {
    val conf = new Configuration()
    val local = LocalWrites.keys(new Path("/tmp/out"), conf)
    assert(local("fs.file.impl") === classOf[NioLocalFileSystem].getName)
    assert(local("fs.file.impl.disable.cache") === "true")
    assert(LocalWrites.keys(new Path("file:///tmp/out"), conf) === local)
    for (p <- Seq("hdfs://nn:8020/out", "s3a://bucket/out", "viewfs:///out"))
      assert(LocalWrites.keys(new Path(p), conf).isEmpty, p)
    val hdfsDefault = new Configuration()
    hdfsDefault.set("fs.defaultFS", "hdfs://nn:8020")
    assert(LocalWrites.keys(new Path("/out"), hdfsDefault).isEmpty)
    val chosen = new Configuration()
    chosen.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
    assert(LocalWrites.keys(new Path("/tmp/out"), chosen).isEmpty)
  }

  test("a loader round and a reload fork no chmod or readlink; layouts keep the keys out of the catalog") {
    val base = Files.createTempDirectory("graft_lw_forks").toString
    val (src, out, ckpt, reload) = (s"$base/src", s"$base/out", s"$base/ckpt", s"$base/reload")
    mkBatch(0 until 30, src)
    val schema = spark.read.parquet(src).schema
    assert(IncrementalLoader.runOnce(spark, src, schema, out, ckpt) === 1)
    mkBatch(30 until 60, src)
    val events = spark.read.parquet(src)
    // The catalog table Layouts names for layout "lw_spec" over `base`.
    val tbl = "graft_lw_spec_" + llm.Layouts.pathOf("lw_spec", base).split("/").last
    val pq = llm.Layouts.pathOf("lw_spec_pq", base)
    // The first catalog use in a JVM creates the warehouse directory.
    assert(!spark.catalog.tableExists(tbl))
    val commands = processStarts {
      assert(IncrementalLoader.runOnce(spark, src, schema, out, ckpt) === 1)
      operators.Ingest.writePartitioned(events, reload)
      llm.Layouts.parquet(spark, pq, "m")(events)
      llm.Layouts.table(spark, "lw_spec", base, "m", 2, Seq("event_id"))(events)
    }
    val forked = commands.filter { c =>
      Set("chmod", "readlink")(c.takeWhile(_ != ' ').split('/').last)
    }
    if (forked.nonEmpty) fail(s"${forked.size} forks:\n${forked.take(10).mkString("\n")}")
    assert(IncrementalLoader.loaded(spark, out).count() === 60)
    assert(spark.read.parquet(reload).count() === 60)
    val ddl = spark.sql(s"SHOW CREATE TABLE $tbl").head().getString(0)
    assert(!ddl.contains("fs.file"), ddl)
    assert(Files.readAllLines(Paths.get(llm.Layouts.pathOf("lw_spec", base), "_GRAFT_META")).asScala ===
      Seq("m", spark.table(tbl).schema.toDDL))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("runOnce leaves the session conf as it was; a file system class set on the context still resolves") {
    val base = Files.createTempDirectory("graft_lw_conf").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    mkBatch(0 until 10, src)
    val schema = spark.read.parquet(src).schema
    // The first run installs the checkpoint manager on the session (by
    // design, CheckpointsSpec); the round after it must change nothing.
    IncrementalLoader.runOnce(spark, src, schema, out, ckpt)
    val before = spark.conf.getAll
    mkBatch(10 until 20, src)
    assert(IncrementalLoader.runOnce(spark, src, schema, out, ckpt) === 1)
    assert(spark.conf.getAll === before)
    assert(!before.keys.exists(_.startsWith("fs.file.")))
    // IngestSpec's RawLocalFileSystem leg sets the class on the context's
    // Hadoop configuration: after a loader run, the session's writes
    // still resolve it, and LocalWrites leaves it alone.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
    hc.set("fs.file.impl.disable.cache", "true")
    try {
      val fs = new Path(out).getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.isInstanceOf[RawLocalFileSystem], fs.getClass.getName)
      assert(LocalWrites.options(spark, out).isEmpty)
    } finally {
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
    }
  }

  test("LocalWrites is the only main source that names the file: scheme's class") {
    val owner = new java.io.File("src/main/scala/graft/streaming/LocalWrites.scala").getCanonicalFile
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val files = scalaFiles(new java.io.File("src/main/scala"))
    assert(files.exists(_.getCanonicalFile == owner), "scan root must contain LocalWrites.scala")
    val hits = for {
      f <- files if f.getCanonicalFile != owner
      (line, i) <- Files.readAllLines(f.toPath).asScala.zipWithIndex
      if line.contains("fs.file.impl")
    } yield s"${f.getPath}:${i + 1}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
