package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Checkpoints, IncrementalLoader, SchemeCheckpointFileManager, StreamingUpsert}

/** The checkpoint file manager every checkpointed query runs under: local
  * checkpoints rename through FileSystem, other schemes keep Spark's
  * default, and the loader's exactly-once contract holds under it.
  * Queries start without per-session artifact isolation, so a warm round
  * hits Spark's codegen cache, and the session conf is left as it was. */
class CheckpointsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkBatch(ids: Range, path: String): Unit =
    ids.map(i => (i.toLong, Timestamp.valueOf(f"2024-01-01 10:${i % 60}%02d:00"), s"t${i % 3}", i * 1.0))
      .toDF("event_id", "ts", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(path)

  test("a file: checkpoint renames through FileSystem; other schemes keep the FileContext default") {
    val conf = new Configuration()
    val local = Files.createTempDirectory("graft_ckm").toString
    for (p <- Seq(s"file:$local", local)) {
      val m = new SchemeCheckpointFileManager(new Path(p), conf)
      assert(m.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager], p)
      assert(m.isLocal, p)
    }
    assert(!Checkpoints.isLocal(new Path("hdfs://nn:8020/ckpt"), conf))
    assert(!Checkpoints.isLocal(new Path("s3a://bucket/ckpt"), conf))
    val hdfsDefault = new Configuration()
    hdfsDefault.set("fs.defaultFS", "hdfs://nn:8020")
    assert(!Checkpoints.isLocal(new Path("/ckpt"), hdfsDefault),
      "a path without a scheme follows the default file system")
    // viewfs mounted over a local directory: a non-file scheme that needs
    // no cluster, so the delegate can be built and inspected.
    val view = new Configuration()
    view.set("fs.viewfs.mounttable.default.link./ckpt", s"file://$local")
    val m = new SchemeCheckpointFileManager(new Path("viewfs:///ckpt"), view)
    assert(m.delegate.isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  test("runOnce installs the manager on the session, under the key Spark's checkpoint logs read") {
    val base = Files.createTempDirectory("graft_ckm_run").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    mkBatch(0 until 10, src)
    IncrementalLoader.runOnce(spark, src, spark.read.parquet(src).schema, out, ckpt)
    assert(spark.conf.get(Checkpoints.ManagerClassKey) === classOf[SchemeCheckpointFileManager].getName)
    // Every checkpoint log builds its manager this way, from the session's
    // Hadoop configuration.
    CheckpointFileManager.create(new Path(ckpt), spark.sessionState.newHadoopConf()) match {
      case m: SchemeCheckpointFileManager =>
        assert(m.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
      case other => fail(s"checkpoint logs would use ${other.getClass.getName}")
    }
    assert(IncrementalLoader.loaded(spark, out).count() === 10)
    // A manager class the session already names is the operator's choice.
    val chosen = classOf[FileContextBasedCheckpointFileManager].getName
    spark.conf.set(Checkpoints.ManagerClassKey, chosen)
    try {
      mkBatch(10 until 20, src)
      assert(IncrementalLoader.runOnce(spark, src, spark.read.parquet(src).schema, out, ckpt) === 1)
      assert(spark.conf.get(Checkpoints.ManagerClassKey) === chosen)
    } finally spark.conf.unset(Checkpoints.ManagerClassKey)
  }

  test("runOnce counts every committed micro-batch, past the recent-progress cap") {
    val key = "spark.sql.streaming.numRecentProgressUpdates"
    val base = Files.createTempDirectory("graft_ckm_count").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    (0 until 5).foreach(k => mkBatch(k * 10 until (k + 1) * 10, src))
    val schema = spark.read.parquet(src).schema
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    try {
      assert(IncrementalLoader.runOnce(spark, src, schema, out, ckpt, maxFilesPerTrigger = 1) === 5)
      assert(IncrementalLoader.runOnce(spark, src, schema, out, ckpt, maxFilesPerTrigger = 1) === 0)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(IncrementalLoader.loaded(spark, out).count() === 50)
  }

  test("runOnce reads committed batches through the checkpoint's own file system") {
    val base = Files.createTempDirectory("graft_ckm_view").toString
    val (src, out) = (s"$base/src", s"$base/out")
    val link = s"/view_${java.util.UUID.randomUUID.toString.take(8)}"
    // viewfs mounted over a local directory: a non-file checkpoint that
    // needs no cluster.
    val keys = Map(s"fs.viewfs.mounttable.default.link.$link" -> s"file://$base",
      "fs.viewfs.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val ckpt = s"viewfs://$link/ckpt"
      mkBatch(0 until 30, src)
      val schema = spark.read.parquet(src).schema
      val latest = IncrementalLoader.OffsetReset.Latest
      assert(IncrementalLoader.runOnce(spark, src, schema, out, ckpt, reset = latest) === 0)
      assert(Files.exists(Paths.get(base, "ckpt", "commits", "0")), "the backlog is committed")
      mkBatch(30 until 40, src)
      // A committed checkpoint: Latest no longer skips what arrives.
      assert(IncrementalLoader.runOnce(spark, src, schema, out, ckpt, reset = latest) === 1)
      assert(IncrementalLoader.loaded(spark, out).count() === 10)
      (4 until 7).foreach(k => mkBatch(k * 10 until (k + 1) * 10, src))
      assert(IncrementalLoader.runOnce(spark, src, schema, out, ckpt, maxFilesPerTrigger = 1) === 3)
      assert(IncrementalLoader.loaded(spark, out).count() === 40)
    } finally keys.keys.foreach(spark.conf.unset)
  }

  test("stray temp files of an interrupted checkpoint rename do not break exactly-once") {
    val base = Files.createTempDirectory("graft_ckm_crash").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    mkBatch(0 until 40, src)
    val schema = spark.read.parquet(src).schema
    assert(IncrementalLoader.runOnce(spark, src, schema, out, ckpt) === 1)
    // A crash between writing batch 1's temp file and renaming it leaves
    // `.1.<uuid>.tmp` beside the committed batch files, possibly truncated.
    for (log <- Seq("offsets", "commits")) {
      val stray = Paths.get(ckpt, log, s".1.${java.util.UUID.randomUUID}.tmp")
      Files.write(stray, "v1\n{\"batchWatermarkMs\":".getBytes("UTF-8"))
    }
    mkBatch(40 until 70, src)
    assert(IncrementalLoader.runOnce(spark, src, schema, out, ckpt) === 1)
    val loaded = IncrementalLoader.loaded(spark, out)
    assert(loaded.count() === 70)
    assert(loaded.select("event_id").distinct().count() === 70, "no event may be loaded twice")
    assert(IncrementalLoader.runOnce(spark, src, schema, out, ckpt) === 0)
    assert(IncrementalLoader.loaded(spark, out).count() === 70)
  }

  /** Classes Spark's code generator has compiled in this JVM so far. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm loader round compiles no generated code") {
    val base = Files.createTempDirectory("graft_ckm_codegen").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    mkBatch(0 until 10, src)
    val schema = spark.read.parquet(src).schema
    assert(IncrementalLoader.runOnce(spark, src, schema, out, ckpt) === 1)
    mkBatch(10 until 20, src)
    val before = compiles
    assert(IncrementalLoader.runOnce(spark, src, schema, out, ckpt) === 1)
    assert(compiles - before === 0, "classes compiled by the second round")
    assert(IncrementalLoader.loaded(spark, out).count() === 20)
  }

  test("a warm upsert pass compiles no generated code") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_ckm_upsert").toString
    val (state, ckpt) = (s"$dir/state", s"$dir/ckpt")
    val input = MemoryStream[(Long, Long, Double)]
    def updates = input.toDF().toDF("key", "version", "value")
    // The first pass creates the state and the second is the first to
    // merge into a stored state, a plan of its own; the third repeats it.
    for (k <- 1L to 2L) {
      input.addData((k, k, k * 10.0), (k + 1, 1L, k * 20.0))
      StreamingUpsert.runOnce(spark, updates, state, ckpt)
    }
    input.addData((3L, 2L, 31.0), (4L, 1L, 40.0))
    val before = compiles
    StreamingUpsert.runOnce(spark, updates, state, ckpt)
    assert(compiles - before === 0, "classes compiled by the third pass")
    assert(StreamingUpsert.state(spark, state).count() === 4)
  }

  /** A query over `src` whose batch function records the isolation value
    * its session clone carries. */
  private def isolationSeenByQuery(src: String, ckpt: String): String = {
    val seen = new AtomicReference[String]
    Checkpoints.start(spark, spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        seen.set(batch.sparkSession.conf.get(Checkpoints.IsolationKey))
      }
      .trigger(Trigger.AvailableNow()), ckpt).awaitTermination()
    seen.get
  }

  test("start leaves the session conf as it was, also when start() throws") {
    val base = Files.createTempDirectory("graft_ckm_conf").toString
    val src = s"$base/src"
    mkBatch(0 until 10, src)
    // The first start installs the checkpoint manager (by design, above).
    assert(isolationSeenByQuery(src, s"$base/ckpt0") === "false")
    val before = spark.conf.getAll
    assert(!spark.sessionState.conf.contains(Checkpoints.IsolationKey))
    assert(isolationSeenByQuery(src, s"$base/ckpt1") === "false")
    assert(spark.conf.getAll === before)
    intercept[Exception] {
      Checkpoints.start(spark, spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        .writeStream.format("graft.no.such.format"), s"$base/ckpt2")
    }
    assert(spark.conf.getAll === before)
  }

  test("an isolation value the session sets itself is kept, and its queries inherit it") {
    val base = Files.createTempDirectory("graft_ckm_iso").toString
    val src = s"$base/src"
    mkBatch(0 until 10, src)
    spark.conf.set(Checkpoints.IsolationKey, "true")
    try {
      assert(isolationSeenByQuery(src, s"$base/ckpt") === "true")
      assert(spark.conf.get(Checkpoints.IsolationKey) === "true")
    } finally spark.conf.unset(Checkpoints.IsolationKey)
  }

  /** Lines of `src/main/scala` files other than Checkpoints.scala that
    * spell `needle`. */
  private def spelledOutsideOwner(needle: String): Seq[String] = {
    val owner = new java.io.File("src/main/scala/graft/streaming/Checkpoints.scala").getCanonicalFile
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val files = scalaFiles(new java.io.File("src/main/scala"))
    assert(files.exists(_.getCanonicalFile == owner), "scan root must contain Checkpoints.scala")
    for {
      f <- files if f.getCanonicalFile != owner
      (line, i) <- Files.readAllLines(f.toPath).asScala.zipWithIndex
      if line.contains(needle)
    } yield s"${f.getPath}:${i + 1}"
  }

  test("Checkpoints.start is the only place a query gets a checkpoint location") {
    val hits = spelledOutsideOwner("\"checkpointLocation\"")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("Checkpoints is the only main source that names the artifact isolation key") {
    val hits = spelledOutsideOwner("spark.sql.artifact.isolation")
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
