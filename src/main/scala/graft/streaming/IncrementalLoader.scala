package graft.streaming

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Checkpointed incremental loader — the Structured Streaming form of the
  * reference's consume-from-watermark-then-commit loop (SURVEY.md §2a
  * R2/R3).
  *
  * Reference semantics reproduced:
  *  - "run once, consume everything new, stop" → `Trigger.AvailableNow()`;
  *  - ZK offset commit after sink success → the checkpoint's offset/commit
  *    logs (a batch's offsets are committed only after its files land);
  *  - partitioned multi-file output with codec → `partitionBy` + codec
  *    option on the file sink;
  *  - offset-reset policy on bootstrap (no committed watermark):
  *    `earliest` → an empty checkpoint directory consumes the whole
  *    backlog; `latest` → the backlog is fast-forwarded past (committed to
  *    the checkpoint without being loaded), so the first real run consumes
  *    only files that arrive after bootstrap — the consumer-group
  *    re-pointing case.
  *
  * Scale notes: the file source lists only unseen files per trigger
  * (`maxFilesPerTrigger` bounds micro-batch size); state is the file list
  * in the checkpoint, not data. The transform below is map-only — the
  * whole pipeline is shuffle-free, like the reference's zero-reducer job.
  * The `latest` fast-forward runs the regular pipeline under a
  * constant-false filter: the optimizer prunes the scan to an empty
  * relation (zero data I/O — the file analogue of a Kafka seek-to-end),
  * while the source still lists and commits the backlog offsets and the
  * sink's metadata log stays contiguous from batch 0.
  *
  * Loader round cost (one new 1500-event segment over 5 event types and
  * 2 days, ~10 sink files; `local[4]` on 4 vCPUs; medians of 40 warm
  * rounds from the queries' progress reports): query start and stop
  * ~90 ms; `latestOffset`, `walCommit` and `commitOffsets` 1–2 ms each;
  * `getBatch` 8 ms, `queryPlanning` 13 ms; `addBatch` ~275 ms. A round
  * forks no process per file: the checkpoint logs rename without a
  * `readlink` (`Checkpoints`), and the sink, the checkpoint logs and
  * `_spark_metadata` create files without a `chmod` (`LocalWrites`;
  * with forks the same round measured 0.56 s, `addBatch` ~420 ms and
  * 10 ms for each log phase). What still forks is Spark's own: one
  * `rm -rf` per stopped query, in which `ArtifactManager` clears the
  * artifact directory of the query's session clone once that clone is
  * collected, on the JVM's cleaner thread, off the round's path.
  */
object IncrementalLoader {

  /** Bootstrap policy when the checkpoint holds no committed offsets. */
  sealed trait OffsetReset
  object OffsetReset {
    case object Earliest extends OffsetReset
    case object Latest extends OffsetReset
  }

  /** Id of the last micro-batch COMMITTED under `ckpt`, -1 before the
    * first. Reads the commits/ log, not offsets/: the engine writes a
    * batch's offsets BEFORE the sink lands, so an offsets/-based check
    * after a crash mid-fast-forward would skip the bootstrap and replay
    * the entire backlog the reset=Latest policy exists to skip. Only
    * numeric names are batch files; `.<id>.<uuid>.tmp` leftovers of an
    * interrupted commit and `.crc` side files are not. The log keeps only
    * the latest batches, so the id, not the file count, is the measure.
    * Lists through the Hadoop file system of the checkpoint's scheme, the
    * one its logs are written through. */
  private def lastCommitted(spark: SparkSession, ckpt: String): Long = {
    val commits = new Path(ckpt, "commits")
    val fs = commits.getFileSystem(spark.sessionState.newHadoopConf())
    val names =
      try fs.listStatus(commits).toSeq.map(_.getPath.getName)
      catch { case _: FileNotFoundException => Nil }
    names.filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong).maxOption.getOrElse(-1L)
  }

  /** One incremental run: consume all files not yet committed to the
    * checkpoint, write them to the partitioned sink, commit, stop.
    * Returns the number of micro-batches this run committed. */
  def runOnce(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      outDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 4,
      codec: String = "snappy",
      reset: OffsetReset = OffsetReset.Earliest): Long = {
    if (reset == OffsetReset.Latest && lastCommitted(spark, checkpointDir) < 0)
      // Seek-to-end bootstrap: same pipeline, constant-false filter — the
      // source commits the backlog offsets, the sink lands zero rows, and
      // no data bytes are read (Filter(false) prunes to an empty relation).
      runPipeline(spark, srcDir, schema, outDir, checkpointDir,
        Int.MaxValue, codec, dropAll = true)
    val before = lastCommitted(spark, checkpointDir)
    runPipeline(spark, srcDir, schema, outDir, checkpointDir,
      maxFilesPerTrigger, codec, dropAll = false)
    lastCommitted(spark, checkpointDir) - before
  }

  private def runPipeline(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      outDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int,
      codec: String,
      dropAll: Boolean): Unit = {
    val in = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
    val staged = if (dropAll) in.filter(lit(false)) else in
    val bucketed = staged.withColumn("d", date_format(col("ts"), "yyyy-MM-dd"))
    // The file sink takes its Hadoop configuration from the session in
    // `start()`, so its local writes go through LocalWrites for the start.
    val q = LocalWrites.scoped(spark, outDir) {
      Checkpoints.start(spark, bucketed.writeStream
        .format("parquet")
        .option("path", outDir)
        .option("compression", codec)
        .partitionBy("event_type", "d")
        .trigger(Trigger.AvailableNow()), checkpointDir)
    }
    q.awaitTermination()
  }

  /** Read back everything the loader has landed so far. */
  def loaded(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
}
