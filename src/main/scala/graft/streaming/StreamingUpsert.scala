package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming keyed upsert sink — the streaming form of
  * `operators.Ingest.ingestUpsert`: each micro-batch of (key, version,
  * value) updates is merged latest-wins into a persistent keyed state
  * table via `foreachBatch`.
  *
  * Exactly-once story: `foreachBatch` may re-deliver a batch after a
  * failure, so the merge MUST be idempotent — and latest-wins merge is:
  * re-applying the same batch picks the same winners. Atomicity of the
  * state swap is directory-rename (write new state to a staging dir,
  * swap): a reader never sees a half-written table, and a crash between
  * write and swap re-runs the same idempotent merge on restart.
  *
  * Scale shape: state is partitioned parquet; the merge is one
  * key-partitioned full outer join per micro-batch (both sides argmax'd
  * map-side first). At 100 TB you bucket the state table by key so the
  * per-batch join is co-partitioned, exactly like `join_bucketed`.
  */
object StreamingUpsert {

  /** Latest-wins merge of a micro-batch into the state dir (idempotent). */
  def mergeBatch(spark: SparkSession, batch: DataFrame, stateDir: String): Unit = {
    import spark.implicits._
    val bat = batch
      .groupBy($"key")
      .agg(max($"version").as("version"), max_by($"value", $"version").as("value"))
    val statePath = Paths.get(stateDir, "current")
    val retiredPath = Paths.get(stateDir, "retired")
    // fallback to `retired` covers the crash window between the two swap
    // moves below; the redelivered batch then re-merges idempotently
    val cur =
      if (Files.exists(statePath.resolve("_SUCCESS")))
        spark.read.parquet(statePath.toString)
      else if (Files.exists(retiredPath.resolve("_SUCCESS")))
        spark.read.parquet(retiredPath.toString)
      else
        spark.emptyDataFrame
          .withColumn("key", lit(0L)).withColumn("version", lit(0L))
          .withColumn("value", lit(0.0)).limit(0)
    val merged = cur.select($"key", $"version".as("b_version"), $"value".as("b_value"))
      .join(bat.select($"key", $"version".as("d_version"), $"value".as("d_value")),
        Seq("key"), "full_outer")
      .select($"key",
        when($"d_version".isNotNull && ($"b_version".isNull || $"d_version" >= $"b_version"),
          $"d_version").otherwise($"b_version").as("version"),
        when($"d_version".isNotNull && ($"b_version".isNull || $"d_version" >= $"b_version"),
          $"d_value").otherwise($"b_value").as("value"))
    // stage + atomic swap: readers never observe a partial state table
    val staging = Paths.get(stateDir, s"staging")
    merged.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val retired = Paths.get(stateDir, "retired")
    deleteRecursively(retired)
    if (Files.exists(statePath)) Files.move(statePath, retired)
    Files.move(staging, statePath, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(retired)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }

  /** Run one incremental upsert pass over a streamed source of updates:
    * consume everything new (checkpointed), merge per micro-batch, stop. */
  def runOnce(spark: SparkSession, updates: DataFrame, stateDir: String,
              checkpointDir: String): Unit = {
    val q = Checkpoints.start(spark, updates.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(spark, batch, stateDir)
      }
      .trigger(Trigger.AvailableNow()), checkpointDir)
    q.awaitTermination()
  }

  /** Current materialized state. */
  def state(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(Paths.get(stateDir, "current").toString)
}
