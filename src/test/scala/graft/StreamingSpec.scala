package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Streaming-only semantics the batch oracle can't grade: watermark
  * late-data drop, stateful dedup within watermark, and checkpointed
  * incremental-load resume (the reference's R2/R3). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("watermark drops late events from append-mode tumbling windows") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("wstart"), $"n")
    val q = agg.writeStream.format("memory").queryName("wm_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((ts(1), 1.0), (ts(5), 1.0))    // window [10:00,10:10)
      q.processAllAvailable()
      input.addData((ts(35), 1.0))                 // advances watermark to 10:25
      q.processAllAvailable()
      input.addData((ts(2), 99.0))                 // late: before watermark → dropped
      input.addData((ts(55), 1.0))                 // advances watermark to 10:45
      q.processAllAvailable()
      val rows = spark.table("wm_out").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
      assert(rows(ts(0)) === 2L, "late event must not be counted")
    } finally q.stop()
  }

  test("windowed top-k runs as streaming agg + foreachBatch rank") {
    // The production form of stream_topk_window: the windowed count is
    // incremental engine state (watermark-bounded); the rank applies per
    // micro-batch output in foreachBatch (rank-over-agg isn't
    // incrementalizable in-engine).
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val counts = input.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val got = scala.collection.mutable.Map[(Timestamp, String), (Int, Long)]()
    val q = counts.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ranked = batch
          .withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"w").orderBy($"n".desc, $"event_type".asc)))
          .filter($"rnk" <= 2)
          .select($"w.start".as("ws"), $"event_type", $"rnk", $"n")
          .collect()
        got.synchronized {
          ranked.foreach(r => got((r.getTimestamp(0), r.getString(1))) =
            (r.getInt(2), r.getLong(3)))
        }
      }
      .start()
    try {
      input.addData((ts(1), "click"), (ts(2), "click"), (ts(3), "view"),
                    (ts(4), "view"), (ts(5), "view"), (ts(6), "error"))
      q.processAllAvailable()
      // window [10:00,10:10): view×3 rank 1, click×2 rank 2, error pruned
      assert(got((ts(0), "view")) === ((1, 3L)))
      assert(got((ts(0), "click")) === ((2, 2L)))
      assert(!got.contains((ts(0), "error")))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups across micro-batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val deduped = input.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, ts(1)), (2L, ts(2)))
      q.processAllAvailable()
      input.addData((1L, ts(3)), (3L, ts(4)))      // 1L is a duplicate
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream-stream interval join pairs purchases with preceding clicks only") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val c = clicks.toDF().toDF("c_user", "click_id", "c_ts")
      .withWatermark("c_ts", "1 hour")
    val p = purchases.toDF().toDF("p_user", "purchase_id", "p_ts")
      .withWatermark("p_ts", "1 hour")
    // same interval condition as the batch-graded stream_join_interval
    val joined = p.join(c,
      $"p_user" === $"c_user" &&
        $"c_ts" <= $"p_ts" && $"c_ts" >= $"p_ts" - expr("INTERVAL 30 MINUTES"))
      .select($"purchase_id", $"click_id")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData((7L, 100L, ts(1)), (7L, 101L, ts(20)), (8L, 102L, ts(2)))
      purchases.addData((7L, 200L, ts(25)), (8L, 201L, ts(40)))
      q.processAllAvailable()
      val got = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // purchase 200 @10:25 pairs with clicks 100 @10:01 and 101 @10:20;
      // purchase 201 @10:40 sees click 102 @10:02 outside the 30-min bound
      assert(got === Set((200L, 100L), (200L, 101L)))
    } finally q.stop()
  }

  test("incremental loader consumes once, resumes from checkpoint, idempotent re-run") {
    val base = Files.createTempDirectory("graft_inc").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def mkBatch(ids: Range, path: String): Unit =
      ids.map(i => (i.toLong, ts(i % 60), s"t${i % 3}", i * 1.0))
        .toDF("event_id", "ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(path)

    mkBatch(0 until 40, src)
    val schema = spark.read.parquet(src).schema
    streaming.IncrementalLoader.runOnce(spark, src, schema, out, ckpt)
    val afterA = streaming.IncrementalLoader.loaded(spark, out)
    assert(afterA.count() === 40)

    mkBatch(40 until 70, src)                      // new files arrive
    streaming.IncrementalLoader.runOnce(spark, src, schema, out, ckpt)
    val afterB = streaming.IncrementalLoader.loaded(spark, out)
    assert(afterB.count() === 70, "resume must pick up only new files")
    assert(afterB.select("event_id").distinct().count() === 70,
      "no event may be loaded twice")

    streaming.IncrementalLoader.runOnce(spark, src, schema, out, ckpt)
    assert(streaming.IncrementalLoader.loaded(spark, out).count() === 70,
      "re-run with no new input must be a no-op")
  }

  test("manifest foreachBatch pipeline: per-batch curate + cell deltas serve the batch manifest") {
    // The production form of stream_train_manifest: docs land through a
    // checkpointed file source in two arrival waves; each micro-batch
    // curates ITSELF against the frozen artifacts (LM, cluster keepers —
    // per-dataset state, built once before the stream) and appends its
    // manifest cell partials. The served merge (sums + XOR) must equal
    // the batch manifest bit-for-bit, and a restart with no new arrivals
    // must append nothing.
    import org.apache.spark.sql.functions._
    val docs = sources.Tables.documents(spark, TestSpark.Sf).cache()
    val lm = llm.Corpus.lmModel(spark, TestSpark.Sf)
    val keepers = llm.Dedup.clusterKeepers(spark, TestSpark.Sf).localCheckpoint()
    val tokens = docs.selectExpr("doc_id",
      "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens").cache()
    val wmid = docs.agg(floor(max($"doc_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_mfstrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")

    def runWave(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val kept = llm.Corpus.curateBatch(spark, TestSpark.Sf, b,
            llm.Corpus.scoreBigrams(spark, llm.Corpus.docBigrams(spark, b), lm),
            keepers)
          streaming.CorpusStream.manifestPartials(kept, tokens)
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    docs.filter($"doc_id" <= wmid).write.mode("append").parquet(src)
    runWave()
    docs.filter($"doc_id" > wmid).write.mode("append").parquet(src)
    runWave()

    def served() = spark.read.parquet(out)
      .groupBy($"split", $"shard")
      .agg(sum($"n_docs").as("n_docs"), sum($"n_tokens").as("n_tokens"),
        expr("bit_xor(content_digest)").as("content_digest"))
      .orderBy($"split", $"shard")
      .collect().map(_.toSeq).toSeq
    val batch = llm.Corpus.trainManifest.run(spark, TestSpark.Sf)
      .collect().map(_.toSeq).toSeq
    assert(served() === batch,
      "served manifest must equal the batch manifest bit-for-bit")

    // Kill/restart leg: the checkpoint already covers both waves, so a
    // restart with no new arrivals appends no delta and leaves the
    // served manifest unchanged.
    val deltaRows = spark.read.parquet(out).count()
    runWave()
    assert(spark.read.parquet(out).count() === deltaRows,
      "restart with no new data must not re-append any cell partials")
    assert(served() === batch, "served manifest unchanged by idempotent restart")
  }

  test("contamination foreachBatch pipeline: incremental arrivals, no reprocessing on resume") {
    // The production form of stream_contamination: docs land incrementally
    // (here: two parquet arrival waves, the incremental-loader source
    // shape), each micro-batch runs CorpusStream.contaminationBatch
    // against the STATIC broadcast benchmark gram set inside foreachBatch,
    // and results append to the sink. The checkpoint guarantees wave-1
    // files are not re-read on the wave-2 run.
    val docs = sources.Tables.documents(spark, TestSpark.Sf).cache()
    val bench = streaming.CorpusStream.benchGrams(spark, docs).cache()
    val wmid = docs.agg(org.apache.spark.sql.functions.floor(
      org.apache.spark.sql.functions.max($"doc_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_cstrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")

    def runWave(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          streaming.CorpusStream.contaminationBatch(spark, b, bench)
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    docs.filter($"doc_id" <= wmid).write.mode("append").parquet(src)
    runWave()
    docs.filter($"doc_id" > wmid).write.mode("append").parquet(src)
    runWave()

    val batchTruth = llm.Corpus.contamination.run(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val acc = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(acc.toSet === batchTruth,
      "accumulated incremental output must equal the batch contamination")
    assert(acc.length === acc.map(_._1).distinct.length,
      "a doc counted twice means wave-1 files were reprocessed")
    // The no-reprocessing assertion above only bites if both waves carry
    // contaminated docs — pin that the fixture split actually does.
    assert(batchTruth.exists(_._1 <= wmid) && batchTruth.exists(_._1 > wmid),
      "fixture must plant contaminated docs in both arrival waves")
  }

  test("perplexity foreachBatch pipeline: frozen LM, incremental arrivals, batch parity") {
    // The production form of stream_perplexity: the bigram LM is trained
    // once (persisted layout), then documents stream through it in
    // checkpointed file-source waves — each micro-batch scored by
    // CorpusStream.perplexityBatch and appended to the sink. Scoring is
    // stateless against the frozen model, so the accumulated sink must
    // equal the whole-corpus batch query row-for-row.
    val docs = sources.Tables.documents(spark, TestSpark.Sf).cache()
    val lm = llm.Corpus.lmModel(spark, TestSpark.Sf)
    val wmid = docs.agg(org.apache.spark.sql.functions.floor(
      org.apache.spark.sql.functions.max($"doc_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_pstrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")

    def runWave(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          streaming.CorpusStream.perplexityBatch(spark, b, lm)
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    docs.filter($"doc_id" <= wmid).write.mode("append").parquet(src)
    runWave()
    docs.filter($"doc_id" > wmid).write.mode("append").parquet(src)
    runWave()

    val batchTruth = llm.Corpus.perplexity.run(spark, TestSpark.Sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val acc = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
    assert(acc.length === batchTruth.size,
      "a doc scored twice means wave-1 files were reprocessed")
    acc.foreach { case (id, v) =>
      assert(batchTruth(id) === v, s"doc $id: incremental score != batch score")
    }
  }

  test("sketch cube foreachBatch pipeline: appended deltas serve the batch answer") {
    // The production form of stream_sketch_merge: events land incrementally
    // (two parquet arrival waves through a checkpointed file source); each
    // micro-batch appends its own per-(event_type, day) HLL sketches to the
    // cube-delta sink — no read-modify-write of prior state — and the serve
    // step unions cells at read time. Associative merge means the served
    // answer must equal the one-pass batch cube EXACTLY, and the checkpoint
    // guarantees wave-1 events are sketched once.
    import org.apache.spark.sql.functions._
    val ev = sources.Tables.events(spark, TestSpark.Sf)
      .select($"event_id", $"event_type", $"ts", $"user_id").cache()
    val mid = ev.agg(floor(max($"event_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_skstrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")

    def runWave(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.groupBy(col("event_type"), to_date(col("ts")).as("day"))
            .agg(hll_sketch_agg(col("user_id")).as("sk"))
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    ev.filter($"event_id" <= mid).write.mode("append").parquet(src)
    runWave()
    ev.filter($"event_id" > mid).write.mode("append").parquet(src)
    runWave()

    val served = spark.read.parquet(out)
      .groupBy($"event_type")
      .agg(countDistinct($"day").as("n_days"),
        hll_sketch_estimate(hll_union_agg($"sk")).as("est_users"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // Raw-estimate batch truth (the registry form now grades envelope
    // booleans instead of exposing the estimate — rebuild it directly).
    val batchTruth = ev
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(hll_sketch_agg($"user_id").as("sk"))
      .groupBy($"event_type")
      .agg(countDistinct($"day").as("n_days"),
        hll_sketch_estimate(hll_union_agg($"sk")).as("est_users"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(served === batchTruth,
      "served sketch cube must equal the one-pass batch cube exactly")
  }

  test("quantile cube foreachBatch pipeline: appended bucket counts serve the batch answer") {
    // The production form of stream_qsketch_merge: events land through a
    // checkpointed file source in two arrival waves; each micro-batch
    // appends its own per-(event_type, day, bucket) integer log-bin
    // COUNTS — no read-modify-write — and the serve step sums cells at
    // read time. Exact integer addition means the served quantile cube
    // must be BIT-EQUAL to the one-pass batch cube, including the decoded
    // p50/p90/p99 estimates, and the checkpoint guarantees wave-1 events
    // are binned exactly once.
    import org.apache.spark.sql.functions._
    val binned = operators.Aggregates.qsketchBinned(spark, TestSpark.Sf)
      .select($"event_id", $"event_type", $"day", $"cv", $"bid").cache()
    val mid = binned.agg(floor(max($"event_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_qskstrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")

    def runWave(): Unit = {
      val q = spark.readStream.schema(binned.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.groupBy(col("event_type"), col("day"), col("bid"))
            .agg(count(lit(1)).as("c"))
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    binned.filter($"event_id" <= mid).write.mode("append").parquet(src)
    runWave()
    binned.filter($"event_id" > mid).write.mode("append").parquet(src)
    runWave()

    val servedSketch = spark.read.parquet(out)
      .groupBy($"event_type", $"bid").agg(sum($"c").as("c"))
    val served = operators.Aggregates
      .qsketchServe(spark, servedSketch, binned)
      .collect().map(_.toSeq).toSeq
    val batch = operators.Aggregates.qsketchMerge.run(spark, TestSpark.Sf)
      .collect().map(_.toSeq).toSeq
    assert(served === batch,
      "served quantile cube must equal the one-pass batch cube bit-for-bit")

    // Kill/restart leg (VERDICT r11 item 6): the query is stopped after
    // each AvailableNow drain; a RESTART against the same checkpoint with
    // no new arrivals must append nothing — the committed offsets already
    // cover both waves, so re-binning (and double-counting) is
    // structurally impossible. This is the exactly-once property the
    // append-only delta design sells.
    val deltaRowsBefore = spark.read.parquet(out).count()
    runWave()
    assert(spark.read.parquet(out).count() === deltaRowsBefore,
      "restart with no new data must not re-append any delta rows")
    val servedAfterRestart = operators.Aggregates
      .qsketchServe(spark,
        spark.read.parquet(out).groupBy($"event_type", $"bid")
          .agg(sum($"c").as("c")),
        binned)
      .collect().map(_.toSeq).toSeq
    assert(servedAfterRestart === batch,
      "served cube must be unchanged by an idempotent restart")
  }

  test("resample foreachBatch pipeline: appended OHLC partials serve the batch answer") {
    // The production form of stream_resample: events land incrementally
    // (two parquet arrival waves through a checkpointed file source); each
    // micro-batch appends its own per-(user, day) OHLC PARTIALS — exact
    // cents sums, offset anchors — and the serve step merges them with the
    // associative combine. Merging must equal the one-pass batch resample
    // row-for-row; the checkpoint guarantees wave-1 events reduce once.
    import org.apache.spark.sql.functions._
    val ev = sources.Tables.events(spark, TestSpark.Sf)
      .select($"user_id", $"ts", $"event_id", $"value").cache()
    val mid = ev.agg(floor(max($"event_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_rsstrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")

    def runWave(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
            .agg(count(lit(1)).as("n"),
              // exact cents partial, mirroring stream_resample
              expr("sum(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT))").as("sum_c"),
              min(col("event_id")).as("first_eid"),
              min_by(col("value"), col("event_id")).as("open"),
              max(col("event_id")).as("last_eid"),
              max_by(col("value"), col("event_id")).as("close"),
              min(col("value")).as("lo_v"), max(col("value")).as("hi_v"))
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    ev.filter($"event_id" <= mid).write.mode("append").parquet(src)
    runWave()
    ev.filter($"event_id" > mid).write.mode("append").parquet(src)
    runWave()

    val served = spark.read.parquet(out)
      .groupBy($"user_id", $"day")
      .agg(sum($"n").as("n"),
        round(min_by($"open", $"first_eid"), 4).as("open"),
        round(max_by($"close", $"last_eid"), 4).as("close"),
        round(min($"lo_v"), 4).as("lo"),
        round(max($"hi_v"), 4).as("hi"),
        (expr("sum(sum_c) div sum(n)").cast("double") / 10000.0).as("avg_v"))
      .collect().map(_.toSeq).toSet
    val batchTruth = operators.TimeSeries.resample.run(spark, TestSpark.Sf)
      .collect().map(_.toSeq).toSet
    assert(served === batchTruth,
      "merged OHLC partials must equal the one-pass batch resample exactly")
  }

  test("KS-drift foreachBatch pipeline: appended count partials serve the batch answer") {
    // The production form of stream_ks_drift: events land incrementally;
    // each micro-batch appends per-value INTEGER count partials (exact
    // cents keys — associative under sum at any wave split), and the
    // serve step merges them into the exact rational KS statistic. Must
    // equal the one-pass batch test bit-for-bit.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    val ev = sources.Tables.events(spark, TestSpark.Sf)
      .filter($"event_type".isin("view", "purchase"))
      .select($"event_id", $"event_type", $"value").cache()
    val mid = ev.agg(floor(max($"event_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_ksstrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def runWave(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cv"),
              col("event_type"))
            .groupBy(col("cv"))
            .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c1"),
              sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ev.filter($"event_id" <= mid).write.mode("append").parquet(src)
    runWave()
    ev.filter($"event_id" > mid).write.mode("append").parquet(src)
    runWave()
    val counts = spark.read.parquet(out)
      .groupBy($"cv").agg(sum($"c1").as("c1"), sum($"c2").as("c2"))
    val w = W.orderBy($"cv").rowsBetween(Long.MinValue, 0)
    val cum = counts
      .withColumn("cum1", sum($"c1").over(w))
      .withColumn("cum2", sum($"c2").over(w)).localCheckpoint()
    val tot = cum.agg(max($"cum1").as("n1"), max($"cum2").as("n2"))
    val served = cum.crossJoin(broadcast(tot))
      .agg(first($"n1").as("n1"), first($"n2").as("n2"),
        max(abs($"cum1" * $"n2" - $"cum2" * $"n1")).as("d_num"))
      .select($"n1", $"n2", $"d_num", ($"n1" * $"n2").as("d_den"),
        ($"d_num".cast("double") / ($"n1" * $"n2").cast("double")).as("d"))
      .collect().map(_.toSeq).toSet
    val batchTruth = operators.Analytics.ksTest.run(spark, TestSpark.Sf)
      .collect().map(_.toSeq).toSet
    assert(served === batchTruth,
      "merged count partials must reproduce the batch KS statistic exactly")
  }

  test("Welch-t foreachBatch pipeline: 1-row sufficient-stat partials serve the batch answer") {
    // The production form of stream_ttest: each micro-batch appends ONE
    // row of BIGINT sufficient statistics (n, Σcents, Σcents²) per
    // cohort — the cheapest streaming state in the registry — and the
    // serve step sums them and applies the identical Welch fold. Must
    // equal the one-pass batch test bit-for-bit.
    import org.apache.spark.sql.functions._
    val ev = sources.Tables.events(spark, TestSpark.Sf)
      .filter($"event_type".isin("view", "purchase"))
      .select($"event_id", $"event_type", $"value").cache()
    val mid = ev.agg(floor(max($"event_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_tstrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def runWave(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cv"),
              col("event_type"))
            .agg(
              sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n1"),
              sum(when(col("event_type") === "view", col("cv")).otherwise(0L)).as("s1"),
              sum(when(col("event_type") === "view", col("cv") * col("cv")).otherwise(0L)).as("q1"),
              sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n2"),
              sum(when(col("event_type") === "purchase", col("cv")).otherwise(0L)).as("s2"),
              sum(when(col("event_type") === "purchase", col("cv") * col("cv")).otherwise(0L)).as("q2"))
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ev.filter($"event_id" <= mid).write.mode("append").parquet(src)
    runWave()
    ev.filter($"event_id" > mid).write.mode("append").parquet(src)
    runWave()
    val served = spark.read.parquet(out)
      .agg(sum($"n1").as("n1"), sum($"s1").as("s1"), sum($"q1").as("q1"),
        sum($"n2").as("n2"), sum($"s2").as("s2"), sum($"q2").as("q2"))
      .withColumn("md_num", $"s1" * $"n2" - $"s2" * $"n1")
      .withColumn("v1_num", $"n1" * $"q1" - $"s1" * $"s1")
      .withColumn("v2_num", $"n2" * $"q2" - $"s2" * $"s2")
      .withColumn("va", $"v1_num".cast("double")
        / ($"n1" * $"n1" * ($"n1" - 1L)).cast("double"))
      .withColumn("vb", $"v2_num".cast("double")
        / ($"n2" * $"n2" * ($"n2" - 1L)).cast("double"))
      .select($"n1", $"n2", $"md_num", $"v1_num", $"v2_num",
        ($"md_num".cast("double") / ($"n1" * $"n2").cast("double")
          / sqrt($"va" + $"vb")).as("t"),
        (($"va" + $"vb") * ($"va" + $"vb")
          / ($"va" * $"va" / ($"n1" - 1L).cast("double")
            + $"vb" * $"vb" / ($"n2" - 1L).cast("double"))).as("df"))
      .collect().map(_.toSeq).toSet
    val batchTruth = operators.Analytics.ttestWelch.run(spark, TestSpark.Sf)
      .collect().map(_.toSeq).toSet
    assert(served === batchTruth,
      "merged sufficient-stat partials must reproduce the batch Welch t exactly")
  }

  test("mSPRT foreachBatch pipeline: per-(arm, day) partials serve the batch log-lambda path") {
    // The production form of stream_msprt (r14): each micro-batch
    // appends per-(arm, day) BIGINT sufficient statistics through a
    // REAL checkpointed AvailableNow drive; the serve step re-sums the
    // appended partials and runs the shared msprtFold — the always-valid
    // monitoring path must equal the one-pass batch mSPRT bit-for-bit
    // at any arrival split.
    import org.apache.spark.sql.functions._
    val ev = sources.Tables.events(spark, TestSpark.Sf)
      .select($"event_id", $"user_id", $"ts", $"value").cache()
    val mid = ev.agg(floor(max($"event_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_msprtstrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def runWave(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select(pmod(col("user_id"), lit(2L)).as("arm"),
              to_date(col("ts")).as("day"),
              expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
            .groupBy(col("arm"), col("day"))
            .agg(count(lit(1)).as("dn"), sum(col("c")).as("dsc"),
              sum(col("c") * col("c")).as("dsc2"))
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ev.filter($"event_id" <= mid).write.mode("append").parquet(src)
    runWave()
    ev.filter($"event_id" > mid).write.mode("append").parquet(src)
    runWave()
    val merged = spark.read.parquet(out)
      .groupBy($"arm", $"day")
      .agg(sum($"dn").as("dn"), sum($"dsc").as("dsc"), sum($"dsc2").as("dsc2"))
    val served = operators.Analytics.msprtFold(merged)
      .collect().map(_.toSeq).toSet
    val batchTruth = operators.Analytics.msprt.run(spark, TestSpark.Sf)
      .collect().map(_.toSeq).toSet
    assert(served === batchTruth,
      "checkpointed per-(arm, day) partials must reproduce the batch mSPRT path exactly")
  }

  test("cointegration foreachBatch pipeline: per-(type, day) cents partials serve the batch ADF path") {
    // The production form of stream_cointegration (r16): each
    // micro-batch appends per-(event_type, day) BIGINT cents sums
    // through a REAL checkpointed AvailableNow drive; the serve step
    // re-sums the appended partials and runs the shared Engle–Granger
    // fold — the drifting-pair monitor must equal the one-pass batch
    // ts_cointegration bit-for-bit at any arrival split.
    import org.apache.spark.sql.functions._
    val ev = sources.Tables.events(spark, TestSpark.Sf)
      .filter($"event_type".isin("click", "purchase"))
      .select($"event_id", $"event_type", $"ts", $"value").cache()
    val mid = ev.agg(floor(max($"event_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_cointstrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def runWave(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select(col("event_type"), to_date(col("ts")).as("d"),
              expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
            .groupBy(col("event_type"), col("d"))
            .agg(sum(col("c")).as("v"))
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ev.filter($"event_id" <= mid).write.mode("append").parquet(src)
    runWave()
    ev.filter($"event_id" > mid).write.mode("append").parquet(src)
    runWave()
    val merged = spark.read.parquet(out)
      .groupBy($"event_type", $"d").agg(sum($"v").as("v"))
    val served = operators.TimeSeries.cointegrationFold(spark, merged)
      .collect().map(_.toSeq).toSet
    val batchTruth = operators.TimeSeries.cointegration.run(spark, TestSpark.Sf)
      .collect().map(_.toSeq).toSet
    assert(served === batchTruth,
      "checkpointed per-(type, day) cents partials must reproduce the batch Engle–Granger path exactly")
  }

  test("cdc foreachBatch pipeline: appended compaction partials serve the batch answer") {
    // The production form of stream_cdc: the change log lands incrementally
    // (two arrival waves through a checkpointed file source); each
    // micro-batch compacts to per-key partials — tombstone FLAG carried,
    // never pre-filtered — appended to the partials sink; serve re-runs
    // the same argmax-by-seq folds and filters tombstones only then.
    import org.apache.spark.sql.functions._
    // Denser key space than the registered query's (%100 instead of %1000):
    // sf0.001 has ~1000 events, so %1000 keys are singletons and no key
    // could ever be tombstoned in wave 1 and overwritten in wave 2 — the
    // exact cross-wave semantics this test exists to pin. Batch truth is
    // the same compaction run one-shot over the same log.
    val log = sources.Tables.events(spark, TestSpark.Sf).select(
      pmod($"event_id", lit(100L)).as("k"),
      $"event_id".as("seq"),
      when(pmod($"event_id", lit(7L)) === 0, 1).otherwise(0).as("del"),
      $"value").cache()
    val mid = log.agg(floor(max($"seq") / 2.0).cast("long")).collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_cdcstrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")

    def runWave(): Unit = {
      val q = spark.readStream.schema(log.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.groupBy(col("k"))
            .agg(max_by(col("del"), col("seq")).as("last_del"),
              max_by(col("value"), col("seq")).as("last_value"),
              max(col("seq")).as("last_seq"),
              count(lit(1)).as("n_changes"))
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    log.filter($"seq" <= mid).write.mode("append").parquet(src)
    runWave()
    // cross-wave semantics must be exercised: some key's wave-1 state ends
    // in a tombstone that a wave-2 change must resurrect
    val deadAtMid = spark.read.parquet(out).filter($"last_del" === 1)
      .select($"k").collect().map(_.getLong(0)).toSet
    val laterKeys = log.filter($"seq" > mid && $"del" === 0)
      .select($"k").distinct().collect().map(_.getLong(0)).toSet
    assert(deadAtMid.intersect(laterKeys).nonEmpty,
      "fixture must contain a wave-1 tombstone later overwritten")
    log.filter($"seq" > mid).write.mode("append").parquet(src)
    runWave()

    val served = spark.read.parquet(out)
      .groupBy($"k")
      .agg(max_by($"last_del", $"last_seq").as("last_del"),
        max_by($"last_value", $"last_seq").as("last_value"),
        max($"last_seq").as("last_seq"),
        sum($"n_changes").as("n_changes"))
      .filter($"last_del" === 0)
      .select($"k", round($"last_value", 4).as("value"), $"last_seq", $"n_changes")
      .collect().map(_.toSeq).toSet
    val batchTruth = log.groupBy($"k")
      .agg(max_by($"del", $"seq").as("last_del"),
        max_by($"value", $"seq").as("last_value"),
        max($"seq").as("last_seq"),
        count(lit(1)).as("n_changes"))
      .filter($"last_del" === 0)
      .select($"k", round($"last_value", 4).as("value"), $"last_seq", $"n_changes")
      .collect().map(_.toSeq).toSet
    assert(served === batchTruth,
      "merged compaction partials must equal the one-pass batch compaction exactly")
  }

  test("incremental dedup foreachBatch pipeline: persisted base + appended delta, no reprocessing on resume") {
    // The production form of stream_dedup_incremental: post-watermark docs
    // land incrementally (two parquet arrival waves through a checkpointed
    // file source); each micro-batch shingles ONLY its own docs, runs
    // Dedup.dedupIncrement against the immutable persisted base layouts
    // plus the appended delta signature parquet, appends its pairs to the
    // sink and its signatures to the delta. The accumulated sink must equal
    // the batch incremental answer, with no pair emitted twice on resume.
    import org.apache.spark.sql.functions.{broadcast, floor => sfloor, max => smax}
    val docs = sources.Tables.documents(spark, TestSpark.Sf).cache()
    val wmid = docs.agg(sfloor(smax($"doc_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val truth = llm.Dedup.incremental.run(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Split the batch where it provably exercises the delta path: seat the
    // wave seam between the two ids of a within-batch pair, so that pair
    // can only be found by verifying wave 2 against wave 1's appended
    // signatures (not against the persisted base).
    val seam = truth.filter(_._1 > wmid).map(_._1).min
    assert(truth.exists(p => p._1 > wmid && p._1 <= seam && p._2 > seam),
      "fixture must plant a cross-seam within-batch pair")

    val base = Files.createTempDirectory("graft_dstrm").toString
    val (src, out, ckpt, state) =
      (s"$base/src", s"$base/out", s"$base/ckpt", s"$base/state")
    val bounds = docs.agg(sfloor(smax($"doc_id") / 2.0).cast("long").as("wm"))
    val baseSh = llm.Dedup.bucketedSignatures(spark, TestSpark.Sf)
      .join(broadcast(bounds), $"doc_id" <= $"wm")
      .select($"doc_id", $"shingles", $"n")
    val basePref = llm.Dedup.bucketedPrefixes(spark, TestSpark.Sf)
      .join(broadcast(bounds), $"doc_id" <= $"wm")
      .select($"doc_id", $"n", $"pos", $"hv")

    def runWave(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val waveSh = llm.Dedup.shingleOf(spark, b.select($"doc_id", $"text")).cache()
          val delta =
            if (new java.io.File(state, "_SUCCESS").exists())
              Some(spark.read.parquet(state))
            else None
          llm.Dedup.dedupIncrement(spark, baseSh, basePref, delta, waveSh)
            .write.mode("append").parquet(out)
          waveSh.write.mode("append").parquet(state)
          waveSh.unpersist()
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    docs.filter($"doc_id" > wmid && $"doc_id" <= seam).write.mode("append").parquet(src)
    runWave()
    docs.filter($"doc_id" > seam).write.mode("append").parquet(src)
    runWave()

    val acc = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(acc.toSet === truth,
      "accumulated incremental output must equal the batch incremental answer")
    assert(acc.length === acc.distinct.length,
      "a pair emitted twice means wave-1 files were reprocessed or a seam double-counted")
  }

  test("streaming clustering: per-micro-batch label merge converges to the full clustering") {
    // The whole recurring dedup story composed end-to-end: docs arrive in
    // waves through a checkpointed file source; each micro-batch runs
    // dedupIncrement (new pairs vs persisted base + appended delta) and
    // then mergeLabels (reduced-graph merge into the label state, stored
    // as parquet and replaced atomically per batch). After all waves, the
    // label state must equal llm_dedup_cluster's full-corpus clustering —
    // no full CC re-run ever happened on the stream side.
    import org.apache.spark.sql.functions.{broadcast, floor => sfloor, max => smax}
    val docs = sources.Tables.documents(spark, TestSpark.Sf).cache()
    val wmid = docs.agg(sfloor(smax($"doc_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val truthPairs = llm.Dedup.incremental.run(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val seam = truthPairs.filter(_._1 > wmid).map(_._1).min
    val base = Files.createTempDirectory("graft_cstrm2").toString
    val (src, ckpt, state) = (s"$base/src", s"$base/ckpt", s"$base/labels")
    val bounds = docs.agg(sfloor(smax($"doc_id") / 2.0).cast("long").as("wm"))
    val baseSh = llm.Dedup.bucketedSignatures(spark, TestSpark.Sf)
      .join(broadcast(bounds), $"doc_id" <= $"wm")
      .select($"doc_id", $"shingles", $"n")
    val basePref = llm.Dedup.bucketedPrefixes(spark, TestSpark.Sf)
      .join(broadcast(bounds), $"doc_id" <= $"wm")
      .select($"doc_id", $"n", $"pos", $"hv")
    val deltaDir = s"$base/delta"
    // Bootstrap the label state with the corpus-only clustering — the
    // persisted labels layout the incremental path starts from.
    llm.Dedup.corpusLabels(spark, TestSpark.Sf)
      .write.mode("overwrite").parquet(s"$state/v0")
    var stateVersion = 0

    def runWave(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val waveSh = llm.Dedup.shingleOf(spark, b.select($"doc_id", $"text")).cache()
          val delta =
            if (new java.io.File(deltaDir, "_SUCCESS").exists())
              Some(spark.read.parquet(deltaDir))
            else None
          val newPairs = llm.Dedup.dedupIncrement(spark, baseSh, basePref,
              delta, waveSh)
            .select($"id_a".as("src"), $"id_b".as("dst"))
          val merged = llm.Dedup.mergeLabels(
            spark.read.parquet(s"$state/v$stateVersion"), newPairs)
          // version the label state rather than overwrite-in-place: the
          // merge reads the previous version lazily while writing the next
          stateVersion += 1
          merged.write.mode("overwrite").parquet(s"$state/v$stateVersion")
          waveSh.write.mode("append").parquet(deltaDir)
          waveSh.unpersist()
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    docs.filter($"doc_id" > wmid && $"doc_id" <= seam).write.mode("append").parquet(src)
    runWave()
    docs.filter($"doc_id" > seam).write.mode("append").parquet(src)
    runWave()

    val streamed = spark.read.parquet(s"$state/v$stateVersion").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = llm.Dedup.cluster.run(spark, TestSpark.Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === full,
      "streamed label state must converge to the full-corpus clustering")
    assert(stateVersion >= 2, "both waves must have produced a merge")
  }

  test("offset reset=latest skips the pre-bootstrap backlog, then resumes normally") {
    val base = Files.createTempDirectory("graft_inc_latest").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def mkBatch(ids: Range, path: String): Unit =
      ids.map(i => (i.toLong, ts(i % 60), s"t${i % 3}", i * 1.0))
        .toDF("event_id", "ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(path)

    mkBatch(0 until 40, src)                       // pre-existing backlog
    val schema = spark.read.parquet(src).schema
    // Bootstrap with reset=latest: the 40 backlog events must NOT load.
    streaming.IncrementalLoader.runOnce(spark, src, schema, out, ckpt,
      reset = streaming.IncrementalLoader.OffsetReset.Latest)
    def dataFiles(f: java.io.File): Int =
      if (!f.exists()) 0
      else if (f.isFile) { if (f.getName.endsWith(".parquet")) 1 else 0 }
      else f.listFiles().filterNot(_.getName == "_spark_metadata").map(dataFiles).sum
    assert(dataFiles(new java.io.File(out)) === 0,
      "reset=latest must not load the pre-bootstrap backlog")

    mkBatch(40 until 55, src)                      // post-bootstrap arrivals
    streaming.IncrementalLoader.runOnce(spark, src, schema, out, ckpt,
      reset = streaming.IncrementalLoader.OffsetReset.Latest)
    val loaded = streaming.IncrementalLoader.loaded(spark, out)
    assert(loaded.count() === 15, "only post-bootstrap files may load")
    assert(loaded.agg(min($"event_id")).head.getLong(0) === 40L)

    // Once bootstrapped, reset no longer applies: plain resume semantics.
    mkBatch(55 until 60, src)
    streaming.IncrementalLoader.runOnce(spark, src, schema, out, ckpt,
      reset = streaming.IncrementalLoader.OffsetReset.Latest)
    assert(streaming.IncrementalLoader.loaded(spark, out).count() === 20)
  }

  test("batch session windows match hand-computed sessions for one user") {
    val events = Seq(
      (1L, ts(0), 1.0), (1L, ts(5), 1.0), (1L, ts(9), 1.0),   // session 1
      (1L, ts(30), 1.0), (1L, ts(35), 1.0)                    // session 2
    ).toDF("user_id", "ts", "value")
    val out = events.groupBy(session_window($"ts", "10 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"session_window.start".as("s"), $"session_window.end".as("e"), $"n")
      .orderBy($"s").collect()
    assert(out.length === 2)
    assert(out(0).getTimestamp(0) === ts(0) && out(0).getTimestamp(1) === ts(19)
      && out(0).getLong(2) === 3)
    assert(out(1).getTimestamp(0) === ts(30) && out(1).getTimestamp(1) === ts(45)
      && out(1).getLong(2) === 2)
  }

  test("quality-classifier foreachBatch pipeline: incremental arrivals, batch parity") {
    // The production form of stream_quality: the frozen linear classifier
    // is a pure per-document projection, so each checkpointed file-source
    // micro-batch scores independently and appends — the simplest
    // possible incremental curation op, and the accumulated sink must
    // equal the whole-corpus batch query row-for-row.
    val docs = sources.Tables.documents(spark, TestSpark.Sf).cache()
    val wmid = docs.agg(org.apache.spark.sql.functions.floor(
      org.apache.spark.sql.functions.max($"doc_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_qstrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")

    def runWave(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          llm.TextStats.classifierScores(b)
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    docs.filter($"doc_id" <= wmid).write.mode("append").parquet(src)
    runWave()
    docs.filter($"doc_id" > wmid).write.mode("append").parquet(src)
    runWave()

    val batchTruth = llm.TextStats.qualityClassifier.run(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getBoolean(2)))).toMap
    val acc = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getBoolean(2))))
    assert(acc.length === batchTruth.size,
      "a doc scored twice means wave-1 files were reprocessed")
    acc.foreach { case (id, v) =>
      assert(batchTruth(id) === v, s"doc $id: incremental score != batch score")
    }
  }

  test("curation foreachBatch pipeline: frozen artifacts, incremental arrivals, batch parity") {
    // The production form of stream_curate: the per-dataset artifacts
    // (contaminated-id layout, bigram LM, cluster labels, keeper table)
    // are frozen; documents stream through the full seven-signal
    // curateBatch in checkpointed file-source waves. Every conjunct is
    // per-doc pure or a join against the frozen state, so the
    // accumulated sink must equal the whole-corpus batch query
    // row-for-row.
    val docs = sources.Tables.documents(spark, TestSpark.Sf).cache()
    val lm = llm.Corpus.lmModel(spark, TestSpark.Sf)
    val keepers = llm.Dedup.clusterKeepers(spark, TestSpark.Sf).localCheckpoint()
    val wmid = docs.agg(org.apache.spark.sql.functions.floor(
      org.apache.spark.sql.functions.max($"doc_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_custrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")

    def runWave(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          llm.Corpus.curateBatch(spark, TestSpark.Sf, b,
              llm.Corpus.scoreBigrams(spark, llm.Corpus.docBigrams(spark, b), lm),
              keepers)
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    docs.filter($"doc_id" <= wmid).write.mode("append").parquet(src)
    runWave()
    docs.filter($"doc_id" > wmid).write.mode("append").parquet(src)
    runWave()

    val batchTruth = llm.Corpus.curate.run(spark, TestSpark.Sf).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getDouble(2)))).toMap
    val acc = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getDouble(2))))
    assert(acc.length === batchTruth.size,
      "a doc kept twice means wave-1 files were reprocessed")
    acc.foreach { case (id, v) =>
      assert(batchTruth(id) === v, s"doc $id: incremental keep != batch keep")
    }
    // Both waves must contribute kept docs, or wave independence is
    // vacuously true on this fixture.
    assert(acc.exists(_._1 <= wmid) && acc.exists(_._1 > wmid),
      "fixture must keep docs in both arrival waves")
  }

  test("ANN serving foreachBatch pipeline: real checkpointed query stream, exact parity") {
    // The deployment form of stream_ivf_serve: query vectors LAND as a
    // checkpointed file-source stream (two arrival waves), each
    // micro-batch is served against the frozen persisted IVF index via
    // the SAME serveIvf pipeline the one-shot form uses, and answers
    // append to the sink. The checkpoint guarantees wave-1 queries are
    // not re-served on the wave-2 run; parity with the one-shot answer
    // is exact because serving is pure per-query.
    val queries = sources.Tables.embeddings(spark, TestSpark.Sf)
      .filter($"vec_id" < llm.Similarity.NumQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qv")).cache()
    val base = Files.createTempDirectory("graft_servestrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")

    def runWave(): Unit = {
      val q = spark.readStream.schema(queries.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // resolve against the MICRO-BATCH session clone: registrations
          // made lazily on the outer session after the stream starts are
          // invisible to the clone's function registry
          llm.Similarity.serveIvf(b.sparkSession, TestSpark.Sf, b)
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    queries.filter($"qid" % 2 === 0).write.mode("append").parquet(src)
    runWave()
    queries.filter($"qid" % 2 === 1).write.mode("append").parquet(src)
    runWave()

    val oneShot = llm.Similarity.ivfPersistedFull(spark, TestSpark.Sf)
      .collect().map(_.toSeq).toSet
    val acc = spark.read.parquet(out)
      .orderBy($"qid", $"rn").collect().map(_.toSeq)
    assert(acc.toSet === oneShot,
      "streamed serving must answer exactly like the one-shot index query")
    assert(acc.length === oneShot.size,
      "a duplicated answer row means wave-1 queries were re-served")
  }

  test("curation stream survives a mid-stream crash: kill after batch 1's commit, restart, exact batch parity") {
    // The KILL/RESTART drive (round-8 verdict item 6): all arrival files
    // land up front, maxFilesPerTrigger=1 forces one micro-batch per
    // file, and an injected failure throws on entry to batch 2 — AFTER
    // batch 1's checkpoint commit, BEFORE any batch-2 effect reaches the
    // sink. That is exactly the crash window where recovery must neither
    // lose batch 2 nor replay batches 0–1. The restart (sabotage off)
    // drains from the checkpoint; the accumulated sink must equal the
    // whole-corpus llm_curate row-for-row.
    val docs = sources.Tables.documents(spark, TestSpark.Sf).cache()
    val lm = llm.Corpus.lmModel(spark, TestSpark.Sf)
    val keepers = llm.Dedup.clusterKeepers(spark, TestSpark.Sf).localCheckpoint()
    val base = Files.createTempDirectory("graft_crashcu").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    // Three single-file arrival waves → three micro-batches (ids 0..2).
    (0 until 3).foreach { w =>
      docs.filter(pmod($"doc_id", lit(3)) === w)
        .coalesce(1).write.mode("append").parquet(src)
    }
    @volatile var sabotage = true
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (sabotage && id >= 2)
            throw new RuntimeException("injected crash before batch 2's effects")
          llm.Corpus.curateBatch(spark, TestSpark.Sf, b,
              llm.Corpus.scoreBigrams(spark, llm.Corpus.docBigrams(spark, b), lm),
              keepers)
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(crashed).exists(_.contains("injected crash")),
      "the stream must die from the injected failure, nothing else")
    val committed = spark.read.parquet(out).count()
    assert(committed > 0, "batches 0-1 must have committed before the crash")
    sabotage = false
    run()                                          // recovery run
    val batchTruth = llm.Corpus.curate.run(spark, TestSpark.Sf).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getDouble(2)))).toMap
    val acc = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getDouble(2))))
    assert(acc.length === batchTruth.size,
      "a doc kept twice means a committed batch was replayed after the crash")
    acc.foreach { case (id, v) =>
      assert(batchTruth(id) === v, s"doc $id: post-recovery keep != batch keep")
    }
  }

  test("ANN serving stream survives a mid-stream crash: kill after batch 1's commit, restart, exact parity") {
    // Same crash window as the curation drive, over the frozen IVF
    // index: queries land as three single-file waves, the injected
    // failure fires on entry to batch 2, and the restarted stream must
    // serve exactly the one-shot llm_sim_topk_ivf_persisted answer — no
    // lost queries, no re-served (duplicated) answers.
    val queries = sources.Tables.embeddings(spark, TestSpark.Sf)
      .filter($"vec_id" < llm.Similarity.NumQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qv")).cache()
    val base = Files.createTempDirectory("graft_crashserve").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    (0 until 3).foreach { w =>
      queries.filter(pmod($"qid", lit(3)) === w)
        .coalesce(1).write.mode("append").parquet(src)
    }
    @volatile var sabotage = true
    def run(): Unit = {
      val q = spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (sabotage && id >= 2)
            throw new RuntimeException("injected crash before batch 2's effects")
          llm.Similarity.serveIvf(b.sparkSession, TestSpark.Sf, b)
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(crashed).exists(_.contains("injected crash")),
      "the stream must die from the injected failure, nothing else")
    assert(spark.read.parquet(out).count() > 0,
      "batches 0-1 must have committed before the crash")
    sabotage = false
    run()                                          // recovery run
    val oneShot = llm.Similarity.ivfPersistedFull(spark, TestSpark.Sf)
      .collect().map(_.toSeq)
    val acc = spark.read.parquet(out)
      .orderBy($"qid", $"rn").collect().map(_.toSeq)
    assert(acc.toSet === oneShot.toSet,
      "post-recovery serving must answer exactly like the one-shot index query")
    assert(acc.length === oneShot.length,
      "a duplicated answer row means a committed batch was replayed")
  }

  test("stream_ivf_serve: batched serving reproduces the one-shot index answer exactly") {
    // Serving is pure per-query against the frozen index, so the 3-wave
    // union must equal llm_sim_topk_ivf_persisted row for row — the
    // batch-independence property that makes a vector index deployable
    // behind streaming query traffic.
    val streamed = streaming.ServeStream.streamIvfServe
      .run(spark, TestSpark.Sf).collect().map(_.toSeq)
    val oneShot = llm.Similarity.ivfPersistedTopK
      .run(spark, TestSpark.Sf).collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == oneShot.toSeq,
      "batching the query stream changed a serving result")
    // more than one wave must actually carry queries
    val qids = streamed.map(_.head.asInstanceOf[Long] % 3).distinct
    assert(qids.length > 1, "arrival split degenerated to a single wave")
  }

  test("checksum foreachBatch pipeline: appended XOR partials serve the batch digest") {
    // The production form of stream_checksum (round-12 verdict item 5):
    // events land through a checkpointed file source in two arrival
    // waves; each micro-batch appends per-day (count, XOR-digest)
    // partials — XOR is associative, commutative, AND self-inverse, so
    // the merge is just XOR again — and the served merge must equal the
    // batch row-checksum bit-for-bit. Kill/restart: a restart with no
    // new arrivals appends nothing.
    import org.apache.spark.sql.functions._
    val ev = sources.Tables.events(spark, TestSpark.Sf)
      .select($"event_id", $"ts", $"event_type", $"value").cache()
    val mid = ev.agg(floor(max($"event_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_ckstrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def runWave(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select(to_date(col("ts")).as("d"),
              expr("""CAST(conv(substring(md5(concat(
                        CAST(event_id AS STRING), '|', event_type, '|',
                        CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS STRING)
                      )), 1, 12), 16, 10) AS BIGINT)""").as("h"))
            .groupBy(col("d"))
            .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("checksum"))
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ev.filter($"event_id" <= mid).write.mode("append").parquet(src)
    runWave()
    ev.filter($"event_id" > mid).write.mode("append").parquet(src)
    runWave()
    def served() = spark.read.parquet(out)
      .groupBy($"d")
      .agg(sum($"n").as("n"), expr("bit_xor(checksum)").as("checksum"))
      .orderBy($"d").collect().map(_.toSeq).toSeq
    val batch = functions.ScalarQueries.fnChecksum.run(spark, TestSpark.Sf)
      .collect().map(_.toSeq).toSeq
    assert(served() === batch,
      "merged XOR partials must reproduce the batch per-day digest exactly")
    val deltaRows = spark.read.parquet(out).count()
    runWave()
    assert(spark.read.parquet(out).count() === deltaRows,
      "restart with no new data must not re-append any digest partials")
    assert(served() === batch, "served digest unchanged by idempotent restart")
  }

  test("bootstrap-CI foreachBatch pipeline: appended cent partials serve the batch interval") {
    // The production form of stream_bootstrap_ci (round-12 verdict item
    // 5): each micro-batch appends per-(type, day) integer cent sums —
    // exact under any arrival split — and the serve step runs the shared
    // Poisson-bootstrap fold on the MERGED daily frame. The md5 uniforms
    // key on (type, day, b) VALUES, not arrival order, so the served CI
    // must be bit-equal to the batch CI.
    import org.apache.spark.sql.functions._
    val ev = sources.Tables.events(spark, TestSpark.Sf)
      .select($"event_id", $"ts", $"event_type", $"value").cache()
    val mid = ev.agg(floor(max($"event_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_bcistrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def runWave(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.groupBy(col("event_type"), to_date(col("ts")).as("d"))
            .agg(expr("sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))")
              .as("v"))
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ev.filter($"event_id" <= mid).write.mode("append").parquet(src)
    runWave()
    ev.filter($"event_id" > mid).write.mode("append").parquet(src)
    runWave()
    val merged = spark.read.parquet(out)
      .groupBy($"event_type", $"d").agg(sum($"v").as("v"))
    val served = operators.Analytics.bootstrapFold(merged)
      .collect().map(_.toSeq).toSeq
    val batch = operators.Analytics.bootstrapCi.run(spark, TestSpark.Sf)
      .collect().map(_.toSeq).toSeq
    assert(served === batch,
      "bootstrap fold over merged partials must equal the batch CI bit-for-bit")
    val deltaRows = spark.read.parquet(out).count()
    runWave()
    assert(spark.read.parquet(out).count() === deltaRows,
      "restart with no new data must not re-append any cent partials")
  }

  test("co-occurrence foreachBatch pipeline: appended pair counts serve the batch table") {
    // The production form of stream_cooccurrence (round-12 verdict item
    // 5): skip-gram pairs never cross documents, so each micro-batch's
    // forward-pair counts are exact partials; the serve step merges by
    // addition and symmetrizes on the vocab²-bounded merged state —
    // commuting with the wave merge, so the served top-100 must equal
    // the batch pair table bit-for-bit.
    import org.apache.spark.sql.functions._
    val docs = sources.Tables.documents(spark, TestSpark.Sf).cache()
    val mid = docs.agg(floor(max($"doc_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory("graft_coocstrm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def runWave(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          llm.TextStats.skipgramPairsOf(b)
            .groupBy(col("c"), col("x")).agg(count(lit(1)).as("n"))
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    docs.filter($"doc_id" <= mid).write.mode("append").parquet(src)
    runWave()
    docs.filter($"doc_id" > mid).write.mode("append").parquet(src)
    runWave()
    val merged = spark.read.parquet(out)
      .groupBy($"c", $"x").agg(sum($"n").as("n"))
    val served = llm.TextStats.symmetrize(merged)
      .orderBy($"n".desc, $"c", $"x").limit(100)
      .select($"c".as("center"), $"x".as("context"), $"n")
      .collect().map(_.toSeq).toSeq
    val batch = llm.TextStats.cooccurrence.run(spark, TestSpark.Sf)
      .collect().map(_.toSeq).toSeq
    assert(served === batch,
      "merged pair partials must reproduce the batch co-occurrence table exactly")
    val deltaRows = spark.read.parquet(out).count()
    runWave()
    assert(spark.read.parquet(out).count() === deltaRows,
      "restart with no new data must not re-append any pair partials")
  }

  /** Two-wave checkpointed foreachBatch drive shared by the round-13
    * twin promotions: events land through a real file-source stream in
    * two arrival waves split at the median event_id; each micro-batch
    * appends `perBatch(batch)` partials to `out`. Returns (out path,
    * re-run thunk) — the re-run with no new arrivals is the
    * kill/restart idempotency leg each caller asserts. */
  private def driveWaves(tag: String, ev: org.apache.spark.sql.DataFrame,
      perBatch: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : (String, () => Unit) = {
    val mid = ev.agg(floor(max($"event_id") / 2.0).cast("long"))
      .collect()(0).getLong(0)
    val base = Files.createTempDirectory(s"graft_${tag}strm").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def runWave(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          perBatch(b).write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ev.filter($"event_id" <= mid).write.mode("append").parquet(src)
    runWave()
    ev.filter($"event_id" > mid).write.mode("append").parquet(src)
    runWave()
    (out, () => runWave())
  }

  /** Asserts the no-new-arrivals restart appends nothing and the served
    * readout is unchanged — the idempotency leg of each drive. */
  private def assertIdempotentRestart(out: String, rerun: () => Unit,
      served: () => Seq[Seq[Any]], batch: Seq[Seq[Any]]): Unit = {
    val rows = spark.read.parquet(out).count()
    rerun()
    assert(spark.read.parquet(out).count() === rows,
      "restart with no new data must not re-append partials")
    assert(served() === batch, "served readout changed by idempotent restart")
  }

  test("moments foreachBatch pipeline: appended sufficient stats serve the batch shape") {
    // The production form of stream_moments: each micro-batch appends
    // the six exact per-type sufficient-statistic partials (integer
    // sums + the max|c| guard bound); the serve-side merge sums them
    // (max for the bound) and the shared momentsFold must reproduce the
    // batch skew/kurtosis rows bit-for-bit.
    val ev = sources.Tables.events(spark, TestSpark.Sf)
      .select($"event_id", $"event_type", $"value").cache()
    val aggs = operators.Analytics.momentAggs
    val (out, rerun) = driveWaves("mom", ev, b =>
      operators.Analytics.momentRowsOf(b)
        .groupBy($"event_type").agg(aggs.head, aggs.tail: _*))
    def served() = operators.Analytics.momentsFold(
      spark.read.parquet(out).groupBy($"event_type")
        .agg(sum($"n").as("n"), sum($"s").as("s"), sum($"q").as("q"),
          sum($"c3").as("c3"), sum($"p4_hi").as("p4_hi"),
          sum($"p4_lo").as("p4_lo"), max($"mc").as("mc")))
      .collect().map(_.toSeq).toSeq
    val batch = operators.Analytics.moments.run(spark, TestSpark.Sf)
      .collect().map(_.toSeq).toSeq
    assert(served() === batch,
      "merged moment partials must reproduce the batch shape rows exactly")
    assertIdempotentRestart(out, rerun, () => served(), batch)
  }

  test("entropy foreachBatch pipeline: appended class counts serve the batch balance rows") {
    // The production form of stream_entropy: per-day conditional count
    // partials over the fixed type domain append per micro-batch; the
    // merge sums integers per day and the shared entropyFold emits the
    // identical label-balance rows.
    val ev = sources.Tables.events(spark, TestSpark.Sf)
      .select($"event_id", to_date($"ts").as("d"), $"event_type").cache()
    val aggs = operators.Analytics.entropyAggs
    val idx = operators.Analytics.entropyTypes.indices
    val (out, rerun) = driveWaves("ent", ev, b =>
      b.groupBy($"d").agg(aggs.head, aggs.tail: _*))
    def served() = operators.Analytics.entropyFold(
      spark.read.parquet(out).groupBy($"d")
        .agg(sum(col("c0")).as("c0"),
          idx.tail.map(i => sum(col(s"c$i")).as(s"c$i")): _*))
      .collect().map(_.toSeq).toSeq
    val batch = operators.Analytics.entropy.run(spark, TestSpark.Sf)
      .collect().map(_.toSeq).toSeq
    assert(served() === batch,
      "merged count partials must reproduce the batch entropy rows exactly")
    assertIdempotentRestart(out, rerun, () => served(), batch)
  }

  test("changepoint foreachBatch pipeline: appended daily sums serve the batch split") {
    // The production form of stream_changepoint: per-(type, day) cent
    // sums append per micro-batch; the merge sums integers and the
    // shared changepointFold must locate the IDENTICAL split — batching
    // must not move a changepoint.
    val ev = sources.Tables.events(spark, TestSpark.Sf)
      .select($"event_id", $"event_type", to_date($"ts").as("d"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cv"))
      .cache()
    val (out, rerun) = driveWaves("chg", ev, b =>
      b.groupBy($"event_type", $"d").agg(sum($"cv").as("v")))
    def served() = operators.TimeSeries.changepointFold(
      spark.read.parquet(out).groupBy($"event_type", $"d")
        .agg(sum($"v").as("v")))
      .collect().map(_.toSeq).toSeq
    val batch = operators.TimeSeries.changepoint.run(spark, TestSpark.Sf)
      .collect().map(_.toSeq).toSeq
    assert(served() === batch,
      "merged daily sums must locate the batch changepoint exactly")
    assertIdempotentRestart(out, rerun, () => served(), batch)
  }

  test("active-users foreachBatch pipeline: appended distinct pairs serve the batch actives") {
    // The production form of stream_active_users: per-batch DISTINCT
    // (user, day) pairs append (set union is idempotent AND associative,
    // so late-duplicate arrivals cannot inflate a day); serve = one
    // distinct over the appended pairs + the shared fold.
    val ev = sources.Tables.events(spark, TestSpark.Sf)
      .select($"event_id", $"user_id", to_date($"ts").as("d")).cache()
    val (out, rerun) = driveWaves("act", ev, b =>
      b.select($"user_id", $"d").distinct())
    def served() = operators.TimeSeries.activeUsersFold(
      spark.read.parquet(out).distinct())
      .collect().map(_.toSeq).toSeq
    val batch = operators.TimeSeries.activeUsers.run(spark, TestSpark.Sf)
      .collect().map(_.toSeq).toSeq
    assert(served() === batch,
      "deduped appended pairs must reproduce the batch engagement rows")
    assertIdempotentRestart(out, rerun, () => served(), batch)
  }
}
