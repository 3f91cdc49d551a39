package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batch ingest pipeline: layout, row preservation, idempotent re-run,
  * partition pruning. */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("partitioned write preserves rows, lays out topic/date dirs, re-runs idempotently") {
    val out = Files.createTempDirectory("graft_ing").toString + "/out"
    val src = sources.Tables.events(spark, TestSpark.Sf)
    operators.Ingest.writePartitioned(src, out)
    val back = spark.read.parquet(out)
    assert(back.count() === src.count())

    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(_.startsWith("event_type=")), s"got ${dirs.toSeq}")

    operators.Ingest.writePartitioned(src, out) // idempotent re-run (R8)
    assert(spark.read.parquet(out).count() === src.count())
  }

  test("partition pruning: a bucket filter reads only matching partitions") {
    val out = Files.createTempDirectory("graft_prune").toString + "/out"
    operators.Ingest.writePartitioned(sources.Tables.events(spark, TestSpark.Sf), out)
    val pruned = spark.read.parquet(out).filter($"event_type" === "click")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || !plan.contains("event_type=error"),
      "filter on a partition column must prune, not scan+filter")
    val expected = sources.Tables.events(spark, TestSpark.Sf)
      .filter($"event_type" === "click").count()
    assert(pruned.count() === expected)
  }

  test("partial load with dynamicOverwrite replaces only its own buckets") {
    val out = Files.createTempDirectory("graft_dyn").toString + "/out"
    val src = sources.Tables.events(spark, TestSpark.Sf)
    operators.Ingest.writePartitioned(src, out) // full load, static
    val fullCount = spark.read.parquet(out).count()
    // partial re-load of one event_type only, dynamic mode
    operators.Ingest.writePartitioned(
      src.filter($"event_type" === "click"), out, dynamicOverwrite = true)
    val after = spark.read.parquet(out)
    assert(after.count() === fullCount,
      "sibling partitions must survive a dynamic partial load")
    // static mode on the same partial input would have truncated the rest
    operators.Ingest.writePartitioned(
      src.filter($"event_type" === "click"), out)
    assert(spark.read.parquet(out).select("event_type").distinct().count() === 1)
  }

  test("writePartitioned settings are per-write: the session conf is untouched and the committer reaches the job") {
    val keys = Seq("spark.sql.sources.partitionOverwriteMode",
      "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version")
    def sessionConf = keys.map(spark.conf.getOption)
    val before = sessionConf
    val out = Files.createTempDirectory("graft_dyn_conf").toString + "/out"
    val src = sources.Tables.events(spark, TestSpark.Sf)
    operators.Ingest.writePartitioned(src, out)
    operators.Ingest.writePartitioned(
      src.filter($"event_type" === "click"), out, dynamicOverwrite = true)
    assert(sessionConf === before, "writePartitioned must not change the shared session")
    // a later full load of the same partial input still truncates siblings
    operators.Ingest.writePartitioned(src.filter($"event_type" === "click"), out)
    assert(spark.read.parquet(out).select("event_type").distinct().count() === 1)
    val jobConf = spark.sessionState.newHadoopConfWithOptions(
      operators.Ingest.overwriteOptions(dynamicOverwrite = false))
    assert(jobConf.get("mapreduce.fileoutputcommitter.algorithm.version") === "1")
  }

  test("bucketed join plans with zero exchanges below the sort-merge join") {
    val df = operators.Ingest.joinBucketed.run(spark, TestSpark.Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), "merge hint must pin SMJ")
    // the only exchanges allowed are post-aggregation / final-sort ones:
    // the join inputs are bucketed scans, so nothing shuffles before the join
    val joinIdx = plan.indexOf("SortMergeJoin")
    val belowJoin = plan.substring(joinIdx)
    assert(!belowJoin.contains("Exchange"),
      s"bucketed SMJ inputs must not shuffle:\n$belowJoin")
    assert(belowJoin.contains("Bucketed: true"))
  }

  test("partition+bucket layout: pruned listing AND shuffle-free aggregation") {
    val df = operators.Ingest.partitionBucket.run(spark, TestSpark.Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), "must read the bucketed layout")
    assert(plan.contains("PartitionFilters: [") &&
           plan.contains("(d"), // day-range predicates reach the dir listing
      "day filter must prune at partition listing")
    // The bucket distribution satisfies groupBy(user_id): the ONLY
    // exchange is the final orderBy's range partitioning — no hash
    // shuffle anywhere.
    assert(!plan.contains("Exchange hashpartitioning"),
      s"aggregation must be shuffle-free over the bucketed layout:\n$plan")
    assert(plan.contains("ReadSchema: struct<user_id:bigint,value:double>"),
      "column pruning must reach the scan")
  }

  test("bucketed layout cold write emits days x buckets files, independent of task count") {
    import org.apache.spark.sql.functions.date_format
    // Force the COLD write path: drop any registered table / on-disk layout
    // so the file-count assertion sees this build's writer, not a stale one.
    val sfx = TestSpark.Sf.replaceAll("[^a-zA-Z0-9]", "_")
    spark.sql(s"DROP TABLE IF EXISTS graft_pb_$sfx")
    val root = new java.io.File(s"/tmp/graft_pb/$sfx")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    if (root.exists()) rm(root)

    operators.Ingest.partitionBucket.run(spark, TestSpark.Sf).collect()

    import org.apache.spark.sql.functions.{hash, lit, pmod}
    // Exactly one file per NON-EMPTY (day, bucket) pair: the pre-write
    // repartition on (d, bucket-id) means each pair is written by one
    // task (sql hash() is Spark's own bucket-id function, so this count
    // uses the writer's exact bucket assignment). Before the fix this was
    // ~tasks x days x 4 — at local[32] a 15.8 s cold write (BASELINE.md).
    val pairs = sources.Tables.events(spark, TestSpark.Sf)
      .select(date_format($"ts", "yyyy-MM-dd"),
              pmod(hash($"user_id"), lit(4))).distinct().count()
    def parquetFiles(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(parquetFiles).sum
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    assert(parquetFiles(root) === pairs,
      s"expected $pairs files (one per non-empty day x bucket pair)")
  }

  test("scan_partition_prune pushes the day filter to partition listing") {
    val df = operators.Ingest.scanPartitionPrune.run(spark, TestSpark.Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(d"),
      "day-range predicate must appear as a PartitionFilter")
  }

  test("join_dpp: the fact scan carries a dynamic partition pruning filter") {
    // The property, not just the answer: the day-partitioned fact's scan
    // must be pruned by the DIM's result at runtime (static pruning can't
    // express "days the dim keeps"). A regression to a full scan would
    // still return correct rows at toy scale — only the plan shows it.
    val df = operators.Ingest.joinDpp.run(spark, TestSpark.Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "fact scan must carry a DynamicPruningExpression partition filter")
    assert(df.count() > 0)
  }

  test("incremental watermark filter consumes exactly the new offsets") {
    val ev = sources.Tables.events(spark, TestSpark.Sf)
    val total = ev.count()
    val out = operators.Ingest.ingestIncremental.run(spark, TestSpark.Sf)
      .agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
    val wm = math.floor((total - 1) / 2.0).toLong // event_ids are 0..total-1
    assert(out === total - 1 - wm)
  }

  test("cdc compaction: last writer wins, tombstoned keys absent, changes conserved") {
    import org.apache.spark.sql.functions._
    val out = operators.Ingest.ingestCdc.run(spark, TestSpark.Sf).collect()
    assert(out.nonEmpty)
    // recompute winners from the same emulated log
    val log = sources.Tables.events(spark, TestSpark.Sf)
      .select($"event_id", $"value").collect()
      .map { r =>
        val id = r.getLong(0)
        (id % 1000, id, if (id % 7 == 0) "D" else "U", r.getDouble(1))
      }
    val winners = log.groupBy(_._1).map { case (k, rs) =>
      val last = rs.maxBy(_._2)
      (k, last._3, last._4, last._2, rs.length.toLong)
    }
    val kept = winners.filter(_._2 == "U")
      .map { case (k, _, v, seq, n) =>
        (k, BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, seq, n)
      }.toSet
    val got = out.map(r => (r.getAs[Long]("k"), r.getAs[Double]("value"),
      r.getAs[Long]("last_seq"), r.getAs[Long]("n_changes"))).toSet
    assert(got === kept, "compacted state must be exactly the last non-tombstone writers")
    // at least one key really was tombstoned out (the gate is exercised)
    assert(winners.exists(_._2 == "D"), "fixture must contain a final tombstone")
    val dead = winners.filter(_._2 == "D").map(_._1).toSet
    assert(out.forall(r => !dead(r.getAs[Long]("k"))), "tombstoned keys must be absent")
  }

  test("scd2: one version per upsert, chains closed by the next change, current set == CDC state") {
    import org.apache.spark.sql.expressions.Window
    val scd = operators.Ingest.ingestScd2.run(spark, TestSpark.Sf).cache()
    val cdc = operators.Ingest.ingestCdc.run(spark, TestSpark.Sf)

    // one history row per UPSERT change — deletes emit no version
    val log = sources.Tables.events(spark, TestSpark.Sf)
      .select(pmod($"event_id", lit(1000L)).as("k"), $"event_id".as("seq"))
    val nUpserts = log.filter(pmod($"seq", lit(7L)) =!= 0).count()
    assert(scd.count() === nUpserts)

    // the current-version slice IS the CDC-compacted state, key for key
    val current = scd.filter($"is_current" === 1).select($"k", $"value")
    val compacted = cdc.select($"k", $"value")
    assert(current.except(compacted).count() === 0)
    assert(compacted.except(current).count() === 0)

    // validity chains never overlap: each version closes at or before the
    // next version opens (a delete between them closes it strictly before)
    val w = Window.partitionBy($"k").orderBy($"eff_from")
    val overlaps = scd
      .withColumn("next_from", lead($"eff_from", 1).over(w))
      .filter($"next_from".isNotNull && $"eff_to" > $"next_from")
      .count()
    assert(overlaps === 0, "version validity intervals must not overlap")
  }

  test("z-order layout: file min/max spans prune BOTH dimensions; a 1-D sort prunes only its own") {
    // Force the fingerprinted layout, then audit the actual written files.
    operators.Ingest.ingestZorder.run(spark, TestSpark.Sf).count()
    val sfx = TestSpark.Sf.replaceAll("[^a-zA-Z0-9]", "_")
    val z = spark.read.parquet(s"/tmp/graft_zorder/$sfx")
    def fileSpans(df: org.apache.spark.sql.DataFrame): Array[(Long, Long, Long, Long)] =
      df.select(col("_metadata.file_path").as("f"), $"user_id", $"d")
        .groupBy($"f")
        .agg(min($"user_id").as("ulo"), max($"user_id").as("uhi"),
          min($"d").as("dlo"), max($"d").as("dhi"))
        .collect()
        .map(r => (r.getAs[Long]("ulo"), r.getAs[Long]("uhi"),
          r.getAs[Long]("dlo"), r.getAs[Long]("dhi")))
    val zSpans = fileSpans(z)
    val uMin = zSpans.map(_._1).min; val uMax = zSpans.map(_._2).max
    val dMin = zSpans.map(_._3).min; val dMax = zSpans.map(_._4).max
    // a selective predicate: the first eighth of each dimension's range
    val uCut = uMin + (uMax - uMin) / 8
    val dCut = dMin + (dMax - dMin) / 8
    val zU = zSpans.count(s => s._1 <= uCut) // files a u-range scan must read
    val zD = zSpans.count(s => s._3 <= dCut) // files a d-range scan must read
    assert(zU <= zSpans.length / 2,
      s"z layout must prune user_id scans: $zU of ${zSpans.length} files overlap")
    assert(zD <= zSpans.length / 2,
      s"z layout must prune day scans: $zD of ${zSpans.length} files overlap")

    // baseline: the same data clustered on user_id ONLY — day predicates
    // cannot skip a single file (every file spans every day)
    val base = Files.createTempDirectory("graft_usort").toString + "/out"
    z.select($"user_id", $"d", $"value")
      .repartitionByRange(16, $"user_id").sortWithinPartitions($"user_id")
      .write.mode("overwrite").parquet(base)
    val bSpans = fileSpans(spark.read.parquet(base))
    assert(bSpans.count(s => s._3 <= dCut) === bSpans.length,
      "the 1-D layout must NOT prune the non-sort dimension (else the fixture is degenerate)")
  }

  test("binaryFile source: one blob per record, partition column recovered, bytes exact") {
    import org.apache.spark.sql.functions._
    // run the registered query once so the blob layout exists
    val out = operators.Ingest.sourceBinary.run(spark, TestSpark.Sf).collect()
    assert(out.length == 100, "one row per sampled doc")
    val blobRoot = s"/tmp/graft_blobs/${TestSpark.Sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    val raw = spark.read.format("binaryFile").load(blobRoot)
    // partition discovery recovered doc_id; exactly one file per doc
    assert(raw.groupBy("doc_id").count().filter($"count" =!= 1).count() == 0,
      "every doc_id partition dir must hold exactly one blob file")
    // content bytes equal the parquet truth plus the text sink's newline
    val truth = sources.Tables.documents(spark, TestSpark.Sf)
      .filter($"doc_id" < 100)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byId = raw.select($"doc_id".cast("long"), $"content").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    truth.foreach { case (id, text) =>
      assert(byId(id).sameElements((text + "\n").getBytes("UTF-8")),
        s"doc $id: blob bytes differ from parquet truth")
    }
  }

  test("retention vacuum: expired day partitions are physically absent from the layout") {
    import org.apache.spark.sql.functions._
    val out = operators.Ingest.ingestRetention.run(spark, TestSpark.Sf).collect()
    assert(out.length === 14, "exactly the trailing 14 days survive")
    assert(out.map(_.getAs[Long]("days_kept")).distinct.toSeq === Seq(14L))
    // the layout itself (not just the query) must have dropped the days:
    // expired partition DIRECTORIES are gone from disk
    val root = new java.io.File(
      s"/tmp/graft_retention/${TestSpark.Sf.replaceAll("[^a-zA-Z0-9]", "_")}")
    val dayDirs = root.listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("d=")).map(_.stripPrefix("d=")).sorted
    assert(dayDirs.length === 14, s"on-disk partitions: ${dayDirs.mkString(",")}")
    val allDays = sources.Tables.events(spark, TestSpark.Sf)
      .select(to_date($"ts").cast("string")).distinct().collect()
      .map(_.getString(0)).sorted
    assert(dayDirs.toSeq === allDays.takeRight(14).toSeq,
      "survivors must be exactly the trailing calendar days")
    // survivor counts equal the source's per-day counts (nothing row-filtered)
    val brute = sources.Tables.events(spark, TestSpark.Sf)
      .groupBy(to_date($"ts").cast("string").as("d")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(r.getAs[Long]("n") === brute(r.getString(0))))
  }

  test("retention metadata drop: expired dirs gone, surviving files byte-untouched") {
    import org.apache.spark.sql.functions._
    def walkFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walkFiles)
      else Seq(f)
    val root = new java.io.File(
      s"/tmp/graft_retention_meta/${TestSpark.Sf.replaceAll("[^a-zA-Z0-9]", "_")}")
    val out = operators.Ingest.ingestRetentionMeta.run(spark, TestSpark.Sf).collect()
    assert(out.map(_.getAs[Long]("days_kept")).distinct.toSeq === Seq(14L))
    // partition-catalog claim: only trailing-14-day directories remain,
    // under every event_type
    val allDays = sources.Tables.events(spark, TestSpark.Sf)
      .select(to_date($"ts").cast("string")).distinct().collect()
      .map(_.getString(0)).sorted
    val surviving = allDays.takeRight(14).toSet
    root.listFiles().filter(t => t.isDirectory && t.getName.startsWith("event_type="))
      .foreach { t =>
        val days = t.listFiles().filter(_.isDirectory)
          .map(_.getName.stripPrefix("d=")).toSet
        assert(days === surviving,
          s"${t.getName}: on-disk partitions must be exactly the trailing 14 days")
      }
    // metadata-op claim: a SECOND run must not rewrite a single surviving
    // byte — same files, same sizes, same mtimes (a rewrite-form
    // retention would fail this)
    val before = walkFiles(root).map(f =>
      (f.getPath, f.length, f.lastModified)).sortBy(_._1)
    val out2 = operators.Ingest.ingestRetentionMeta.run(spark, TestSpark.Sf).collect()
    val after = walkFiles(root).map(f =>
      (f.getPath, f.length, f.lastModified)).sortBy(_._1)
    assert(after === before, "re-running the metadata drop must touch no file")
    assert(out2.map(r => (r.getString(0), r.getString(1))).toSeq ===
      out.map(r => (r.getString(0), r.getString(1))).toSeq, "idempotent listing")
  }

  test("vacuum: orphans physically gone, surviving part files byte-untouched") {
    def walkFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walkFiles)
      else Seq(f)
    val root = new java.io.File(
      s"/tmp/graft_vacuum/${TestSpark.Sf.replaceAll("[^a-zA-Z0-9]", "_")}")
    val out = operators.Ingest.ingestVacuum.run(spark, TestSpark.Sf).collect()
    // exactly the two planted orphans were reclaimed
    assert(out.map(_.getAs[Long]("n_vacuumed")).distinct.toSeq === Seq(2L))
    assert(!new java.io.File(root, "_temporary").exists, "_temporary tree survived vacuum")
    assert(!new java.io.File(root, "_staging-orphan").exists, "staging orphan survived vacuum")
    // metadata-op claim: vacuum must never rewrite data — a second run
    // (which re-plants and re-reclaims its own orphans) leaves every
    // surviving part file bit-for-bit alone (path, size, mtime)
    val before = walkFiles(root).map(f =>
      (f.getPath, f.length, f.lastModified)).sortBy(_._1)
    val out2 = operators.Ingest.ingestVacuum.run(spark, TestSpark.Sf).collect()
    val after = walkFiles(root).map(f =>
      (f.getPath, f.length, f.lastModified)).sortBy(_._1)
    assert(after === before, "vacuum must not touch a surviving byte")
    assert(out2.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq, "idempotent readout")
    // row conservation: the table reads identically to the raw source
    val n = sources.Tables.events(spark, TestSpark.Sf).count()
    assert(out.map(_.getAs[Long]("n_rows")).sum === n)
  }

  test("vacuum safety: a future root-level metadata sidecar survives (ADVICE r13)") {
    // Pre-r14 vacuum deleted BY EXCLUSION (anything not in inputFiles and
    // not named _SUCCESS/_GRAFT_META), so a future reader-invisible
    // sidecar — exactly what a table format accretes — would be swept
    // and n_vacuumed would drift. The r14 rule only reclaims files under
    // hidden ATTEMPT-TREE directories; a root-level '_'-file has no
    // hidden directory component and must survive every run.
    val root = new java.io.File(
      s"/tmp/graft_vacuum/${TestSpark.Sf.replaceAll("[^a-zA-Z0-9]", "_")}")
    operators.Ingest.ingestVacuum.run(spark, TestSpark.Sf).collect() // layout exists
    val sidecar = new java.io.File(root, "_GRAFT_FUTURE_SIDECAR")
    try {
      java.nio.file.Files.write(sidecar.toPath, "stats-v2".getBytes("UTF-8"))
      val out = operators.Ingest.ingestVacuum.run(spark, TestSpark.Sf).collect()
      assert(sidecar.exists, "root-level metadata sidecar must survive vacuum")
      assert(out.map(_.getAs[Long]("n_vacuumed")).distinct.toSeq === Seq(2L),
        "only the two planted attempt-tree orphans may be reclaimed")
    } finally sidecar.delete()
  }

  test("analyze: per-column stats match driver-side recomputes") {
    import org.apache.spark.sql.functions._
    val rows = operators.Ingest.ingestAnalyze.run(spark, TestSpark.Sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))).toMap
    val o = sources.Tables.orders(spark, TestSpark.Sf).select(
      $"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_orderpriority",
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"),
      to_date($"o_orderdate").cast("string")).collect()
    def check[T](name: String, vals: Seq[T])(implicit ord: Ordering[T]): Unit = {
      val (ndv, nn, mn, mx) = rows(name)
      assert(ndv === vals.distinct.size.toLong, s"$name ndv")
      assert(nn === 0L, s"$name nulls")
      assert(mn === vals.min.toString, s"$name min")
      assert(mx === vals.max.toString, s"$name max")
    }
    check("o_orderkey", o.map(_.getLong(0)).toSeq)
    check("o_custkey", o.map(_.getLong(1)).toSeq)
    check("o_orderstatus", o.map(_.getString(2)).toSeq)
    check("o_orderpriority", o.map(_.getString(3)).toSeq)
    check("o_price_cents", o.map(_.getLong(4)).toSeq)
    check("o_day", o.map(_.getString(5)).toSeq)
  }

  test("time travel: as-of reads replay driver state; versions share untouched-group files") {
    import org.apache.spark.sql.functions._
    val out = operators.Ingest.ingestTimeTravel.run(spark, TestSpark.Sf).collect()
    val root = s"/tmp/graft_timetravel/${TestSpark.Sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    def manifest(v: Int): Seq[String] = new String(java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(root, s"manifest-v$v")), "UTF-8")
      .split("\n").toSeq
    val (f1, f2) = (manifest(1), manifest(2))
    // every v1 file still exists after the v2 commit (time travel intact)
    f1.foreach(f => assert(new java.io.File(new java.net.URI(f).getPath).exists,
      s"v1 file vanished: $f"))
    // structural sharing: versions share the untouched-group files, and
    // v2's new files live only in the correction cohort's groups (odd,
    // by the mod-50-vs-mod-8 construction)
    val shared = f1.toSet.intersect(f2.toSet)
    assert(shared.nonEmpty, "no file shared across versions — reuse untested")
    def grpOf(f: String) = f.split("/").find(_.startsWith("grp=")).get
      .stripPrefix("grp=").toLong
    f2.toSet.diff(f1.toSet).foreach(f =>
      assert(grpOf(f) % 2 == 1, s"v2 rewrote an untouched group: $f"))
    // as-of reads replay driver-side state recomputes
    val ev = sources.Tables.events(spark, TestSpark.Sf)
      .select($"user_id", $"event_id", $"value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val mid = ev.map(_._2).max / 2
    def state(rows: Seq[(Long, Long, Double)]) = {
      val byUser = rows.groupBy(_._1).map { case (u, xs) =>
        val last = xs.maxBy(_._2); (u, last._2, last._3)
      }.toSeq
      (byUser.size.toLong,
        byUser.map(x => BigDecimal(x._3).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).map(_.toLongExact).sum,
        byUser.map(_._2).max)
    }
    val exp1 = state(ev.filterNot(e => e._1 % 50 == 7 && e._2 > mid).toSeq)
    val exp2 = state(ev.toSeq)
    assert(out.length === 2)
    val got = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) === exp1, "as-of-v1 state")
    assert(got(2L) === exp2, "as-of-v2 state")
    assert(exp1 !== exp2, "fixture inert: the correction batch changed nothing")
    // idempotent re-run: fingerprint hit, same readout
    val again = operators.Ingest.ingestTimeTravel.run(spark, TestSpark.Sf).collect()
    assert(again.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
  }

  test("snapshot diff: per-group version deltas confine to the correction cohort's groups") {
    import org.apache.spark.sql.functions._
    val out = operators.Ingest.ingestSnapshotDiff.run(spark, TestSpark.Sf).collect()
    assert(out.length === 8)
    // changed groups must be a subset of the odd groups (mod-50 cohort
    // against mod-8 groups), and at least one group must actually change
    val changed = out.filter(_.getAs[Boolean]("changed")).map(_.getLong(0))
    assert(changed.nonEmpty, "fixture inert: no group changed between versions")
    changed.foreach(g => assert(g % 2 == 1, s"even group $g changed"))
    // brute per-group recompute from raw events
    val ev = sources.Tables.events(spark, TestSpark.Sf)
      .select($"user_id", $"event_id", $"value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val mid = ev.map(_._2).max / 2
    def byGrp(rows: Seq[(Long, Long, Double)]) =
      rows.groupBy(_._1).toSeq // .toSeq: a Map here would collapse same-grp users
        .map { case (u, xs) => (u % 8, xs.maxBy(_._2)._3) }
        .groupBy(_._1).map { case (g, vs) =>
          g -> (vs.size.toLong, vs.map(v => (BigDecimal(v._2).setScale(2,
            BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact).sum)
        }
    val g1 = byGrp(ev.filterNot(e => e._1 % 50 == 7 && e._2 > mid).toSeq)
    val g2 = byGrp(ev.toSeq)
    out.foreach { r =>
      val g = r.getLong(0)
      assert((r.getLong(1), r.getLong(2)) === g1(g), s"group $g v1")
      assert((r.getLong(3), r.getLong(4)) === g2(g), s"group $g v2")
    }
  }

  test("lifecycle ops are FS-scheme independent: RawLocalFileSystem leg (ADVICE r13 item 8)") {
    // The lifecycle family's orphan probes and manifest IO all go
    // through `path.getFileSystem(hadoopConf)`. The default local
    // scheme wraps ChecksumFileSystem, which HIDES .crc side files
    // from listStatus — a behavior HDFS/S3A do not share — so this leg
    // re-drives vacuum/retention_meta/clone/restore through a raw
    // `file:` FileSystem (no checksum layer: listStatus SHOWS the .crc
    // files earlier checksummed runs left on disk) and asserts the
    // results identical: the hidden-attempt-tree rule and manifest
    // reads must not depend on the scheme's listing quirks.
    val lifecycle = Seq("ingest_vacuum", "ingest_retention_meta",
      "ingest_clone", "ingest_restore")
    def run(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, TestSpark.Sf).collect().map(_.toString).toSeq
    val underDefault = lifecycle.map(q => q -> run(q)).toMap
    val hc = spark.sparkContext.hadoopConfiguration
    val prevImpl = hc.get("fs.file.impl")
    val prevCache = hc.get("fs.file.impl.disable.cache")
    hc.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    hc.set("fs.file.impl.disable.cache", "true")
    try {
      // sanity: the swap is live — the resolved FS has no checksum layer
      val fs = new org.apache.hadoop.fs.Path("/tmp")
        .getFileSystem(hc)
      assert(fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem],
        s"fs.file.impl swap did not take: got ${fs.getClass.getName}")
      for (q <- lifecycle) {
        assert(run(q) === underDefault(q),
          s"$q result differs under RawLocalFileSystem")
      }
    } finally {
      if (prevImpl == null) hc.unset("fs.file.impl")
      else hc.set("fs.file.impl", prevImpl)
      if (prevCache == null) hc.unset("fs.file.impl.disable.cache")
      else hc.set("fs.file.impl.disable.cache", prevCache)
    }
  }

  test("text source: limit-2 split recovers every record byte-exactly") {
    import org.apache.spark.sql.functions._
    // run the registered query once so the line layout exists
    assert(operators.Ingest.sourceText.run(spark, TestSpark.Sf).count() == 1)
    val lineRoot = s"/tmp/graft_src_text/${TestSpark.Sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    val parsed = spark.read.text(lineRoot)
      .select(split($"value", "\t", 2).as("p"))
      .select($"p".getItem(0).cast("long").as("doc_id"), $"p".getItem(1).as("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val truth = sources.Tables.documents(spark, TestSpark.Sf)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(parsed.keySet === truth.keySet, "every doc round-trips as one line")
    truth.foreach { case (id, text) =>
      assert(parsed(id) === text, s"doc $id: text differs after the line round-trip")
    }
  }

  /** Runs `body` over a scratch fixture dir holding copies of `tables`,
    * then drops and deletes every layout keyed to that dir. */
  private def withFixture(tables: String*)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("layout_fixture").toString
    tables.foreach(t => Files.copy(java.nio.file.Paths.get(s"${TestSpark.Sf}/$t.parquet"),
      java.nio.file.Paths.get(s"$dir/$t.parquet")))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    try body(dir)
    finally {
      dropLayoutTables(dir)
      val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
      new java.io.File("/tmp").listFiles().filter(_.getName.startsWith("graft_"))
        .foreach(t => rm(new java.io.File(t, key)))
      rm(new java.io.File(dir))
    }
  }

  /** What a new session sees: no catalog table for the fixture's layouts. */
  private def dropLayoutTables(dir: String): Unit = {
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.toLowerCase.endsWith(key))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("join_bucketed rebuilds when a fixture is regenerated in place") {
    withFixture("lineitem", "orders") { dir =>
      operators.Ingest.joinBucketed.run(spark, dir).collect()
      dropLayoutTables(dir)
      sources.Tables.orders(spark, TestSpark.Sf)
        .withColumn("o_orderpriority", when($"o_orderkey" % 2 === 0,
          concat($"o_orderpriority", lit("*"))).otherwise($"o_orderpriority"))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val got = operators.Ingest.joinBucketed.run(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      val want = sources.Tables.lineitem(spark, dir)
        .join(sources.Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)), sum($"l_extendedprice" * (lit(1.0) - $"l_discount")))
        .orderBy($"o_orderpriority").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(got.map(r => (r._1, r._2)).toSeq === want.map(r => (r._1, r._2)).toSeq)
      got.zip(want).foreach { case (g, w) => assert(math.abs(g._3 - w._3) < 0.01, s"$g vs $w") }
    }
  }

  test("ingest_partition_bucket rebuilds when a fixture is regenerated in place") {
    withFixture("events") { dir =>
      operators.Ingest.partitionBucket.run(spark, dir).collect()
      dropLayoutTables(dir)
      sources.Tables.events(spark, TestSpark.Sf)
        .withColumn("value", $"value" * 2 + 1)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = operators.Ingest.partitionBucket.run(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val want = sources.Tables.events(spark, dir)
        .filter(date_format($"ts", "yyyy-MM-dd").between("2024-01-08", "2024-01-14"))
        .groupBy($"user_id").agg(count(lit(1)), sum($"value"))
        .orderBy($"user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(want.nonEmpty)
      assert(got.map(r => (r._1, r._2)).toSeq === want.map(r => (r._1, r._2)).toSeq)
      got.zip(want).foreach { case (g, w) => assert(math.abs(g._3 - w._3) < 1e-3, s"$g vs $w") }
    }
  }
}
