package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.sources.Tables
import graft.streaming.LocalWrites

/** The reference's soul (SURVEY.md §2a R1–R8): incremental, partitioned,
  * idempotent ingestion of an offset-ordered event stream into a
  * time-bucketed columnar layout.
  *
  * Reference → Spark mapping:
  *  - topic/partition/offset scan  → parquet scan of `events` (event_id
  *    plays the offset), one task per split;
  *  - timestamp extraction + time-bucket derivation → `date_format(ts)`;
  *  - multi-output partitioned sink with codec → `write.partitionBy(topic,
  *    date).option("compression", ...)`;
  *  - idempotent re-run → dynamic partition overwrite (re-running a load
  *    replaces exactly the buckets it produces, never duplicates);
  *  - watermark resume → `event_id > committed` (batch form here; the
  *    checkpointed Structured Streaming form lives in
  *    graft.streaming.IncrementalLoader).
  *
  * Scale notes: the ingest path is intentionally shuffle-free — bucket
  * columns are derived map-side and the partitioned write fans out from
  * the scan tasks directly (the reference's zero-reducer property). The
  * watermark filter is a pushed-down predicate, so an incremental run
  * scans only row groups whose max(event_id) exceeds the watermark.
  */
object Ingest {

  /** Derive the bucket columns: topic analogue + day bucket. */
  def bucketize(events: DataFrame): DataFrame =
    events.withColumn("d", date_format(col("ts"), "yyyy-MM-dd"))

  /** Partitioned, compressed, idempotent write (R6/R7/R8).
    * The repartition on the bucket keys means each bucket is written by one
    * task → one file per bucket instead of numTasks×numBuckets small files
    * (at 100 TB, the small-files problem kills the downstream scan; trade
    * one shuffle for a sane layout).
    *
    * Overwrite mode is chosen by load shape:
    *  - FULL loads (default) use static overwrite + commit algorithm v1 —
    *    the job commit renames each task's bucket directories whole into
    *    the truncated destination. Dynamic overwrite would stage every file
    *    and then move partitions serially on the driver (its protocol
    *    ignores the committer), a measured ~40% tax on a 150-bucket write
    *    for zero benefit when the whole dataset is rewritten anyway; full
    *    re-runs are idempotent by truncate-and-rewrite. v2 is not used:
    *    a task that dies mid-commit leaves partial output behind, and it
    *    is no faster here (0.76 s vs v1's 0.74 s on a 155-bucket write,
    *    SCALE.md).
    *  - PARTIAL loads (`dynamicOverwrite = true`) keep the dynamic
    *    protocol: a re-run replaces exactly the buckets it produces and
    *    never touches sibling partitions (R8 for incremental batches).
    * Both settings are write options, so they hold for this write only
    * and leave the session as it was. The local file system the write
    * goes through (`LocalWrites`) is a write option too. */
  def writePartitioned(events: DataFrame, outPath: String,
                       codec: String = "snappy",
                       dynamicOverwrite: Boolean = false): Unit =
    bucketize(events)
      .repartition(col("event_type"), col("d"))
      .write
      .partitionBy("event_type", "d")
      .option("compression", codec)
      .options(overwriteOptions(dynamicOverwrite))
      .options(LocalWrites.options(events.sparkSession, outPath))
      .mode("overwrite")
      .parquet(outPath)

  /** Per-write settings of `writePartitioned`. Write options reach the
    * job's Hadoop configuration; a `spark.hadoop.*` key set on a running
    * session does not. */
  private[graft] def overwriteOptions(dynamicOverwrite: Boolean): Map[String, String] =
    Map("partitionOverwriteMode" -> (if (dynamicOverwrite) "dynamic" else "static"),
      "mapreduce.fileoutputcommitter.algorithm.version" -> "1")

  /** Full pipeline as a graded query: ingest to a partitioned layout, read
    * back, and report per-bucket counts (proves layout + row preservation).
    * The read-back is partition-pruned: Catalyst lists bucket dirs, it
    * never re-reads unrelated partitions. */
  val ingestPartitioned: GraftQuery = GraftQuery(
    "ingest_partitioned",
    (s, dir) => {
      import s.implicits._
      val out = graft.llm.Layouts.pathOf("ingest", dir)
      writePartitioned(Tables.events(s, dir), out)
      s.read.parquet(out)
        .groupBy($"event_type", $"d".cast("string").as("d"))
        .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
        .orderBy($"event_type", $"d")
    },
    Some("""SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
                   count(*) AS n, (round(sum(value), 4) + 0.0) AS sum_value
            FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')
            ORDER BY event_type, d""")
  )

  /** TTL retention vacuum — keep only the trailing 14 days of the
    * day-partitioned event layout: the lifecycle op every partitioned
    * 100 TB table runs nightly (cost, compliance, and the reason
    * partition-by-date exists at all). Two production forms: with a
    * catalog, retention is a METADATA operation (DROP PARTITION — no
    * data read); without one (plain object-store paths, this fixture),
    * it is a partition-PRUNED rewrite of only the surviving days —
    * never a full-table scan-and-filter, because the retention
    * predicate is on the partition column and prunes at planning time.
    *
    * The surviving layout persists fingerprinted (source regeneration
    * rebuilds it); the graded read-back audits per-day survivor counts
    * plus the days_kept rollup, with the cutoff derived from the data
    * (max day − 13) so the query is scale-factor-independent. */
  val ingestRetention: GraftQuery = GraftQuery(
    "ingest_retention",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // Own source layout, own fingerprint memo: rewriting
      // ingest_partitioned's layout here would couple this query's on-disk
      // state to it and redo its work whenever the retention fingerprint
      // goes stale (ADVICE r11).
      val src = graft.llm.Layouts.pathOf("retention_src", dir)
      lazy val fp =
        graft.llm.Layouts.fingerprint(Tables.events(s, dir), "event_id", "ts")
      graft.llm.Layouts.persisted(src, fp) {
        writePartitioned(Tables.events(s, dir), src)
      }
      graft.llm.Layouts.parquet(s, graft.llm.Layouts.pathOf("retention", dir),
          fp, "d") {
        val srcDf = s.read.parquet(src)
        // Surviving-day list from the PARTITION VALUES (planning-time
        // metadata, not a data scan), then a broadcast SEMI join on the
        // partition column — the form Spark's dynamic partition pruning
        // recognizes, so expired days never leave the file listing.
        val cut = srcDf.agg(date_add(max($"d"), -13).as("c"))
        val survivors = srcDf.select($"d").distinct()
          .crossJoin(broadcast(cut)).filter($"d" >= $"c").select($"d")
        srcDf.join(broadcast(survivors), Seq("d"), "left_semi")
      }.groupBy($"d".cast("string").as("d"))
        .agg(count(lit(1)).as("n"))
        .withColumn("days_kept", count(lit(1)).over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
        .orderBy($"d")
    },
    Some("""WITH cut AS (
              SELECT CAST(max(date_trunc('day', ts)) AS DATE) - 13 AS c FROM events),
            kept AS (
              SELECT strftime(ts, '%Y-%m-%d') AS d
              FROM events WHERE CAST(date_trunc('day', ts) AS DATE) >= (SELECT c FROM cut))
            SELECT d, count(*) AS n,
                   (SELECT count(DISTINCT d) FROM kept) AS days_kept
            FROM kept GROUP BY d ORDER BY d""")
  )

  /** Catalog DROP-PARTITION retention — the METADATA form of
    * ingest_retention, completing the lifecycle pair its doc comment
    * describes: with a catalog (or any partition index), expiring a day
    * never touches data — it is a partition-listing operation (read the
    * partition VALUES, drop the expired directories), zero rows read,
    * zero rows rewritten. That is the form a 100 TB table actually runs
    * nightly; the rewrite form exists for plain uncataloged paths.
    *
    * Everything here is deliberately driver-side ON THE PARTITION
    * CATALOG ONLY: the listing is O(#partitions) (types × days —
    * catalog-sized, independent of row count), the cutoff derives from
    * the LISTED day values (metadata, not a data scan), and the drop is
    * a directory delete per expired day. The graded read-back emits the
    * surviving (event_type, day) partition pairs straight from the
    * post-drop listing — if the drop over- or under-deletes, the oracle
    * (survivors derived from the data) catches it. IngestSpec
    * additionally asserts the expired directories are GONE and the
    * surviving files byte-identical (a metadata op must not rewrite). */
  val ingestRetentionMeta: GraftQuery = GraftQuery(
    "ingest_retention_meta",
    (s, dir) => {
      import s.implicits._
      val out = graft.llm.Layouts.pathOf("retention_meta", dir)
      graft.llm.Layouts.persisted(out,
          graft.llm.Layouts.fingerprint(Tables.events(s, dir), "event_id", "ts")) {
        writePartitioned(Tables.events(s, dir), out)
      }
      // Partition catalog = the (event_type, d) directory tree, listed
      // through the Hadoop FileSystem API (ADVICE r12: java.io.File only
      // resolves local paths — this form now works unchanged against
      // HDFS/S3A, which is where the 100 TB deployment actually lives,
      // and a missing root is a clear FileNotFoundException, not an NPE).
      import org.apache.hadoop.fs.Path
      val root = new Path(out)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      def listParts(): Seq[(String, String, Path)] = for {
        t <- fs.listStatus(root).toSeq
        if t.isDirectory && t.getPath.getName.startsWith("event_type=")
        p <- fs.listStatus(t.getPath).toSeq
        if p.isDirectory && p.getPath.getName.startsWith("d=")
      } yield (t.getPath.getName.stripPrefix("event_type="),
               p.getPath.getName.stripPrefix("d="), p.getPath)
      val cutoff = java.time.LocalDate
        .parse(listParts().map(_._2).max).minusDays(13)
      listParts().filter { case (_, d, _) =>
        java.time.LocalDate.parse(d).isBefore(cutoff)
      }.foreach { case (_, _, dirP) =>
        // DROP PARTITION: recursive delete of one expired day directory.
        fs.delete(dirP, true); ()
      }
      val survivors = listParts().map { case (t, d, _) => (t, d) }
      val daysKept = survivors.map(_._2).distinct.size.toLong
      survivors.toDF("event_type", "d")
        .withColumn("days_kept", lit(daysKept))
        .orderBy($"event_type", $"d")
    },
    Some("""WITH cut AS (
              SELECT CAST(max(date_trunc('day', ts)) AS DATE) - 13 AS c FROM events),
            kept AS (
              SELECT DISTINCT event_type, CAST(date_trunc('day', ts) AS DATE) AS dd
              FROM events
              WHERE CAST(date_trunc('day', ts) AS DATE) >= (SELECT c FROM cut))
            SELECT event_type, strftime(dd, '%Y-%m-%d') AS d,
                   (SELECT count(DISTINCT dd) FROM kept) AS days_kept
            FROM kept ORDER BY event_type, d""")
  )

  /** VACUUM — orphan-file garbage collection, the third leg of the
    * layout lifecycle (retention drops expired partitions,
    * retention_meta drops them through the catalog, vacuum reclaims
    * files no committed snapshot references): aborted task attempts
    * leave real bytes behind (`_temporary/` attempt trees, stray `.crc`
    * side files), invisible to readers but billed by the object store
    * forever. The fixture plants exactly two such orphans each run, so
    * the vacuum count is deterministic and the graded readout —
    * per-type row counts off the post-vacuum table + the vacuumed-file
    * count — hash-compares; IngestSpec additionally pins the surviving
    * part files byte-identical (vacuum must never rewrite data).
    *
    * Scale shape: the committed file set comes from the snapshot's own
    * file index (what a table format's manifest is), the walk is the
    * O(#files) Hadoop FileSystem recursion of ingest_retention_meta —
    * driver-side METADATA work proportional to file count, zero rows
    * read or moved; deletes hit only non-referenced paths. */
  val ingestVacuum: GraftQuery = GraftQuery(
    "ingest_vacuum",
    (s, dir) => {
      import s.implicits._
      val out = graft.llm.Layouts.pathOf("vacuum", dir)
      graft.llm.Layouts.persisted(out,
          graft.llm.Layouts.fingerprint(Tables.events(s, dir), "event_id", "ts")) {
        writePartitioned(Tables.events(s, dir), out)
      }
      import org.apache.hadoop.fs.Path
      val root = new Path(out)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      // Plant the two orphan shapes an aborted run leaves: a _temporary
      // attempt file and a stale staging-dir file. Both are
      // reader-invisible (leading '_') — only vacuum removes them.
      // (A third real-world shape, stray .crc side files, can't be
      // probed here: local ChecksumFileSystem hides them from
      // listStatus, and on HDFS/S3A they don't exist.)
      val orphans = Seq(
        new Path(out, "_temporary/0/task_0/part-orphan.snappy.parquet"),
        new Path(out, "_staging-orphan/part-0.snappy.parquet"))
      orphans.foreach { p =>
        val o = fs.create(p, true); o.write(Array[Byte](1, 2, 3)); o.close()
      }
      val table = s.read.parquet(out)
      val keep = table.inputFiles
        .map(f => new Path(new java.net.URI(f)).toUri.getPath).toSet
      def walk(p: Path): Seq[Path] =
        fs.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st.getPath)
        }
      // Delete-by-exclusion is unsafe under concurrency (it would sweep a
      // parallel writer's in-flight file or a future metadata sidecar), so
      // vacuum only reclaims files sitting under reader-invisible ATTEMPT
      // TREES: a path qualifies iff some directory component strictly
      // below the root is hidden ('_'/'.'-prefixed — aborted _temporary /
      // staging dirs). Committed data files and root-level sidecars
      // (_SUCCESS, _GRAFT_META) can never match; the live-file index
      // check stays as a second guard.
      val rootDepth = root.depth
      def underHiddenDir(p: Path): Boolean =
        Iterator.iterate(p.getParent)(_.getParent)
          .takeWhile(q => q != null && q.depth > rootDepth)
          .exists(q => q.getName.startsWith("_") || q.getName.startsWith("."))
      val doomed = walk(root).filter { p =>
        underHiddenDir(p) && !keep.contains(p.toUri.getPath)
      }
      doomed.foreach(p => fs.delete(p, false))
      // prune the now-empty attempt trees (dir deletes, no data under them)
      fs.delete(new Path(out, "_temporary"), true)
      fs.delete(new Path(out, "_staging-orphan"), true)
      s.read.parquet(out).groupBy($"event_type")
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("n_vacuumed", lit(doomed.size.toLong))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n_rows, CAST(2 AS BIGINT) AS n_vacuumed
            FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** TIME TRAVEL — snapshot-versioned table reads (the table-format
    * flagship: Delta/Iceberg's AS OF): version 1 is the per-user latest
    * state; a late CORRECTION batch for one user cohort (user_id % 50 =
    * 7, events past the midpoint — the backfill shape) commits version
    * 2 by rewriting ONLY the user-group partitions the cohort touches
    * (mod-50 cohorts against mod-8 groups → exactly the odd groups, so
    * file reuse across versions is exercised at EVERY scale factor);
    * v1's files are never deleted or modified, and each version is a
    * MANIFEST (a file list) — reading AS OF v1 after v2 committed
    * returns the pre-correction state bit-for-bit.
    *
    * Scale shape: the commit is O(changed groups) data + O(#files)
    * driver-side manifest metadata (path parsing, like
    * ingest_retention_meta's catalog walk — zero row collects); AS-OF
    * reads list exactly the manifest's files with basePath partition
    * recovery, so time travel costs nothing at read time beyond the
    * file list. The graded readout aggregates both versions (user
    * count, exact cent sum, high-water event id) — a leaked old file or
    * a clobbered v1 byte flips a hash. */
  /** Builds (fingerprint-guarded) the versioned layout + manifests and
    * returns its root — shared by ingest_time_travel and
    * ingest_snapshot_diff. */
  private def timeTravelLayout(s: SparkSession, dir: String): String = {
    import s.implicits._
    val out = graft.llm.Layouts.pathOf("timetravel", dir)
    val dataPath = s"$out/data"
    def latest(df: DataFrame) =
      df.groupBy($"user_id").agg(
        max($"event_id").as("version"),
        max_by($"value", $"event_id").as("value"))
      .withColumn("grp", pmod($"user_id", lit(8L)))
    val ev = Tables.events(s, dir).select($"user_id", $"event_id", $"value")
    graft.llm.Layouts.persisted(out,
        graft.llm.Layouts.fingerprint(Tables.events(s, dir), "event_id", "ts")) {
        val mid = ev.agg(floor(max($"event_id") / 2.0).cast("long").as("mid"))
        val isCorrection = $"user_id" % 50 === 7 && $"event_id" > $"mid"
        val v1 = latest(ev.crossJoin(broadcast(mid)).filter(!isCorrection)
          .drop("mid"))
        v1.repartition($"grp").write.partitionBy("grp")
          .mode("overwrite").parquet(dataPath)
        val f1 = s.read.parquet(dataPath).inputFiles.sorted
        // commit v2: rewrite only the groups the correction cohort
        // touches (semi join — no driver collect of group ids)
        val touched = ev.crossJoin(broadcast(mid)).filter(isCorrection)
          .select(pmod($"user_id", lit(8L)).as("grp")).distinct()
        latest(ev).join(broadcast(touched), Seq("grp"), "left_semi")
          .repartition($"grp").write.partitionBy("grp")
          .mode("append").parquet(dataPath)
        val all2 = s.read.parquet(dataPath).inputFiles.sorted
        val newFiles = all2.diff(f1)
        // manifest metadata (driver-side path parsing, O(#files))
        def grpOf(f: String) = f.split("/").find(_.startsWith("grp=")).get
        val rewritten = newFiles.map(grpOf).toSet
        val v2Files = f1.filterNot(f => rewritten(grpOf(f))) ++ newFiles
        // Manifests go through the Hadoop FileSystem of the layout root
        // (not java.nio) so the versioned layout works on HDFS/S3 paths
        // exactly like the vacuum/retention metadata code.
        import org.apache.hadoop.fs.Path
        val mroot = new Path(out)
        val mfs = mroot.getFileSystem(s.sparkContext.hadoopConfiguration)
        def writeManifest(name: String, lines: Seq[String]): Unit = {
          val os = mfs.create(new Path(mroot, name), true)
          try os.write(lines.mkString("\n").getBytes("UTF-8"))
          finally os.close()
        }
        writeManifest("manifest-v1", f1)
        writeManifest("manifest-v2", v2Files.sorted)
    }
    out
  }

  /** AS-OF read: exactly the files version `v`'s manifest lists, with
    * basePath partition recovery. */
  private[graft] def timeTravelAsOf(s: SparkSession, dir: String,
      v: Int): DataFrame = {
    val out = timeTravelLayout(s, dir)
    import org.apache.hadoop.fs.Path
    val mp = new Path(out, s"manifest-v$v")
    val mfs = mp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val in = mfs.open(mp)
    val text =
      try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 8192, false)
        new String(bos.toByteArray, "UTF-8")
      } finally in.close()
    val files = text.split("\n").toSeq
    s.read.option("basePath", s"$out/data").parquet(files: _*)
  }

  val ingestTimeTravel: GraftQuery = GraftQuery(
    "ingest_time_travel",
    (s, dir) => {
      import s.implicits._
      def stats(v: Int): DataFrame = timeTravelAsOf(s, dir, v).agg(
        count(lit(1)).as("n_users"),
        sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("sum_cents"),
        max($"version").as("max_event_id"))
        .select(lit(v.toLong).as("version"), $"n_users", $"sum_cents",
          $"max_event_id")
      stats(1).unionByName(stats(2)).orderBy($"version")
    },
    Some("""WITH wm AS (
              SELECT CAST(floor(max(event_id) / 2.0) AS BIGINT) AS mid FROM events),
            v1 AS (
              SELECT user_id, max(event_id) AS version,
                     max_by(value, event_id) AS value
              FROM events, wm
              WHERE NOT (user_id % 50 = 7 AND event_id > mid)
              GROUP BY user_id),
            v2 AS (
              SELECT user_id, max(event_id) AS version,
                     max_by(value, event_id) AS value
              FROM events GROUP BY user_id)
            SELECT * FROM (
              SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_users,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                       AS BIGINT) AS sum_cents,
                     max(version) AS max_event_id
              FROM v1
              UNION ALL
              SELECT CAST(2 AS BIGINT), count(*),
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                       AS BIGINT),
                     max(version)
              FROM v2)
            ORDER BY version""")
  )

  /** SNAPSHOT DIFF — the DESCRIBE-HISTORY companion to
    * ingest_time_travel: per user-group, both versions' user count and
    * exact cent sum plus a changed flag — "which partitions did the v2
    * correction actually touch, and by how much" — the audit a data
    * steward reads before expiring old snapshots (an unexpectedly
    * changed group means a write went somewhere it shouldn't have). By
    * the mod-50-cohort-vs-mod-8-group construction exactly the odd
    * groups may change, and the oracle derives the same diff from raw
    * events — a manifest pointing at a wrong or stale file flips a
    * hash.
    *
    * Scale shape: two manifest-driven AS-OF reads (file listing only),
    * each reduced by one hash aggregate onto the 8-group domain, one
    * 8-row join — the diff never touches more data than the two
    * snapshots' own aggregates. */
  val ingestSnapshotDiff: GraftQuery = GraftQuery(
    "ingest_snapshot_diff",
    (s, dir) => {
      import s.implicits._
      def grouped(v: Int, sfx: String): DataFrame =
        // grp returns as a recovered partition column (int-inferred) —
        // pin BIGINT so the graded schema matches the oracle's user_id % 8
        timeTravelAsOf(s, dir, v).groupBy($"grp".cast("long").as("grp"))
          .agg(count(lit(1)).as(s"n_users_$sfx"),
            sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
              .as(s"cents_$sfx"))
      grouped(1, "v1").join(grouped(2, "v2"), Seq("grp"))
        .withColumn("changed",
          $"n_users_v1" =!= $"n_users_v2" || $"cents_v1" =!= $"cents_v2")
        .orderBy($"grp")
    },
    Some("""WITH wm AS (
              SELECT CAST(floor(max(event_id) / 2.0) AS BIGINT) AS mid FROM events),
            v1 AS (
              SELECT user_id % 8 AS grp, max_by(value, event_id) AS value
              FROM events, wm
              WHERE NOT (user_id % 50 = 7 AND event_id > mid)
              GROUP BY user_id),
            v2 AS (
              SELECT user_id % 8 AS grp, max_by(value, event_id) AS value
              FROM events GROUP BY user_id),
            g1 AS (SELECT grp, count(*) AS n_users_v1,
                          CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                            AS BIGINT)) AS BIGINT) AS cents_v1
                   FROM v1 GROUP BY grp),
            g2 AS (SELECT grp, count(*) AS n_users_v2,
                          CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                            AS BIGINT)) AS BIGINT) AS cents_v2
                   FROM v2 GROUP BY grp)
            SELECT grp, n_users_v1, cents_v1, n_users_v2, cents_v2,
                   (n_users_v1 <> n_users_v2 OR cents_v1 <> cents_v2) AS changed
            FROM g1 JOIN g2 USING (grp)
            ORDER BY grp""")
  )

  /** ANALYZE — per-column table statistics (the CBO food: exact NDV,
    * null count, min/max) for the orders table, the stats a catalog
    * stores so the optimizer can size joins and pick broadcast sides;
    * running it as a query makes stats collection itself a graded,
    * repeatable pipeline step instead of a side effect. min/max emit as
    * strings only for types whose rendering both engines pin exactly
    * (BIGINT, DATE day, VARCHAR, exact cents) — a raw DOUBLE min would
    * hash on formatting, so o_totalprice contributes through its exact
    * cent grid.
    *
    * Scale shape: ONE pass over the table; the multi-distinct aggregate
    * expands the scan k-fold (Spark's Expand for k distinct columns) —
    * the documented cost of EXACT ndv; a production run at 100 TB flips
    * to approx_count_distinct per column (one pass, no expand) and keeps
    * this exact form for audit samples. The 1-row stats frame unpivots
    * with a bounded stack — no second scan. */
  val ingestAnalyze: GraftQuery = GraftQuery(
    "ingest_analyze",
    (s, dir) => {
      import s.implicits._
      val t = Tables.orders(s, dir).select(
        $"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_orderpriority",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("o_price_cents"),
        to_date($"o_orderdate").as("o_day"))
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_price_cents", "o_day")
      // min/max(string) would plan SortAggregate (immutable buffer) —
      // the string columns' extrema come from distinct → TakeOrdered
      // 1-row frames instead (hash-distinct + per-partition heaps, never
      // a sort-based aggregate), assembled broadcast like the
      // llm_dataset_card stat frames.
      val stringCols = Set("o_orderstatus", "o_orderpriority")
      val aggs = cols.flatMap { c =>
        Seq(countDistinct(col(c)).as(s"ndv_$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c")) ++
        (if (stringCols(c)) Nil
         else Seq(min(col(c)).cast("string").as(s"mn_$c"),
           max(col(c)).cast("string").as(s"mx_$c")))
      }
      val strFrames = stringCols.toSeq.sorted.flatMap { c =>
        // isNotNull BEFORE the extrema: Spark orders NULLS FIRST asc, so
        // a null string would surface as "min" where SQL min() skips it.
        val dv = t.select(col(c)).filter(col(c).isNotNull)
          .groupBy(col(c)).agg(count(lit(1))).select(col(c))
        Seq(dv.orderBy(col(c).asc).limit(1).select(col(c).as(s"mn_$c")),
          dv.orderBy(col(c).desc).limit(1).select(col(c).as(s"mx_$c")))
      }
      val statsRow = strFrames.foldLeft(t.agg(aggs.head, aggs.tail: _*)) {
        (acc, f) => acc.crossJoin(broadcast(f))
      }
      val stacked = cols.map(c =>
        s"'$c', ndv_$c, nn_$c, mn_$c, mx_$c").mkString(", ")
      statsRow
        .select(expr(s"stack(${cols.size}, $stacked) AS " +
          "(col_name, ndv, n_nulls, min_s, max_s)"))
        .orderBy($"col_name")
    },
    Some("""WITH t AS (
              SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS o_price_cents,
                     CAST(o_orderdate AS DATE) AS o_day
              FROM orders),
            s AS (
              SELECT 'o_orderkey' AS col_name, count(DISTINCT o_orderkey) AS ndv,
                     sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_nulls,
                     CAST(min(o_orderkey) AS VARCHAR) AS min_s,
                     CAST(max(o_orderkey) AS VARCHAR) AS max_s FROM t
              UNION ALL
              SELECT 'o_custkey', count(DISTINCT o_custkey),
                     sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
                     CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM t
              UNION ALL
              SELECT 'o_orderstatus', count(DISTINCT o_orderstatus),
                     sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
                     min(o_orderstatus), max(o_orderstatus) FROM t
              UNION ALL
              SELECT 'o_orderpriority', count(DISTINCT o_orderpriority),
                     sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
                     min(o_orderpriority), max(o_orderpriority) FROM t
              UNION ALL
              SELECT 'o_price_cents', count(DISTINCT o_price_cents),
                     sum(CASE WHEN o_price_cents IS NULL THEN 1 ELSE 0 END),
                     CAST(min(o_price_cents) AS VARCHAR),
                     CAST(max(o_price_cents) AS VARCHAR) FROM t
              UNION ALL
              SELECT 'o_day', count(DISTINCT o_day),
                     sum(CASE WHEN o_day IS NULL THEN 1 ELSE 0 END),
                     strftime(min(o_day), '%Y-%m-%d'), strftime(max(o_day), '%Y-%m-%d') FROM t)
            SELECT col_name, CAST(ndv AS BIGINT) AS ndv,
                   CAST(n_nulls AS BIGINT) AS n_nulls, min_s, max_s
            FROM s ORDER BY col_name""")
  )

  /** ANALYZE, approx mode — the 100 TB production toggle the exact form's
    * Scaladoc promises: per-column NDV via approx_count_distinct (HLL++,
    * rsd 2%) in ONE streaming pass with a fixed-size sketch per column,
    * versus countDistinct's per-column Expand + distinct aggregate (its
    * shuffle volume is rows × columns — the thing that does not survive
    * a 100× scale-up; the sketch pass is what ANALYZE actually runs on a
    * production warehouse).
    *
    * Grading an approximation against an exact-SQL oracle: the output
    * carries the EXACT ndv (so the row is deterministic) plus a
    * SELF-CERTIFYING bound column — approx_within_5pct compares Spark's
    * HLL++ estimate to the exact count; the oracle asserts literal TRUE.
    * The hash matches iff the estimate actually lands inside the bound
    * (the ANN planted-closed-form device). HLL++ is deterministic for a
    * given input, so the certificate cannot flap. */
  val ingestAnalyzeApprox: GraftQuery = GraftQuery(
    "ingest_analyze_approx",
    (s, dir) => {
      import s.implicits._
      val t = Tables.orders(s, dir).select(
        $"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_orderpriority",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("o_price_cents"),
        to_date($"o_orderdate").as("o_day"))
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_price_cents", "o_day")
      // TWO separate passes, assembled broadcast: mixing countDistinct
      // with approx_count_distinct in ONE agg makes Spark evaluate the
      // HLL++ sketches over every Expand projection of the
      // multi-distinct plan (measured 30.4 s vs 1.7 s for the exact
      // form alone at sf0.1). The approx pass alone — what production
      // actually runs — is a single expand-free scan; the exact pass
      // exists only as the certificate's reference, and since r16
      // (verdict item 5) it PERSISTS as a fingerprinted 1-row layout
      // (the perplexityScores discipline): the serve path joins the
      // certificate parquet instead of re-running the rows × columns
      // Expand per call — exactly how a warehouse serves ANALYZE
      // output (computed at ANALYZE time, read at plan time).
      val approxRow = t.agg(
        approx_count_distinct(col(cols.head), 0.02).as(s"andv_${cols.head}"),
        cols.tail.map(c =>
          approx_count_distinct(col(c), 0.02).as(s"andv_$c")): _*)
      val exactRow = graft.llm.Layouts.parquet(s,
          graft.llm.Layouts.pathOf("analyze_cert", dir),
          graft.llm.Layouts.fingerprint(Tables.orders(s, dir), "o_orderkey",
            "o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice",
            "o_orderdate")) {
        t.agg(
          countDistinct(col(cols.head)).as(s"ndv_${cols.head}"),
          cols.tail.map(c => countDistinct(col(c)).as(s"ndv_$c")): _*)
      }
      val stacked = cols.map(c =>
        s"'$c', ndv_$c, " +
          s"(abs(CAST(andv_$c AS DOUBLE) / CAST(ndv_$c AS DOUBLE) - 1.0)" +
          s" <= 0.05)").mkString(", ")
      exactRow.crossJoin(broadcast(approxRow))
        .select(expr(s"stack(${cols.size}, $stacked) AS " +
          "(col_name, ndv, approx_within_5pct)"))
        .orderBy($"col_name")
    },
    Some("""WITH t AS (
              SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS o_price_cents,
                     CAST(o_orderdate AS DATE) AS o_day
              FROM orders),
            s AS (
              SELECT 'o_orderkey' AS col_name,
                     count(DISTINCT o_orderkey) AS ndv FROM t
              UNION ALL SELECT 'o_custkey', count(DISTINCT o_custkey) FROM t
              UNION ALL SELECT 'o_orderstatus', count(DISTINCT o_orderstatus) FROM t
              UNION ALL SELECT 'o_orderpriority', count(DISTINCT o_orderpriority) FROM t
              UNION ALL SELECT 'o_price_cents', count(DISTINCT o_price_cents) FROM t
              UNION ALL SELECT 'o_day', count(DISTINCT o_day) FROM t)
            SELECT col_name, CAST(ndv AS BIGINT) AS ndv,
                   TRUE AS approx_within_5pct
            FROM s ORDER BY col_name""")
  )

  /** Incremental load from a committed watermark (R2/R3 batch form):
    * only events past the watermark are consumed; the predicate pushes
    * into the scan. The watermark here is derived (midpoint) to stay
    * scale-factor-independent. */
  val ingestIncremental: GraftQuery = GraftQuery(
    "ingest_incremental",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val wm = ev.agg(floor(max($"event_id") / 2.0).cast("long").as("wm"))
      ev.join(broadcast(wm), ev("event_id") > wm("wm"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
             min($"event_id").as("first_offset"),
             max($"event_id").as("last_offset"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
                   min(event_id) AS first_offset, max(event_id) AS last_offset
            FROM events
            WHERE event_id > (SELECT CAST(floor(max(event_id) / 2.0) AS BIGINT) FROM events)
            GROUP BY event_type ORDER BY event_type""")
  )

  /** The shared day-partitioned events layout (used by scan_partition_prune
    * and join_dpp), written once per sf-dir behind the Layouts fingerprint
    * protocol: a regenerated events fixture invalidates the layout instead
    * of silently serving stale partitioned bytes while the oracle reads the
    * live parquet. */
  private def bydayLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.llm.Layouts.parquet(s, graft.llm.Layouts.pathOf("ingest_byday", dir),
      graft.llm.Layouts.fingerprint(
        Tables.events(s, dir), "event_id", "ts", "event_type", "value"), "d") {
      Tables.events(s, dir)
        .withColumn("d", date_format($"ts", "yyyy-MM-dd"))
        .repartition($"d")
    }
  }

  /** Partition-pruned scan: a day-partitioned layout is written once per
    * sf-dir (reused if present — both writers produce identical bytes), and
    * the query reads one week of it through a partition-column filter.
    * Catalyst prunes at directory listing: only the 7 matching `d=` dirs
    * are ever opened. At 100 TB bucket granularity IS the index — a day
    * query touches 1/30th of the files, no footer reads elsewhere. */
  val scanPartitionPrune: GraftQuery = GraftQuery(
    "scan_partition_prune",
    (s, dir) => {
      import s.implicits._
      bydayLayout(s, dir)
        .filter($"d" >= "2024-01-08" && $"d" <= "2024-01-14")
        .groupBy($"d".cast("string").as("d"))
        .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
        .orderBy($"d")
    },
    Some("""SELECT strftime(ts, '%Y-%m-%d') AS d,
                   count(*) AS n, (round(sum(value), 4) + 0.0) AS sum_value
            FROM events
            WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-14'
            GROUP BY 1 ORDER BY d""")
  )

  /** Bucketed co-located join: lineitem and orders persisted bucketed on
    * the join key (8 buckets, sorted), then sort-merge joined with ZERO
    * shuffle on either side — the bucket layout satisfies the join's
    * distribution requirement at read time. This is the 100 TB fact-fact
    * join answer: pay the shuffle once at write, join free forever after.
    * (`.hint("merge")` pins SMJ so broadcast selection at toy scale doesn't
    * hide the property; IngestSpec asserts the exchange count.) */
  val joinBucketed: GraftQuery = GraftQuery(
    "join_bucketed",
    (s, dir) => {
      import s.implicits._
      // Each side is fingerprinted over exactly the columns it persists.
      def bucketed(df: DataFrame, part: String, key: String): DataFrame =
        graft.llm.Layouts.table(s, "bucketed", dir,
          graft.llm.Layouts.fingerprint(df, key, df.columns.filter(_ != key): _*),
          8, Seq(key), part = part)(df)
      bucketed(Tables.lineitem(s, dir)
          .select($"l_orderkey", $"l_extendedprice", $"l_discount"),
          "lineitem", "l_orderkey").hint("merge")
        .join(bucketed(Tables.orders(s, dir)
            .select($"o_orderkey", $"o_orderpriority"),
            "orders", "o_orderkey"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
             round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2)
               .as("revenue"))
        .orderBy($"o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_lines,
                   (round(sum(l_extendedprice * (1.0 - l_discount)), 2) + 0.0) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  /** CDC upsert (MERGE emulation): the incremental batch past the
    * watermark is applied to the base snapshot keyed by user_id —
    * latest-event-wins on both sides (argmax by offset), then a full outer
    * join with coalesce picks delta over base and tags each key
    * insert/update/keep. This is the loader's natural extension from
    * append-only to keyed state: at 100 TB both argmax aggregates are
    * map-partial, the merge is one co-partitioned join on the key, and the
    * result is what you'd write back with dynamic partition overwrite. */
  val ingestUpsert: GraftQuery = GraftQuery(
    "ingest_upsert",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_id", $"value")
      val wm = ev.agg(floor(max($"event_id") / 2.0).cast("long").as("wm"))
      def latest(df: DataFrame) =
        df.groupBy($"user_id").agg(
          max($"event_id").as("version"),
          max_by($"value", $"event_id").as("value"))
      val base = latest(ev.join(broadcast(wm), ev("event_id") <= wm("wm")))
        .select($"user_id", $"version".as("b_version"), $"value".as("b_value"))
      val delta = latest(ev.join(broadcast(wm), ev("event_id") > wm("wm")))
        .select($"user_id", $"version".as("d_version"), $"value".as("d_value"))
      base.join(delta, Seq("user_id"), "full_outer")
        .select($"user_id",
          coalesce($"d_version", $"b_version").as("version"),
          round(coalesce($"d_value", $"b_value"), 4).as("value"),
          when($"d_version".isNull, "keep")
            .when($"b_version".isNull, "insert")
            .otherwise("update").as("op"))
        .orderBy($"user_id")
    },
    Some("""WITH wm AS (SELECT CAST(floor(max(event_id) / 2.0) AS BIGINT) AS wm FROM events),
            base AS (
              SELECT user_id, max(event_id) AS version,
                     max_by(value, event_id) AS value
              FROM events, wm WHERE event_id <= wm GROUP BY user_id),
            delta AS (
              SELECT user_id, max(event_id) AS version,
                     max_by(value, event_id) AS value
              FROM events, wm WHERE event_id > wm GROUP BY user_id)
            SELECT coalesce(b.user_id, d.user_id) AS user_id,
                   coalesce(d.version, b.version) AS version,
                   (round(coalesce(d.value, b.value), 4) + 0.0) AS value,
                   CASE WHEN d.version IS NULL THEN 'keep'
                        WHEN b.version IS NULL THEN 'insert'
                        ELSE 'update' END AS op
            FROM base b FULL OUTER JOIN delta d ON b.user_id = d.user_id
            ORDER BY user_id""")
  )

  /** Multi-format source support: the same event rows round-tripped
    * through a non-columnar format with an EXPLICIT schema (inference is
    * test-only per FIXTURES.md) and aggregated back to the parquet truth.
    * Timestamps are excluded from the round-trip on purpose — text formats
    * truncate sub-millisecond precision; schema-on-read of the payload
    * columns is the operator under test. */
  private def roundTrip(fmt: String): GraftQuery = GraftQuery(
    s"source_$fmt",
    (s, dir) => {
      import s.implicits._
      val out = graft.llm.Layouts.pathOf(s"src_$fmt", dir)
      val cols = Tables.events(s, dir)
        .select($"event_id", $"event_type", $"value")
      graft.llm.Layouts.persisted(out,
          graft.llm.Layouts.fingerprint(cols, "event_id", "event_type", "value")) {
        cols.write.format(fmt).option("header", "true").mode("overwrite").save(out)
      }
      s.read.format(fmt)
        .schema("event_id LONG, event_type STRING, value DOUBLE")
        .option("header", "true")
        .load(out)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
             round(sum($"value"), 4).as("sum_value"),
             min($"event_id").as("min_id"),
             max($"event_id").as("max_id"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n, (round(sum(value), 4) + 0.0) AS sum_value,
                   min(event_id) AS min_id, max(event_id) AS max_id
            FROM events GROUP BY event_type ORDER BY event_type""")
  )

  val sourceCsv: GraftQuery = roundTrip("csv")
  val sourceJson: GraftQuery = roundTrip("json")

  /** The line-delimited TEXT source — the rawest ingestion format and
    * the one most LLM corpora actually arrive in (one record per line,
    * schema applied at read time by the consumer). A doc_id-tab-text
    * line set round-trips through `format("text")` and is parsed back
    * with a limit-2 split (a tab INSIDE the payload stays payload —
    * the classic TSV splitting bug is an unlimited split), then graded
    * on exact counts, char mass and id range against the parquet
    * truth. The fixture's text carries no newlines (FIXTURES.md), so
    * line = record holds; a production corpus with embedded newlines
    * takes the JSON-lines round-trip (source_json) instead — that is
    * the real decision boundary between the two formats. */
  val sourceText: GraftQuery = GraftQuery(
    "source_text",
    (s, dir) => {
      import s.implicits._
      val out = graft.llm.Layouts.pathOf("src_text", dir)
      val cols = Tables.documents(s, dir).select($"doc_id", $"text")
      graft.llm.Layouts.persisted(out,
          graft.llm.Layouts.fingerprint(cols, "doc_id", "text")) {
        cols.select(concat($"doc_id".cast("string"), lit("\t"), $"text"))
          .write.format("text").mode("overwrite").save(out)
      }
      s.read.text(out)
        .select(split($"value", "\t", 2).as("parts"))
        .select($"parts".getItem(0).cast("long").as("doc_id"),
          $"parts".getItem(1).as("text"))
        .agg(count(lit(1)).as("n"),
          sum(length($"text")).as("sum_chars"),
          min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
    },
    Some("""SELECT count(*) AS n, CAST(sum(length(text)) AS BIGINT) AS sum_chars,
                   min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM documents""")
  )
  /** ORC exercises the OTHER columnar format family (predicate pushdown,
    * column pruning, and stripe statistics work exactly as for parquet;
    * unlike the text formats the round-trip is bit-exact). */
  val sourceOrc: GraftQuery = roundTrip("orc")

  /** The `binaryFile` source — Spark's opaque-blob reader and the real
    * ingestion path for multimodal corpora (images/audio land as FILES;
    * the first Spark job reads them as (path, length, content) rows and
    * writes payload-columned parquet — every mm_* operator here consumes
    * that product). A 100-doc sample round-trips: payloads written as
    * one file per record under a doc_id partition directory (the writer
    * side belongs to the upstream system in production; file-per-record
    * at fixture scale exists to exercise the READER), read back via
    * format("binaryFile") with partition discovery recovering doc_id
    * from the directory name, graded on exact byte length and content
    * md5 against the parquet truth. modificationTime is excluded —
    * environment state, not data. The text sink appends one newline per
    * record, so the oracle hashes text || chr(10). */
  val sourceBinary: GraftQuery = GraftQuery(
    "source_binary",
    (s, dir) => {
      import s.implicits._
      val out = graft.llm.Layouts.pathOf("blobs", dir)
      graft.llm.Layouts.persisted(out,
          graft.llm.Layouts.fingerprint(
            Tables.documents(s, dir), "doc_id", "text")) {
        Tables.documents(s, dir)
          .filter($"doc_id" < 100)
          .select($"text", $"doc_id")
          .write.partitionBy("doc_id").mode("overwrite").text(out)
      }
      s.read.format("binaryFile").load(out)
        .select($"doc_id".cast("long").as("doc_id"),
          $"length".as("byte_len"),
          md5($"content").as("content_md5"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
                   CAST(octet_length(encode(text)) + 1 AS BIGINT) AS byte_len,
                   md5(text || chr(10)) AS content_md5
            FROM documents WHERE doc_id < 100
            ORDER BY doc_id""")
  )

  /** The canonical 100 TB fact layout: PARTITIONED by day AND BUCKETED by
    * the high-cardinality key — one write buys both partition pruning
    * (time-range queries list only matching directories) and shuffle-free
    * per-key aggregation/joins (the bucket distribution satisfies the
    * aggregate's clustering requirement at read time). The graded query
    * does both at once: a week's partition prune, then groupBy(user_id)
    * with ZERO exchange before the aggregate — the plan the reference's
    * {topic}/{date} output layout grows into on a real warehouse.
    * IngestSpec asserts both plan properties. */
  val partitionBucket: GraftQuery = GraftQuery(
    "ingest_partition_bucket",
    (s, dir) => {
      import s.implicits._
      lazy val ev = Tables.events(s, dir) // read only on the cold path
      // 4 buckets: the layout writes days x buckets files, and the
      // local-FS per-file writer cost (see BASELINE.md) is the whole
      // cold price — size bucket count to the data, not habit. The
      // shuffle-free aggregation property is bucket-count-independent.
      graft.llm.Layouts.table(s, "pb", dir,
          graft.llm.Layouts.fingerprint(ev, "event_id", ev.columns.filter(_ != "event_id"): _*),
          4, Seq("user_id"), partitionBy = Seq("d")) {
        ev.withColumn("d", date_format($"ts", "yyyy-MM-dd"))
          // Pre-shuffle on (day, bucket-id) so each (d, bucket) pair is
          // held by exactly one write task: without this, EVERY input
          // task emits its own file per (day x bucket) it touches, and
          // cold file count scales with cluster parallelism (thousands
          // of tasks -> small-files explosion at the exact layer meant
          // to be the scale-ready layout). pmod(hash(user_id), 4) is
          // Spark's own bucket-id function (Murmur3 then pmod), so the
          // co-location is exact and the layout is days x 4 files at
          // any parallelism. IngestSpec pins the file count.
          .repartition($"d", pmod(hash($"user_id"), lit(4)))
      }.filter($"d" >= "2024-01-08" && $"d" <= "2024-01-14")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
        .orderBy($"user_id")
    },
    Some("""SELECT user_id, count(*) AS n, (round(sum(value), 4) + 0.0) AS sum_value
            FROM events
            WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-14'
            GROUP BY user_id ORDER BY user_id""")
  )

  /** Small-file compaction — the operational follow-up to streaming
    * ingest: micro-batch file sinks leave one file per (trigger × writer
    * task) per partition, and scan cost degrades linearly with file count
    * (an open + footer read per file), so a periodic compactor rewrites
    * each day-partition to its target file count without changing one
    * row. The fixture fragments a day-partitioned layout deliberately
    * (8 round-robin writer tasks → up to 8 files per day dir), then
    * compacts by repartitioning on the partition column — one task, one
    * file per day. At 100 TB the repartition key becomes (d, hash-bucket)
    * with the bucket count chosen from target file size (and
    * maxRecordsPerFile as the guard rail), so compaction parallelism and
    * file sizes stay constant as partitions grow.
    *
    * The graded output proves both halves: per-day row counts survive
    * (oracle) and the per-day file count is exactly the target — counted
    * from the `_metadata.file_path` column, executor-side, never a
    * driver directory listing. Both layouts are fingerprinted one-time
    * writes (the Layouts convention). */
  val ingestCompact: GraftQuery = GraftQuery(
    "ingest_compact",
    (s, dir) => {
      import s.implicits._
      val frag = graft.llm.Layouts.pathOf("frag", dir)
      lazy val meta = // forced only on the cold build path (r16)
        graft.llm.Layouts.fingerprint(Tables.events(s, dir), "event_id", "ts")
      graft.llm.Layouts.persisted(frag, meta) {
        Tables.events(s, dir)
          .withColumn("d", date_format($"ts", "yyyy-MM-dd"))
          .repartition(8)
          .write.partitionBy("d").mode("overwrite").parquet(frag)
      }
      graft.llm.Layouts.parquet(s, graft.llm.Layouts.pathOf("compacted", dir),
          meta, "d") {
        s.read.parquet(frag).repartition($"d")
      }.select($"d".cast("string").as("d"), col("_metadata.file_path").as("f"))
        .groupBy($"d")
        .agg(count(lit(1)).as("n_rows"), countDistinct($"f").as("n_files"))
        .orderBy($"d")
    },
    Some("""SELECT strftime(ts, '%Y-%m-%d') AS d, count(*) AS n_rows,
                   CAST(1 AS BIGINT) AS n_files
            FROM events GROUP BY 1 ORDER BY d""")
  )

  /** CDC log compaction: apply an ordered change log (upserts + deletes)
    * to produce current state — the Debezium/CDC materialization every
    * lakehouse ingest path needs. The log is emulated from events: entity
    * key = event_id mod 1000, sequence = event_id (the monotone log
    * offset), and every 7th change is a delete tombstone.
    *
    * Semantics: per key, the change with the highest sequence wins; a key
    * whose last change is a tombstone is absent from the output.
    *
    * Scale shape: ONE hash aggregate — the per-key winner is a pair of
    * `max_by` folds over FIXED-WIDTH buffers (op encoded as an int flag,
    * value a double; a struct-valued max_by buffer would fall back to
    * SortAggregate — the llm_dedup_keep_best lesson), so 100 TB of log
    * reduces map-side to one row per key before the only shuffle; the
    * tombstone filter runs on the compacted rows. No window, no per-key
    * sort: last-writer-wins compaction must never pay a total order when
    * the winner is a fold. The monotone-unique `seq` makes both argmaxes
    * pick the same (the last) change. */
  val ingestCdc: GraftQuery = GraftQuery(
    "ingest_cdc",
    (s, dir) => {
      import s.implicits._
      val log = Tables.events(s, dir).select(
        pmod($"event_id", lit(1000L)).as("k"),
        $"event_id".as("seq"),
        when(pmod($"event_id", lit(7L)) === 0, 1).otherwise(0).as("del"),
        $"value")
      log.groupBy($"k")
        .agg(max_by($"del", $"seq").as("last_del"),
          max_by($"value", $"seq").as("last_value"),
          max($"seq").as("last_seq"),
          count(lit(1)).as("n_changes"))
        .filter($"last_del" === 0)
        .select($"k", round($"last_value", 4).as("value"),
          $"last_seq", $"n_changes")
        .orderBy($"k")
    },
    Some("""WITH log AS (
              SELECT event_id % 1000 AS k, event_id AS seq,
                     CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op,
                     value
              FROM events)
            SELECT k, (round(arg_max(value, seq), 4) + 0.0) AS value,
                   max(seq) AS last_seq, count(*) AS n_changes
            FROM log GROUP BY k
            HAVING arg_max(op, seq) <> 'D'
            ORDER BY k""")
  )

  /** SCD Type-2 dimension materialization: the same CDC change log as
    * `ingest_cdc`, but instead of compacting to current state it produces
    * the full version HISTORY — one row per upsert, valid over
    * [eff_from, eff_to) in log-sequence time, open-ended (`is_current`)
    * for a key whose latest change is that upsert. Delete tombstones
    * emit no version but CLOSE the prior one (their seq becomes its
    * eff_to), so a deleted key has no current row — the warehouse
    * dimension-table complement of the CDC mirror.
    *
    * Scale shape: ONE shuffle + per-key sort feeding a single `lead`
    * window — validity intervals are a neighbor computation, so unlike
    * the compaction (a fold) this op genuinely needs the per-key order,
    * and pays exactly one. No self-join (the naive "join each change to
    * the next" form), nothing corpus-sized on the driver. At 100 TB the
    * window partitions by key — millions of small independent chains,
    * the shape window exchange planning likes. */
  val ingestScd2: GraftQuery = GraftQuery(
    "ingest_scd2",
    (s, dir) => {
      import s.implicits._
      val log = Tables.events(s, dir).select(
        pmod($"event_id", lit(1000L)).as("k"),
        $"event_id".as("seq"),
        when(pmod($"event_id", lit(7L)) === 0, 1).otherwise(0).as("del"),
        $"value")
      val w = Window.partitionBy($"k").orderBy($"seq")
      log
        .withColumn("eff_to", lead($"seq", 1).over(w))
        .filter($"del" === 0)
        .select($"k", $"seq".as("eff_from"), $"eff_to",
          when($"eff_to".isNull, 1).otherwise(0).as("is_current"),
          round($"value", 4).as("value"))
        .orderBy($"k", $"eff_from")
    },
    Some("""WITH log AS (
              SELECT event_id % 1000 AS k, event_id AS seq,
                     CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END AS del, value
              FROM events),
            v AS (SELECT k, seq, del, value,
                         lead(seq) OVER (PARTITION BY k ORDER BY seq) AS eff_to
                  FROM log)
            SELECT k, seq AS eff_from, eff_to,
                   CASE WHEN eff_to IS NULL THEN 1 ELSE 0 END AS is_current,
                   (round(value, 4) + 0.0) AS value
            FROM v WHERE del = 0
            ORDER BY k, eff_from""")
  )

  /** Z-order bit interleave of two 8-bit binned coordinates — statically
    * unrolled into 16 codegen'd shift/mask terms (no UDF, no loop). */
  private[graft] def zInterleave(x: Column, y: Column): Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** The identical interleave as a DuckDB expression over columns u8, d8. */
  private def zSql: String =
    (0 until 8).map(i =>
      s"(((u8 >> $i) & 1) << ${2 * i}) + (((d8 >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** Z-order clustered layout — multi-dimensional data skipping, the
    * reason Delta/Iceberg ship OPTIMIZE ZORDER: a layout range-partitioned
    * and sorted on ONE column prunes file-level min/max stats on that
    * column only; interleaving two dimension keys into one z-value and
    * range-clustering on IT bounds BOTH dimensions within every file, so
    * predicates on either column skip most files. Raw-bit interleaving
    * breaks when the dimensions span different ranges (the wider key's
    * high bits dominate the sort) — which is why production Z-ordering
    * (Delta OPTIMIZE ZORDER) maps each column to a bounded range id
    * first. Here each key min-max-bins to 8 bits via one broadcast
    * 1-row bounds aggregate and exact integer division, then the binned
    * coordinates interleave — both dimensions contribute equally at ANY
    * fixture scale, and every step stays engine-exact.
    *
    * The fixture clusters events on (user_id, day): the layout is
    * written once (fingerprinted, `repartitionByRange` on z +
    * in-partition sort), and IngestSpec proves the skipping claim from
    * the written files' own min/max spans — a selective predicate on
    * EITHER dimension overlaps only a fraction of z-clustered files,
    * while a single-column-sorted baseline must read every file for the
    * non-sort dimension.
    *
    * The graded output aggregates per z-prefix cell (z >> 6: both
    * binned keys' bits ≥ 3, a 1024-cell grid) — count plus both raw
    * dimensions' min/max, pinning the binning + interleave arithmetic
    * bit-for-bit against the oracle's identical unrolled expression
    * while staying independent of range-sampling file boundaries.
    *
    * Scale shape: z is ~40 scan-projection integer ops off one broadcast
    * bounds row; the cluster write is one range exchange (sampled
    * boundaries → balanced files regardless of key skew). At 100 TB the
    * same code Z-orders each ingest partition independently — nothing
    * about z coordinates across partitions, so clustering parallelism
    * is unbounded. */
  val ingestZorder: GraftQuery = GraftQuery(
    "ingest_zorder",
    (s, dir) => {
      import s.implicits._
      lazy val meta = // forced only on the cold build path (r16)
        graft.llm.Layouts.fingerprint(Tables.events(s, dir), "event_id", "ts")
      graft.llm.Layouts.parquet(s, graft.llm.Layouts.pathOf("zorder", dir), meta) {
        val ev = Tables.events(s, dir)
          .select($"user_id", $"value",
            datediff($"ts", lit("1970-01-01")).cast("long").as("d"))
        val bounds = ev.agg(
          min($"user_id").as("u_lo"), max($"user_id").as("u_hi"),
          min($"d").as("d_lo"), max($"d").as("d_hi"))
        ev.crossJoin(broadcast(bounds))
          .withColumn("u8",
            expr("(user_id - u_lo) * 256 DIV (u_hi - u_lo + 1)"))
          .withColumn("d8", expr("(d - d_lo) * 256 DIV (d_hi - d_lo + 1)"))
          .withColumn("z", zInterleave($"u8", $"d8"))
          .select($"user_id", $"d", $"value", $"z")
          .repartitionByRange(16, $"z")
          .sortWithinPartitions($"z")
      }.groupBy(shiftright($"z", 6).as("zb"))
        .agg(count(lit(1)).as("n"),
          min($"user_id").as("min_u"), max($"user_id").as("max_u"),
          min($"d").as("min_d"), max($"d").as("max_d"))
        .orderBy($"zb")
    },
    Some(s"""WITH t AS (
              SELECT user_id AS u,
                     CAST(date_diff('day', DATE '1970-01-01', ts) AS BIGINT) AS d
              FROM events),
            b AS (SELECT min(u) AS u_lo, max(u) AS u_hi,
                         min(d) AS d_lo, max(d) AS d_hi FROM t),
            c AS (SELECT u, d,
                         (u - u_lo) * 256 // (u_hi - u_lo + 1) AS u8,
                         (d - d_lo) * 256 // (d_hi - d_lo + 1) AS d8
                  FROM t CROSS JOIN b),
            z AS (SELECT u, d, CAST($zSql AS BIGINT) AS z FROM c)
            SELECT z >> 6 AS zb, count(*) AS n,
                   min(u) AS min_u, max(u) AS max_u,
                   min(d) AS min_d, max(d) AS max_d
            FROM z GROUP BY 1 ORDER BY zb""")
  )

  /** Schema evolution on read: two parquet batches written with DIFFERENT
    * schemas (batch 2 adds `event_type`) are read back as ONE table via
    * `mergeSchema` — the long-lived-dataset reality where producers add
    * columns over the years and old files must keep reading, with the
    * missing column as NULL. The aggregation proves both the merged
    * schema and the NULL semantics for pre-evolution rows.
    *
    * Scale shape: mergeSchema's cost is footer reconciliation at
    * planning, not data movement — at 100 TB you pin the merged schema in
    * a catalog instead of re-inferring per query, but the per-file
    * "project missing columns as NULL" read path exercised here is
    * byte-identical. Both batches are fingerprinted one-time writes (the
    * Layouts convention). */
  val ingestSchemaEvolution: GraftQuery = GraftQuery(
    "ingest_schema_evolution",
    (s, dir) => {
      import s.implicits._
      val root = graft.llm.Layouts.pathOf("evolve", dir)
      lazy val meta = // forced only on the cold build path (r16)
        graft.llm.Layouts.fingerprint(Tables.events(s, dir), "event_id", "ts")
      graft.llm.Layouts.persisted(root, meta) {
        val ev = Tables.events(s, dir)
        // v1 producer: no event_type column yet.
        ev.filter(pmod($"event_id", lit(2L)) === 0)
          .select($"event_id", $"user_id", $"value")
          .write.mode("overwrite").parquet(s"$root/batch=1")
        // v2 producer: schema gained event_type.
        ev.filter(pmod($"event_id", lit(2L)) === 1)
          .select($"event_id", $"user_id", $"value", $"event_type")
          .write.mode("overwrite").parquet(s"$root/batch=2")
      }
      s.read.option("mergeSchema", "true").parquet(root)
        .groupBy(coalesce($"event_type", lit("pre_evolution")).as("etype"))
        .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
        .orderBy($"etype")
    },
    Some("""SELECT CASE WHEN event_id % 2 = 0 THEN 'pre_evolution'
                        ELSE event_type END AS etype,
                   count(*) AS n, (round(sum(value), 4) + 0.0) AS sum_value
            FROM events GROUP BY 1 ORDER BY etype""")
  )

  /** Dynamic partition pruning: the day-partitioned events layout joined
    * on its PARTITION column against a filtered dim (the Monday calendar
    * rows derived from the day domain). Static pruning can't help — the
    * fact filter is not a literal, it's "days the dim keeps" — so
    * Catalyst plants a DynamicPruningExpression on the fact scan: the
    * broadcast dim executes FIRST and its day set prunes the fact's
    * directory listing at runtime. At 100 TB this is the difference
    * between scanning 30 day-buckets and scanning the 4 the dim selects —
    * the fact side never reads a pruned partition's footer, let alone its
    * rows. IngestSpec asserts the plan carries `dynamicpruning` on the
    * fact scan (the property, not just the answer — broadcast selection
    * at toy scale would hide a regression to a full scan).
    *
    * The dim is deliberately tiny (distinct days + a dayofweek filter):
    * DPP's default reuseBroadcastOnly mode re-uses the dim's broadcast
    * exchange as the pruning subquery, so the prune costs nothing beyond
    * the broadcast the join already pays. */
  val joinDpp: GraftQuery = GraftQuery(
    "join_dpp",
    (s, dir) => {
      import s.implicits._
      val fact = bydayLayout(s, dir)
      val mondays = fact.select($"d").distinct()
        .filter(dayofweek(to_date($"d")) === 2)
      fact.join(broadcast(mondays), "d")
        .groupBy($"d".cast("string").as("d"), $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
        .orderBy($"d", $"event_type")
    },
    Some("""SELECT d, event_type, count(*) AS n, (round(sum(value), 4) + 0.0) AS sum_value
            FROM (SELECT strftime(ts, '%Y-%m-%d') AS d, event_type, value
                  FROM events)
            WHERE dayofweek(CAST(d AS DATE)) = 1
            GROUP BY d, event_type
            ORDER BY d, event_type""")
  )

  /** Manifest I/O shared by the snapshot lifecycle family — always the
    * Hadoop FileSystem of the path (HDFS/S3-ready, like vacuum). */
  private def readManifestLines(s: SparkSession, p0: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(p0)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 8192, false)
      new String(bos.toByteArray, "UTF-8").split("\n").toSeq
    } finally in.close()
  }

  private def writeManifestLines(s: SparkSession, p0: String,
      lines: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(p0)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write(lines.mkString("\n").getBytes("UTF-8")) finally os.close()
  }

  /** ZERO-COPY CLONE — Delta/Iceberg's SHALLOW CLONE: a clone is a new
    * MANIFEST pointing at the source snapshot's files (no data copied);
    * subsequent commits to the clone are metadata-only too (here: a
    * DROP PARTITION of user-group 3, the catalog-style delete), and the
    * source is provably untouched — the graded readout aggregates the
    * source head, the fresh clone (bit-equal to the source head: the
    * zero-copy proof) and the diverged clone, all against oracles
    * derived from raw events.
    *
    * Scale shape: clone commit = O(#files) driver-side manifest text;
    * reads list exactly the manifest's files. No data is read or moved
    * by the clone or the divergence — only by the graded aggregate. */
  val ingestClone: GraftQuery = GraftQuery(
    "ingest_clone",
    (s, dir) => {
      import s.implicits._
      val out = timeTravelLayout(s, dir)
      val cloneDir = graft.llm.Layouts.pathOf("clone", dir)
      val srcHead = readManifestLines(s, s"$out/manifest-v2")
      writeManifestLines(s, s"$cloneDir/manifest-v1", srcHead)
      // Match the path COMPONENT exactly — a substring test would also
      // drop grp=30..39 if the group modulus ever changed from 8.
      writeManifestLines(s, s"$cloneDir/manifest-v2",
        srcHead.filterNot(_.split('/').contains("grp=3")))
      def stats(label: String, files: Seq[String]): DataFrame =
        s.read.option("basePath", s"$out/data").parquet(files: _*)
          .agg(count(lit(1)).as("n_users"),
            sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
              .as("sum_cents"))
          .select(lit(label).as("snapshot"), $"n_users", $"sum_cents")
      stats("1_src_head", srcHead)
        .unionByName(stats("2_clone_v1",
          readManifestLines(s, s"$cloneDir/manifest-v1")))
        .unionByName(stats("3_clone_v2_drop_g3",
          readManifestLines(s, s"$cloneDir/manifest-v2")))
        .orderBy($"snapshot")
    },
    Some("""WITH v2 AS (
              SELECT user_id, max_by(value, event_id) AS value,
                     user_id % 8 AS grp
              FROM events GROUP BY user_id),
            h AS (SELECT count(*) AS n_users,
                         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
                  FROM v2),
            d AS (SELECT count(*) AS n_users,
                         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
                  FROM v2 WHERE grp <> 3)
            SELECT '1_src_head' AS snapshot, n_users, sum_cents FROM h
            UNION ALL
            SELECT '2_clone_v1', n_users, sum_cents FROM h
            UNION ALL
            SELECT '3_clone_v2_drop_g3', n_users, sum_cents FROM d
            ORDER BY snapshot""")
  )

  /** RESTORE — Delta's RESTORE TABLE ... TO VERSION 1: rolling a table
    * back is COMMITTING THE OLD MANIFEST AS THE NEW HEAD (v3 := v1's
    * file list) — metadata-only, v2 stays in history for audit and the
    * restored head is bit-equal to v1 (the graded rows force it). The
    * lifecycle closes: time travel reads history, snapshot-diff audits
    * it, clone forks it, restore rewinds it, vacuum GCs it.
    *
    * Scale shape: the restore commit is O(#files) manifest text,
    * zero rows moved. */
  val ingestRestore: GraftQuery = GraftQuery(
    "ingest_restore",
    (s, dir) => {
      import s.implicits._
      val out = timeTravelLayout(s, dir)
      writeManifestLines(s, s"$out/manifest-v3",
        readManifestLines(s, s"$out/manifest-v1"))
      def stats(v: Int): DataFrame = timeTravelAsOf(s, dir, v).agg(
        count(lit(1)).as("n_users"),
        sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("sum_cents"))
        .select(lit(v.toLong).as("version"), $"n_users", $"sum_cents")
      stats(1).unionByName(stats(2)).unionByName(stats(3))
        .orderBy($"version")
    },
    Some("""WITH wm AS (
              SELECT CAST(floor(max(event_id) / 2.0) AS BIGINT) AS mid FROM events),
            v1 AS (
              SELECT user_id, max_by(value, event_id) AS value
              FROM events, wm
              WHERE NOT (user_id % 50 = 7 AND event_id > mid)
              GROUP BY user_id),
            v2 AS (
              SELECT user_id, max_by(value, event_id) AS value
              FROM events GROUP BY user_id),
            s1 AS (SELECT count(*) AS n_users,
                          CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
                   FROM v1),
            s2 AS (SELECT count(*) AS n_users,
                          CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
                   FROM v2)
            SELECT CAST(1 AS BIGINT) AS version, n_users, sum_cents FROM s1
            UNION ALL
            SELECT CAST(2 AS BIGINT), n_users, sum_cents FROM s2
            UNION ALL
            SELECT CAST(3 AS BIGINT), n_users, sum_cents FROM s1
            ORDER BY version""")
  )

  def all: Seq[GraftQuery] =
    Seq(ingestPartitioned, ingestIncremental, scanPartitionPrune, joinBucketed,
        ingestUpsert, ingestRetention, ingestRetentionMeta, ingestVacuum, ingestAnalyze, ingestAnalyzeApprox, ingestTimeTravel, ingestSnapshotDiff,
        ingestClone, ingestRestore,
        sourceCsv, sourceJson, sourceOrc,
        sourceText, sourceBinary,
        partitionBucket,
        ingestCompact,
        ingestCdc, ingestScd2, ingestZorder, ingestSchemaEvolution, joinDpp)
}
