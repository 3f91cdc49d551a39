package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
import org.apache.spark.sql.types._

import graft.GraftQuery
import graft.llm.{Dedup, Layouts, Similarity, TextStats}
import graft.operators
import graft.sources.Tables
import graft.streaming.IncrementalLoader

/** One timed client operation. */
final case class Op(kind: String, name: String, start: Double, seconds: Double,
                    ok: Boolean, error: String = "",
                    extra: Map[String, Any] = Map.empty)

/** A workload, driven by one client thread in a closed loop.
  *
  * `once` is set-up work that only means something the first time
  * (warming code paths); `prep` is the set-up step the harness then repeats
  * to report a median set-up time. `phase` is the timed loop; `verify` runs
  * after it, untimed. */
trait Workload {
  def prep(rep: Int): Unit
  def once(): Unit = ()
  def phase(tag: String, tr: Tracer, seconds: Double): Map[String, Any]
  def verify(): Map[String, Any]
}

object Harness {
  val TmpRoot = new File("/tmp")
  /** Every directory the benchmark hands the program has this in its name,
    * so the program's /tmp/graft_* layouts keyed by it are ours to remove. */
  val Key = "perfbench_"
  /** Repetitions of a workload's repeatable set-up step; set-up time is
    * reported as their median. */
  val Reps = 3

  def now(): Double = System.nanoTime() / 1e9

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** /tmp/graft_* entries: top-level names and their children. */
  def tmpEntries(): Set[String] = {
    val tops = Option(TmpRoot.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft_"))
    tops.flatMap { t =>
      Seq(t.getName) ++ Option(t.listFiles()).getOrElse(Array.empty[File])
        .map(c => t.getName + "/" + c.getName)
    }.toSet
  }

  /** Remove the program's layouts keyed to the benchmark's directories. */
  def removeKeyed(): Unit =
    Option(TmpRoot.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft_")).foreach { t =>
        if (t.getName.contains(Key)) rmrf(t)
        else Option(t.listFiles()).getOrElse(Array.empty[File])
          .filter(_.getName.contains(Key)).foreach(rmrf)
      }

  def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** (steal, total) CPU jiffies of the machine from /proc/stat: the time a
    * hypervisor took from this VM shows as steal. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").tail
        .take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  def vmHwmMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => -1.0 }

  /** Whole-stage and expression classes Spark has compiled so far (each
    * miss in its codegen cache is one compile). */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Seconds the JIT compilers have spent so far. */
  def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Order-sensitive digest of a collected result (results are totally
    * ordered by the query contract, so equal results hash equal). */
  def digest(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString))

  /** Time `body` as one op; a thrown error marks the op failed. */
  def timed(kind: String, name: String)(body: => Map[String, Any]): Op = {
    val t0 = now()
    try {
      val extra = body
      val ok = extra.get("ok").forall(_ == true)
      Op(kind, name, t0, now() - t0, ok,
        extra.get("error").map(_.toString).getOrElse(""), extra - "ok" - "error")
    } catch {
      case NonFatal(e) =>
        Op(kind, name, t0, now() - t0, ok = false,
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
  }

  def opJson(o: Op): Map[String, Any] =
    Map("kind" -> o.kind, "name" -> o.name, "start" -> o.start, "s" -> o.seconds,
      "ok" -> o.ok, "error" -> o.error) ++ o.extra

  def traceJson(tr: Tracer): Map[String, Any] = {
    tr.drain()
    val (spans, counters) = tr.snapshot()
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    Map(
      "spans" -> spans.map { s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start" -> s.start / 1e9, "end" -> s.end / 1e9,
          "self_s" -> (s.end - s.start - childNs(s.id)) / 1e9,
          "attrs" -> s.attrs.toMap,
          "spark" -> counters.get(s.id).map(_.toMap).getOrElse(Map.empty))
      },
      "unattributed" -> counters.get(-1).map(_.toMap).getOrElse(Map.empty))
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val data = new File(a("data")).getAbsolutePath
    val work = new File(a("work")).getAbsolutePath
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val seed = a("seed").toLong
    val cpus = a("cpus").toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    removeKeyed()
    val tmpBefore = tmpEntries()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    // The traffic profile the generator wrote next to the data.
    val profile = new ObjectMapper().readTree(new File(s"$data/profile.json"))
    val w: Workload = workload match {
      case "serve" => new Serve(spark, data, work, seed, profile)
      case "ingest" => new IngestLoad(spark, data, work, profile)
    }
    val jitOnce0 = jitSeconds()
    val t0 = now(); w.once(); val onceS = now() - t0
    val jitOnce = jitSeconds() - jitOnce0
    val prepS = (1 to Reps).map { r =>
      val t1 = now(); w.prep(r); now() - t1
    }
    val jitPrep = jitSeconds() - jitOnce0 - jitOnce

    val phases = mutable.LinkedHashMap.empty[String, Any]
    def runPhase(tag: String, traced: Boolean): Unit = {
      val tr = new Tracer(spark.sparkContext, traced)
      val load0 = loadavg(); val gc0 = gcSeconds(); val jit0 = jitSeconds()
      val cg0 = codegenCompiles()
      val (steal0, jif0) = cpuJiffies()
      val p0 = now()
      val res = w.phase(tag, tr, seconds)
      val wall = now() - p0
      val (steal1, jif1) = cpuJiffies()
      phases(tag) = res ++ Map("wall_s" -> wall, "gc_s" -> (gcSeconds() - gc0),
        "jit_s" -> (jitSeconds() - jit0), "codegen_compiles" -> (codegenCompiles() - cg0),
        "loadavg_before" -> load0, "loadavg_after" -> loadavg(),
        "cpu_steal_share" -> (steal1 - steal0).toDouble / math.max(1L, jif1 - jif0)) ++
        (if (traced) traceJson(tr) else Map.empty)
    }
    runPhase("untraced", traced = false)
    // The traced phase sits between two untraced ones, so the warming that
    // goes on from phase to phase cancels out of the tracing overhead.
    if (trace) {
      runPhase("traced", traced = true)
      runPhase("after", traced = false)
    }

    val verify = w.verify()
    val peak = vmHwmMb()
    removeKeyed()
    val leaked = (tmpEntries() -- tmpBefore).toSeq.sorted
    val out = Map(
      "workload" -> workload, "seed" -> seed,
      "session_s" -> sessionS, "prep_s" -> prepS, "once_s" -> onceS,
      "jit_s" -> Map("once" -> jitOnce, "prep" -> jitPrep),
      "phases" -> phases.toMap, "verify" -> verify,
      "peak_rss_mb" -> peak, "leaked_tmp_entries" -> leaked,
      "env" -> Map("master" -> s"local[$cpus]",
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark" -> spark.version, "java" -> System.getProperty("java.vm.version")))
    spark.stop()
    Files.write(Paths.get(a("out")), Json(out).getBytes("UTF-8"))
  }
}

/** Minimal JSON encoder for the result record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case arr: Array[_] => apply(arr.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Read-only serving: a seeded sequence of registered queries, ANN
  * batches and table loads against one warm dataset. */
final class Serve(s: SparkSession, dir: String, work: String, seed: Long, profile: JsonNode)
    extends Workload {
  import Harness._

  /** The query mix, fixed before any result was seen: for each operator
    * family, the two oracled queries whose recorded sf0.1 bench times sit
    * nearest 0.3 s and 0.5 s, so every family brings queries of similar
    * cost and none dominates the loop's time; for the curation layers, the
    * MinHash/LSH and n-gram Jaccard dedup pipelines, the text-stats pass and
    * the Gopher quality filter (`llm_quality` is left out: its composite
    * score lands on 4-place rounding ties that Spark and its oracle break
    * differently on some seeds, so it fails there; see README.md). */
  val Mix: Seq[(String, Seq[GraftQuery], Seq[String])] = Seq(
    ("operators.Relational", operators.Relational.all, Seq("clean_na", "sql_q1")),
    ("operators.Aggregates", operators.Aggregates.all, Seq("agg_gsets", "agg_mode")),
    ("operators.Joins", operators.Joins.all, Seq("join_right", "join_inner_hash")),
    ("operators.Windows", operators.Windows.all, Seq("win_running", "win_topk_per_group")),
    ("operators.TimeSeries", operators.TimeSeries.all, Seq("ts_did", "ts_ols")),
    ("operators.Graph", operators.Graph.all, Seq("graph_degree_dist", "graph_pagerank_personal")),
    ("functions", graft.functions.ScalarQueries.all, Seq("fn_url", "fn_checksum")),
    // The curation pipelines, as registered queries over the serving corpus.
    ("llm.Dedup", Dedup.all, Seq("llm_dedup_near", "llm_dedup_ngram_jaccard")),
    ("llm.TextStats", TextStats.all, Seq("llm_text_stats", "llm_quality_gopher")))

  val queries: Seq[(String, GraftQuery)] = Mix.flatMap { case (layer, all, names) =>
    names.map(n => layer -> all.find(_.name == n).getOrElse(sys.error(s"no query $n")))
  }
  private val annPerCycle = profile.get("ann_per_cycle").asInt
  private val nBatches = profile.get("ann_batches").asInt
  val TableNames = Seq("region", "nation", "supplier", "part", "customer", "orders",
    "lineitem", "events", "documents", "embeddings")

  private val annQueries = s.read.parquet(s"$dir/ann_queries")
  private val rng = new scala.util.Random(seed)
  private var nextBatch = 0
  private val refDigest = mutable.HashMap.empty[String, Int]

  private def annOp(tr: Tracer, op: Int, b: Int): Op = timed("ann", s"batch-$b") {
    tr.span("serve.ann", op)(_ => tr.span("llm.Similarity", op) { sp =>
      val q = (if (b < 0) annQueries else annQueries.filter(col("batch") === b))
        .select("qid", "qv")
      val rows = Similarity.serveIvf(s, dir, q).collect()
      if (sp != null) sp.attrs("results") = rows.length
      val byQ = rows.groupBy(_.getLong(0)).map { case (qid, rs) =>
        qid.toString -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
      Map("results" -> byQ)
    })
  }

  private def queryOp(tr: Tracer, op: Int, layer: String, q: GraftQuery): Op =
    timed("query", q.name) {
      tr.span("serve.query", op)(_ => tr.span(layer, op) { sp =>
        val df = q.run(s, dir)
        if (sp != null) tr.span("plan", op)(_ => df.queryExecution.executedPlan)
        val d = digest(df.collect())
        refDigest.get(q.name) match {
          case Some(r) if r == d => Map.empty[String, Any]
          case Some(_) => Map("ok" -> false, "error" -> "result differs from the oracle-checked result")
          case None => Map("ok" -> false, "error" -> "no oracle-checked result")
        }
      })
    }

  private def loadOp(tr: Tracer, op: Int, t: String): Op = timed("load", t) {
    tr.span("serve.load", op)(_ => tr.span("sources", op)(_ =>
      Map("columns" -> Tables.table(s, dir, t).schema.size)))
  }

  val indexBuildS = mutable.ArrayBuffer.empty[Double]

  /** One IVF index build from nothing: over a copy of the embeddings in a
    * directory of its own, so every layout lookup misses while the index
    * the loop serves from stays untouched. */
  def prep(rep: Int): Unit = {
    val d = s"$work/perfbench_index_$rep"
    rmrf(new File(d))
    Files.createDirectories(Paths.get(d))
    Files.copy(Paths.get(s"$dir/embeddings.parquet"), Paths.get(s"$d/embeddings.parquet"))
    val t0 = now()
    val (cents, assigned) = Similarity.ivfIndex(s, d)
    cents.count(); assigned.count()
    indexBuildS += now() - t0
  }

  private val verifyDir = s"$work/verify"
  private val written = mutable.LinkedHashMap.empty[String, String]

  /** Warm every code path once. Each query's warm-up result is collected,
    * digested, and written as is for the oracle check; every timed run of
    * the query must give that digest, so a timed result that differs from
    * the oracle-checked one counts as a failed op. */
  override def once(): Unit = {
    val off = new Tracer(s.sparkContext, false)
    annOp(off, -1, 0)
    queries.foreach { case (_, q) =>
      written(q.name) = try {
        val df = q.run(s, dir)
        val rows = df.collect()
        refDigest(q.name) = digest(rows)
        // One file, so the rows keep their order on disk.
        s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$verifyDir/${q.name}")
        "written"
      } catch { case NonFatal(e) => s"error: ${e.getClass.getName}" }
    }
    TableNames.foreach(loadOp(off, -1, _))
  }

  /** Whole cycles only, so every run serves the same mix: a cycle is every
    * query once, `ann_per_cycle` ANN batches and one table load, in a seeded
    * order; cycles start while time remains. */
  def phase(tag: String, tr: Tracer, seconds: Double): Map[String, Any] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = now()
    while (now() - t0 < seconds) {
      val cycle = rng.shuffle(
        queries.map(q => () => queryOp(tr, ops.size, q._1, q._2)) ++
        Seq.fill(annPerCycle)(() => {
          nextBatch += 1
          annOp(tr, ops.size, 1 + (nextBatch - 1) % (nBatches - 1))
        }) ++
        Seq(() => loadOp(tr, ops.size, TableNames(rng.nextInt(TableNames.size)))))
      cycle.foreach(op => ops += op())
    }
    Map("ops" -> ops.map(opJson))
  }

  /** Every generated query vector in one untimed batch: the recall sample,
    * and the reference each timed batch's answers must equal. */
  def verify(): Map[String, Any] =
    Map("ann_all" -> annOp(new Tracer(s.sparkContext, false), -1, -1).extra.getOrElse("results", Map.empty),
      "query_outputs" -> verifyDir, "written" -> written.toMap, "index_build_s" -> indexBuildS,
      "oracle" -> queries.map { case (_, q) => q.name -> q.oracle.getOrElse("") }.toMap)
}

/** The loader's own job: catch up on a backlog of topic segments, then
  * scheduled trickle rounds for the measured window, then one batch reload
  * of the whole topic. */
final class IngestLoad(s: SparkSession, data: String, work: String, profile: JsonNode)
    extends Workload {
  import Harness._

  val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  private val segEvents = profile.get("segment_events").asLong
  private val backlog = profile.get("backlog_segments").asInt
  private val perRound = profile.get("segments_per_round").asInt
  private val maxFilesPerTrigger = profile.get("max_files_per_trigger").asInt

  private val pool = new File(s"$data/pool").listFiles().map(_.getName)
    .filter(_.endsWith(".parquet")).sorted
  private var cursor = 0
  private val staged = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
  private val readbacks = mutable.LinkedHashMap.empty[String, String]

  /** A segment "arrives": an atomic move from the pool into the topic. */
  private def stage(topic: String, n: Int, tag: String): Int = {
    Files.createDirectories(Paths.get(topic))
    val take = pool.slice(cursor, cursor + n)
    take.foreach { f =>
      Files.move(Paths.get(s"$data/pool/$f"), Paths.get(s"$topic/$f"),
        StandardCopyOption.ATOMIC_MOVE)
      staged.getOrElseUpdate(tag, mutable.ArrayBuffer.empty) += f
    }
    cursor += take.length
    take.length
  }

  private def dataFiles(d: File): Seq[File] =
    if (!d.exists()) Nil
    else if (d.isDirectory) {
      if (d.getName.startsWith("_") || d.getName.startsWith(".")) Nil
      else d.listFiles().toSeq.flatMap(dataFiles)
    } else if (d.getName.endsWith(".parquet")) Seq(d) else Nil

  private def loaderRound(tr: Tracer, op: Int, topic: String, sink: String, ckpt: String,
                          events: Long): Map[String, Any] = {
    // File counts are taken only when tracing, so untraced rounds time the
    // loader alone.
    val before = if (tr.enabled) dataFiles(new File(sink)).size else 0
    val mb = tr.span("streaming.IncrementalLoader", op) { sp =>
      val n = IncrementalLoader.runOnce(s, topic, schema, sink, ckpt, maxFilesPerTrigger)
      if (sp != null) {
        sp.attrs("microbatches") = n.toDouble
        sp.attrs("rows_landed") = events.toDouble
        sp.attrs("files_written") = (dataFiles(new File(sink)).size - before).toDouble
      }
      n
    }
    Map("events" -> events, "microbatches" -> mb)
  }

  private def reload(tr: Tracer, op: Int, topic: String, out: String): Map[String, Any] = {
    val events = new File(topic).listFiles().count(_.getName.endsWith(".parquet")) * segEvents
    tr.span("operators.Ingest", op) { sp =>
      operators.Ingest.writePartitioned(s.read.schema(schema).parquet(topic), out)
      if (sp != null) {
        val files = dataFiles(new File(out))
        val buckets = files.map(_.getParentFile.getPath).distinct.size
        sp.attrs("events") = events.toDouble
        sp.attrs("files") = files.size.toDouble
        sp.attrs("buckets") = buckets.toDouble
        sp.attrs("output_bytes") = files.map(_.length).sum.toDouble
      }
    }
    Map("events" -> events)
  }

  def prep(rep: Int): Unit = {
    val d = s"$work/perfbench_warm_$rep"
    rmrf(new File(d))
    stage(s"$d/topic", 2, s"warm_$rep")
    val off = new Tracer(s.sparkContext, false)
    loaderRound(off, -1, s"$d/topic", s"$d/sink", s"$d/ckpt", 2 * segEvents)
    reload(off, -1, s"$d/topic", s"$d/reload")
  }

  val WarmRounds = 24
  val MinRounds = 21

  /** Warm the loader's per-round code path (JIT) on copies of one segment,
    * so timed rounds do not drift faster through the window. */
  override def once(): Unit = {
    val d = s"$work/perfbench_warm_rounds"
    rmrf(new File(d))
    Files.createDirectories(Paths.get(s"$d/topic"))
    val off = new Tracer(s.sparkContext, false)
    (0 until WarmRounds).foreach { i =>
      Files.copy(Paths.get(s"$data/pool/${pool.last}"), Paths.get(f"$d/topic/warm-$i%03d.parquet"))
      loaderRound(off, -1, s"$d/topic", s"$d/sink", s"$d/ckpt", segEvents)
    }
    rmrf(new File(d))
  }

  def phase(tag: String, tr: Tracer, seconds: Double): Map[String, Any] = {
    val d = s"$work/perfbench_$tag"
    rmrf(new File(d))
    val (topic, sink, ckpt, out) = (s"$d/topic", s"$d/sink", s"$d/ckpt", s"$d/reload")
    val ops = mutable.ArrayBuffer.empty[Op]
    val n = stage(topic, backlog, tag)
    ops += timed("catchup", "backlog") {
      tr.span("ingest.catchup", ops.size)(_ => loaderRound(tr, ops.size, topic, sink, ckpt, n * segEvents))
    }
    // The round window: catch-up and reload are bulk work outside it. It
    // runs at least MinRounds rounds, so that on a slow machine the tail
    // (ten rounds beyond it) still lies above the median.
    val t0 = now()
    var rounds = 0
    while ((now() - t0 < seconds || rounds < MinRounds) && cursor + perRound <= pool.length) {
      rounds += 1
      // A round is timed from the moment its segments arrive to commit.
      val op = timed("round", s"round-${ops.size}") {
        val k = stage(topic, perRound, tag)
        tr.span("ingest.round", ops.size)(_ => loaderRound(tr, ops.size, topic, sink, ckpt, k * segEvents))
      }
      ops += op
    }
    ops += timed("reload", "topic") {
      tr.span("ingest.reload", ops.size)(_ => reload(tr, ops.size, topic, out))
    }
    readbacks(tag) = d
    Map("ops" -> ops.map(opJson))
  }

  private def readback(dir: String): Map[String, Any] = {
    val df = s.read.parquet(dir)
    val r = df.agg(count(lit(1)), countDistinct(col("event_id"))).head()
    val (total, distinct) = (r.getLong(0), r.getLong(1))
    val buckets = df.groupBy(col("event_type"), col("d").cast("string").as("d")).count()
      .collect().map(r => s"${r.getString(0)}|${r.getString(1)}" -> r.getLong(2)).toMap
    Map("rows" -> total, "distinct_event_id" -> distinct, "buckets" -> buckets)
  }

  def verify(): Map[String, Any] = readbacks.map { case (tag, d) =>
    tag -> Map(
      "segments" -> staged(tag).toSeq,
      "loader" -> readback(s"$d/sink"),
      "reload" -> readback(s"$d/reload"))
  }.toMap
}
