package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.sources.Tables

/** Aggregation operators (SURVEY.md §2b "Aggregations").
  *
  * All of these compile to partial (map-side) + final hash aggregates in
  * Spark — at 100 TB the map-side combine keeps shuffle volume proportional
  * to group cardinality, not input rows. `count(DISTINCT)` expands to a
  * two-stage aggregate (distinct shuffle then count); for very high
  * cardinality at scale prefer `approx_count_distinct` (HLL, fixed-size
  * sketch, single shuffle) — both are exposed below.
  */
object Aggregates {

  /** TPC-H Q1 shape: the flagship scan→filter→hash-aggregate pipeline. */
  val q1Agg: GraftQuery = GraftQuery(
    "agg_hash_group",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          round(sum($"l_quantity"), 2).as("sum_qty"),
          round(sum($"l_extendedprice"), 2).as("sum_base_price"),
          round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
          round(avg($"l_quantity"), 4).as("avg_qty"),
          round(avg($"l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             (round(sum(l_quantity), 2) + 0.0)                            AS sum_qty,
             (round(sum(l_extendedprice), 2) + 0.0)                       AS sum_base_price,
             (round(sum(l_extendedprice * (1.0 - l_discount)), 2) + 0.0)  AS sum_disc_price,
             (round(avg(l_quantity), 4) + 0.0)                            AS avg_qty,
             (round(avg(l_discount), 6) + 0.0)                            AS avg_disc,
             count(*)                                             AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """.stripMargin.trim)
  )

  /** Exact distinct counts (two-stage aggregate). */
  val distinctCount: GraftQuery = GraftQuery(
    "agg_distinct",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("n_parts"),
             countDistinct($"l_suppkey").as("n_supps"),
             countDistinct($"l_orderkey").as("n_orders"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
                   count(DISTINCT l_suppkey) AS n_supps,
                   count(DISTINCT l_orderkey) AS n_orders
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** HLL-sketch distinct — the 100 TB path for high-cardinality keys.
    *
    * Oracle via the ERROR-ENVELOPE-AS-DATA device: Spark's HLL++ estimate
    * can never hash-match a foreign engine's sketch, so the GRADED columns
    * are the exact count and a boolean `hll_ok` = |estimate − exact| ≤ 5%
    * of exact (5× the declared 1% rsd — deterministic for fixed data, not
    * a flake margin). The oracle computes the exact count and asserts the
    * envelope as literal TRUE: a sketch regression past the bound is now a
    * HASH failure, not a silently-weaker rows-only row. The exact column
    * is the AUDIT harness (runs on graded test data); production keeps
    * only the sketch side. AggregatesSpec still checks the raw estimate
    * directly. */
  val approxDistinct: GraftQuery = GraftQuery(
    "agg_approx_distinct",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(approx_count_distinct($"l_orderkey", 0.01).as("approx"),
             countDistinct($"l_orderkey").as("n_orders_exact"))
        .select($"l_returnflag", $"n_orders_exact",
          (abs($"approx" - $"n_orders_exact") <=
            $"n_orders_exact" * 0.05).as("hll_ok"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders_exact,
                   TRUE AS hll_ok
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** ROLLUP over (returnflag, linestatus); grouping-null keys are
    * coalesced to 'ALL' so Spark/DuckDB null-ordering differences can't
    * affect the comparison. */
  val rollupAgg: GraftQuery = GraftQuery(
    "agg_rollup",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(round(sum($"l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("flag"),
                coalesce($"l_linestatus", lit("ALL")).as("status"),
                $"sum_qty", $"n")
        .orderBy($"flag", $"status")
    },
    Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
                   coalesce(l_linestatus, 'ALL') AS status,
                   (round(sum(l_quantity), 2) + 0.0) AS sum_qty, count(*) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY flag, status""")
  )

  /** CUBE over (returnflag, linestatus). */
  val cubeAgg: GraftQuery = GraftQuery(
    "agg_cube",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .cube($"l_returnflag", $"l_linestatus")
        .agg(round(sum($"l_extendedprice"), 2).as("sum_price"), count(lit(1)).as("n"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("flag"),
                coalesce($"l_linestatus", lit("ALL")).as("status"),
                $"sum_price", $"n")
        .orderBy($"flag", $"status")
    },
    Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
                   coalesce(l_linestatus, 'ALL') AS status,
                   (round(sum(l_extendedprice), 2) + 0.0) AS sum_price, count(*) AS n
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
            ORDER BY flag, status""")
  )

  /** Explicit GROUPING SETS (SQL surface). */
  val groupingSets: GraftQuery = GraftQuery(
    "agg_gsets",
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir).createOrReplaceTempView("orders_gsets")
      s.sql("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
                      coalesce(o_orderpriority, 'ALL') AS priority,
                      (round(sum(o_totalprice), 2) + 0.0) AS sum_price, count(*) AS n
               FROM orders_gsets
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                       (o_orderstatus, o_orderpriority))
               ORDER BY status, priority""")
    },
    Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS priority,
                   (round(sum(o_totalprice), 2) + 0.0) AS sum_price, count(*) AS n
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                    (o_orderstatus, o_orderpriority))
            ORDER BY status, priority""")
  )

  /** Post-aggregation filter (HAVING). */
  val having: GraftQuery = GraftQuery(
    "agg_having",
    (s, dir) => {
      import s.implicits._
      Tables.part(s, dir)
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n_parts"), round(avg($"p_retailprice"), 2).as("avg_price"))
        .filter($"n_parts" > 3)
        .orderBy($"p_brand")
    },
    Some("""SELECT p_brand, count(*) AS n_parts, (round(avg(p_retailprice), 2) + 0.0) AS avg_price
            FROM part GROUP BY p_brand HAVING count(*) > 3 ORDER BY p_brand""")
  )

  /** Custom typed aggregate (Aggregator API): quantity-weighted mean price. */
  val typedCustom: GraftQuery = GraftQuery(
    "agg_typed_custom",
    (s, dir) => {
      import s.implicits._
      val wmean = udaf(graft.functions.WeightedMean)
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(round(wmean($"l_extendedprice", $"l_quantity"), 4).as("wmean_price"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag,
                   (round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) + 0.0) AS wmean_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** Mergeable-sketch pre-aggregation — the 100 TB distinct-count
    * pattern: exact distincts don't re-aggregate (daily uniques can't
    * sum to weekly uniques), so the pre-agg cube stores DataSketches HLL
    * sketches per (event_type, day) and every coarser rollup is a sketch
    * UNION over the tiny cube — the raw table is scanned once at cube
    * build and never again.
    *
    * Scale shape: the daily-sketch build is one hash aggregate with
    * map-side partials (sketches merge associatively, so partial
    * aggregation applies); the rollup aggregates the bounded cube
    * (event_types × days rows, each a ~KB binary).
    *
    * Oracle via envelope-as-data (see approxDistinct): the graded columns
    * are exact (n_days, n_users_exact) plus two booleans the oracle pins
    * as literal TRUE — `merge_exact` (union-of-daily estimate ==
    * union-of-WEEKLY estimate, weeks built from the same daily cube: the
    * hierarchy-rollup invariance this operator sells — union register
    * state is associative, so re-aggregating along any grouping of the
    * cube is lossless; note one-shot streaming-built sketches are NOT
    * comparable, their HIP estimator differs from union's composite
    * estimator by design) and `hll_ok` (merged estimate within 5% of
    * exact). AggregatesSpec still checks the raw estimates directly. */
  val sketchMerge: GraftQuery = GraftQuery(
    "agg_sketch_merge",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(hll_sketch_agg($"user_id").as("sk"))
      val merged = daily
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"),
          hll_sketch_estimate(hll_union_agg($"sk")).as("est_merged"))
      // Re-aggregate the SAME daily cube through a weekly intermediate:
      // hierarchy-rollup invariance says this must give the identical
      // register state, hence the identical estimate.
      val viaWeekly = daily
        .groupBy($"event_type", weekofyear($"day").as("wk"))
        .agg(hll_union_agg($"sk").as("sk"))
        .groupBy($"event_type")
        .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est_weekly"))
      // Exact distinct per type: the audit twin the envelope-as-data
      // grading compares against (see approxDistinct).
      val exact = Tables.events(s, dir)
        .groupBy($"event_type")
        .agg(countDistinct($"user_id").as("n_users_exact"))
      merged.join(broadcast(viaWeekly), "event_type")
        .join(broadcast(exact), "event_type")
        .select($"event_type", $"n_days", $"n_users_exact",
          ($"est_merged" === $"est_weekly").as("merge_exact"),
          (abs($"est_merged" - $"n_users_exact") <=
            $"n_users_exact" * 0.05).as("hll_ok"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(DISTINCT CAST(ts AS DATE)) AS n_days,
                   count(DISTINCT user_id) AS n_users_exact,
                   TRUE AS merge_exact, TRUE AS hll_ok
            FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** Integer log-bin bucket id for the mergeable quantile sketch
    * (DDSketch's γ-bin idea, integerized): for cents cv > 0 the bucket
    * keeps the top 1+4 significant bits — id = 32·⌊log2 cv⌋ +
    * (cv >> max(⌊log2 cv⌋−4, 0)) — computed with PURE INTEGER ops
    * (length of the binary string, shifts), so bucket assignment is
    * bit-identical across engines (no log() boundary hazard, trap note
    * a's float cousin). Monotone in cv; ≤ 16 buckets per octave ⇒
    * relative bucket width ≤ 1/16 (~3% midpoint error); values < 16
    * are their own bucket (exact). Non-positive cents land in the -1
    * bucket decoded as [0, 1). */
  private[graft] val QsketchBidSql: String =
    """CASE WHEN cv <= 0 THEN CAST(-1 AS BIGINT)
       ELSE 32 * (length(bin(cv)) - 1)
            + shiftright(cv, CAST(greatest(length(bin(cv)) - 5, 0) AS INT)) END"""

  /** (event_type, day, cv, bid) rows both quantile-sketch forms bin. */
  private[graft] def qsketchBinned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"), $"event_id",
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cv"))
      .withColumn("bid", expr(QsketchBidSql))
  }

  /** Serve global quantiles from a merged (event_type, bid, c) sketch:
    * cumulative counts over the BOUNDED bucket domain pick the smallest
    * bucket covering each ceil-rank, the bucket decodes to [lo, hi) by
    * integer shifts, and the estimate is the midpoint. The band audit
    * (`band_ok`) recomputes the exact discrete percentile from the
    * cents-domain counts (the agg_ks_test cumulative pattern — domain-
    * bounded, never a collect) and checks it falls inside each reported
    * bucket: TRUE by construction when decode/rank arithmetic is right,
    * so the oracle pins it as data (envelope-as-data, see
    * approxDistinct). */
  private[graft] def qsketchServe(s: SparkSession, sketch: DataFrame,
      binned: DataFrame): DataFrame = {
    import s.implicits._
    qsketchPicks(s, sketch, binned)
      .select($"event_type", $"n", $"n_buckets",
        $"p50_est", $"p90_est", $"p99_est",
        ($"v50" >= $"lo50" && $"v50" < $"hi50" &&
         $"v90" >= $"lo90" && $"v90" < $"hi90" &&
         $"v99" >= $"lo99" && $"v99" < $"hi99").as("band_ok"))
      .orderBy($"event_type")
  }

  /** The pre-projection serving frame shared by qsketchServe and the
    * pinball-loss audit (agg_pinball): per event_type, the sketch-decoded
    * estimates (p50/p90/p99_est with their [lo, hi) bands) AND the exact
    * discrete percentiles (v50/v90/v99) off the bounded cents domain. */
  private[graft] def qsketchPicks(s: SparkSession, sketch: DataFrame,
      binned: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"event_type").orderBy($"bid")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = sketch.withColumn("cum", sum($"c").over(w))
    val tot = sketch.groupBy($"event_type").agg(sum($"c").as("n"))
    val picks = cum.join(broadcast(tot), "event_type")
      .groupBy($"event_type")
      .agg(max($"n").as("n"), count(lit(1)).as("n_buckets"),
        min(when($"cum" >= expr("(n + 1) div 2"), $"bid")).as("b50"),
        min(when($"cum" >= expr("(9 * n + 9) div 10"), $"bid")).as("b90"),
        min(when($"cum" >= expr("(99 * n + 99) div 100"), $"bid")).as("b99"))
    val decoded = Seq("50", "90", "99").foldLeft(picks) { (df, p) =>
      df.withColumn(s"lo$p", expr(
          s"""CASE WHEN b$p < 0 THEN CAST(0 AS BIGINT)
              ELSE shiftleft(b$p % 32, CAST(greatest(b$p div 32 - 4, 0) AS INT)) END"""))
        .withColumn(s"hi$p", expr(
          s"""CASE WHEN b$p < 0 THEN CAST(1 AS BIGINT)
              ELSE shiftleft(b$p % 32 + 1, CAST(greatest(b$p div 32 - 4, 0) AS INT)) END"""))
        .withColumn(s"p${p}_est", expr(s"(lo$p + hi$p) div 2"))
    }
    // Exact discrete percentiles off the bounded cents domain (audit).
    val vc = binned.groupBy($"event_type", $"cv").agg(count(lit(1)).as("vc"))
    val wv = Window.partitionBy($"event_type").orderBy($"cv")
      .rowsBetween(Window.unboundedPreceding, 0)
    val exacts = vc.withColumn("vcum", sum($"vc").over(wv))
      .join(broadcast(tot), "event_type")
      .groupBy($"event_type")
      .agg(min(when($"vcum" >= expr("(n + 1) div 2"), $"cv")).as("v50"),
        min(when($"vcum" >= expr("(9 * n + 9) div 10"), $"cv")).as("v90"),
        min(when($"vcum" >= expr("(99 * n + 99) div 100"), $"cv")).as("v99"))
    decoded.join(broadcast(exacts), "event_type")
  }

  /** The shared DuckDB oracle body for the quantile-sketch forms: the
    * same integer bin/merge/pick/decode arithmetic (to_base = Spark's
    * bin), TRUE for the band audit, over whatever `bCtes` defines as the
    * (event_type, cv) relation `b`. Arrival slicing cannot appear in the
    * output because the merge is exact bucket-count addition. */
  private[graft] def qsketchOracleFrom(bCtes: String): String =
    s"""WITH $bCtes,
       bin AS (
         SELECT event_type, cv,
                CASE WHEN cv <= 0 THEN CAST(-1 AS BIGINT)
                     ELSE 32 * (length(to_base(cv, 2)) - 1)
                          + (cv >> greatest(length(to_base(cv, 2)) - 5, 0)) END AS bid
         FROM b),
       sk AS (SELECT event_type, bid, count(*) AS c FROM bin GROUP BY 1, 2),
       tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM sk GROUP BY 1),
       cum AS (SELECT event_type, bid,
                      sum(c) OVER (PARTITION BY event_type ORDER BY bid
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM sk),
       picks AS (
         SELECT cum.event_type, max(n) AS n, count(*) AS n_buckets,
                min(CASE WHEN cum >= (n + 1) // 2 THEN bid END) AS b50,
                min(CASE WHEN cum >= (9 * n + 9) // 10 THEN bid END) AS b90,
                min(CASE WHEN cum >= (99 * n + 99) // 100 THEN bid END) AS b99
         FROM cum JOIN tot USING (event_type) GROUP BY 1)
       SELECT event_type, n, n_buckets,
              CAST((CASE WHEN b50 < 0 THEN 0 ELSE (b50 % 32) << greatest(b50 // 32 - 4, 0) END
                  + CASE WHEN b50 < 0 THEN 1 ELSE (b50 % 32 + 1) << greatest(b50 // 32 - 4, 0) END) // 2
                AS BIGINT) AS p50_est,
              CAST((CASE WHEN b90 < 0 THEN 0 ELSE (b90 % 32) << greatest(b90 // 32 - 4, 0) END
                  + CASE WHEN b90 < 0 THEN 1 ELSE (b90 % 32 + 1) << greatest(b90 // 32 - 4, 0) END) // 2
                AS BIGINT) AS p90_est,
              CAST((CASE WHEN b99 < 0 THEN 0 ELSE (b99 % 32) << greatest(b99 // 32 - 4, 0) END
                  + CASE WHEN b99 < 0 THEN 1 ELSE (b99 % 32 + 1) << greatest(b99 // 32 - 4, 0) END) // 2
                AS BIGINT) AS p99_est,
              TRUE AS band_ok
       FROM picks ORDER BY event_type"""

  /** Whole-corpus oracle (agg_qsketch_merge / stream_qsketch_merge). */
  private[graft] val QsketchOracle: String = qsketchOracleFrom(
    """b AS (
         SELECT event_type,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cv
         FROM events)""")

  /** Mergeable QUANTILE sketch cube — the percentile analog of
    * `agg_sketch_merge`'s HLL cube, and the piece the sketch family was
    * missing: per-day integer log-bin histograms (bounded at ~32·octaves
    * counters per cell) re-aggregate to global p50/p90/p99 by plain
    * bucket-count ADDITION — exact, associative, commutative, so ANY
    * slicing/hierarchy of the cube serves identical quantiles without
    * ever re-scanning raw data (DDSketch's production property). Unlike
    * the HLL estimate, the ENTIRE output hash-grades: bin assignment,
    * merge, rank pick, and decode are all deterministic integer
    * arithmetic both engines reproduce bit-for-bit.
    *
    * Scale shape: one map-side-combined hash aggregate onto the bounded
    * (type, day, bucket) cube; serving re-aggregates cube-sized input
    * and windows over ≤ 32·octaves rows per type. The band audit runs on
    * the bounded cents domain (the agg_ks_test pattern); production
    * drops the audit columns and keeps the sketch. */
  val qsketchMerge: GraftQuery = GraftQuery(
    "agg_qsketch_merge",
    (s, dir) => {
      import s.implicits._
      val binned = qsketchBinned(s, dir)
      val sketch = binned
        .groupBy($"event_type", $"day", $"bid")
        .agg(count(lit(1)).as("c")) // the persisted per-day cube cells
        .groupBy($"event_type", $"bid")
        .agg(sum($"c").as("c")) // exact counter merge
      qsketchServe(s, sketch, binned)
    },
    Some(QsketchOracle)
  )

  /** The per-(event_type, day, bucket) quantile cube PERSISTED as a
    * fingerprinted layout (the Layouts protocol the LM counts / IVF
    * lists / HITS orientations use): built once per dataset, reused by
    * every range-serving query. */
  private[graft] def qsketchCube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.llm.Layouts.parquet(s, graft.llm.Layouts.pathOf("qsketch", dir),
        graft.llm.Layouts.fingerprint(
          Tables.events(s, dir), "event_id", "ts", "value")) {
      qsketchBinned(s, dir)
        .groupBy($"event_type", $"day", $"bid")
        .agg(count(lit(1)).as("c"))
    }
  }

  /** Quantile cube SERVING by date range — the recurring-query form of
    * agg_qsketch_merge (the ivf_persisted / LM-layout discipline applied
    * to percentiles): the per-day cube is a one-time persisted layout;
    * an arbitrary date-range dashboard question ("p99 for Jan 8–22?")
    * merges the range's bucket counts WITHOUT touching raw events —
    * cost is range-days × buckets rows, independent of corpus size.
    * Exact bucket-count addition means any range decomposition serves
    * identical quantiles (the property agg_qsketch_merge grades
    * globally, here monetized as a serving index). The band audit
    * recomputes the exact range percentile from raw events — audit
    * harness only, dropped in production serving.
    *
    * Graded range: [d0+7, d0+21] where d0 = the cube's first day —
    * relative, so the same query text is correct at every SF. */
  val qsketchServeRange: GraftQuery = GraftQuery(
    "agg_qsketch_serve",
    (s, dir) => {
      import s.implicits._
      val cube = qsketchCube(s, dir)
      val d0 = broadcast(cube.agg(min($"day").as("d0")))
      val sketch = cube.crossJoin(d0)
        .filter($"day".between(date_add($"d0", 7), date_add($"d0", 21)))
        .groupBy($"event_type", $"bid")
        .agg(sum($"c").as("c"))
      val binned = qsketchBinned(s, dir).crossJoin(d0)
        .filter($"day".between(date_add($"d0", 7), date_add($"d0", 21)))
      qsketchServe(s, sketch, binned)
    },
    Some(qsketchOracleFrom(
      """b0 AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cv
           FROM events),
         bounds AS (SELECT min(day) AS d0 FROM b0),
         b AS (SELECT event_type, cv FROM b0, bounds
               WHERE day BETWEEN d0 + 7 AND d0 + 21)"""))
  )

  /** Pinball-loss audit of the quantile sketch — the quantile-REGRESSION
    * check that completes the sketch family's audit story: the pinball
    * (check) loss ρ_q(v − ŷ) is the scoring rule quantiles MINIMIZE, so
    * scoring both the sketch-served estimate and the exact discrete
    * percentile on the same data yields (a) the sketch's excess loss — a
    * calibrated "how much accuracy did the compressed index cost" number,
    * the readout a team sizing sketch resolution actually wants — and
    * (b) a structural invariant: the exact quantile's loss can never
    * exceed the sketch's (it is the empirical minimizer), graded as the
    * `exact_optimal` flag.
    *
    * Exact: losses are ×10 so q ∈ {0.5, 0.9} clears to integer weights
    * {5,5} / {9,1}; every term is vc · weight · |cv − ŷ| over exact
    * BIGINT cents and BIGINT predictions, folded in BIGINT (guarded off
    * the same aggregate row: 10 · n · (max|cv| + max|ŷ|) checked in
    * double). Predictions come from the SHARED qsketchPicks fold —
    * the same decode agg_qsketch_merge grades.
    *
    * Scale shape: one map-side-combined aggregate onto the bounded cents
    * domain (the agg_ks_test device), one ≤|types|-row broadcast of the
    * prediction frame back onto it, one bounded fold. Nothing scans raw
    * events more than the two passes the sketch family already pays. */
  val pinball: GraftQuery = GraftQuery(
    "agg_pinball",
    (s, dir) => {
      import s.implicits._
      val binned = qsketchBinned(s, dir)
      val sketch = binned.groupBy($"event_type", $"bid")
        .agg(count(lit(1)).as("c"))
      val preds = qsketchPicks(s, sketch, binned)
        .select($"event_type",
          $"p50_est".as("p50_sketch"), $"v50".as("p50_exact"),
          $"p90_est".as("p90_sketch"), $"v90".as("p90_exact"))
      val vc = binned.groupBy($"event_type", $"cv")
        .agg(count(lit(1)).as("vc"))
      def loss(wUp: Int, wDn: Int, yhat: Column): Column = sum(
        when($"cv" >= yhat, lit(wUp.toLong) * ($"cv" - yhat) * $"vc")
          .otherwise(lit(wDn.toLong) * (yhat - $"cv") * $"vc"))
      val cond = lit(10.0) * sum($"vc").cast("double") *
        (max(abs($"cv")).cast("double") +
          greatest(abs(first($"p50_sketch")), abs(first($"p90_sketch")),
            abs(first($"p50_exact")), abs(first($"p90_exact"))).cast("double")) <
        lit(9e18)
      def g(c: Column, nm: String): Column = GraftQuery.guarded(c, cond,
        s"agg_pinball: $nm fold past BIGINT headroom " +
          "(10 * n * max|cv - yhat| >= 9e18) — rescale cents or sample")
        .as(nm)
      vc.join(broadcast(preds), "event_type")
        .groupBy($"event_type")
        .agg(sum($"vc").as("n"),
          first($"p50_sketch").as("p50_sketch"),
          first($"p50_exact").as("p50_exact"),
          first($"p90_sketch").as("p90_sketch"),
          first($"p90_exact").as("p90_exact"),
          g(loss(5, 5, $"p50_sketch"), "loss50_sketch_e1"),
          g(loss(5, 5, $"p50_exact"), "loss50_exact_e1"),
          g(loss(9, 1, $"p90_sketch"), "loss90_sketch_e1"),
          g(loss(9, 1, $"p90_exact"), "loss90_exact_e1"))
        .withColumn("exact_optimal",
          $"loss50_exact_e1" <= $"loss50_sketch_e1" &&
          $"loss90_exact_e1" <= $"loss90_sketch_e1")
        .orderBy($"event_type")
    },
    Some("""WITH b AS (
              SELECT event_type,
                     CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cv
              FROM events),
            bin AS (
              SELECT event_type, cv,
                     CASE WHEN cv <= 0 THEN CAST(-1 AS BIGINT)
                          ELSE 32 * (length(to_base(cv, 2)) - 1)
                               + (cv >> greatest(length(to_base(cv, 2)) - 5, 0)) END AS bid
              FROM b),
            sk AS (SELECT event_type, bid, count(*) AS c FROM bin GROUP BY 1, 2),
            tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM sk GROUP BY 1),
            cum AS (SELECT event_type, bid,
                           sum(c) OVER (PARTITION BY event_type ORDER BY bid
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                    FROM sk),
            picks AS (
              SELECT cum.event_type,
                     min(CASE WHEN cum >= (n + 1) // 2 THEN bid END) AS b50,
                     min(CASE WHEN cum >= (9 * n + 9) // 10 THEN bid END) AS b90
              FROM cum JOIN tot USING (event_type) GROUP BY 1),
            est AS (
              SELECT event_type,
                     CAST((CASE WHEN b50 < 0 THEN 0 ELSE (b50 % 32) << greatest(b50 // 32 - 4, 0) END
                         + CASE WHEN b50 < 0 THEN 1 ELSE (b50 % 32 + 1) << greatest(b50 // 32 - 4, 0) END) // 2
                       AS BIGINT) AS p50_sketch,
                     CAST((CASE WHEN b90 < 0 THEN 0 ELSE (b90 % 32) << greatest(b90 // 32 - 4, 0) END
                         + CASE WHEN b90 < 0 THEN 1 ELSE (b90 % 32 + 1) << greatest(b90 // 32 - 4, 0) END) // 2
                       AS BIGINT) AS p90_sketch
              FROM picks),
            vc AS (SELECT event_type, cv, count(*) AS vc FROM b GROUP BY 1, 2),
            vcum AS (SELECT event_type, cv, vc,
                            sum(vc) OVER (PARTITION BY event_type ORDER BY cv
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vcum
                     FROM vc),
            ex AS (SELECT vcum.event_type,
                          min(CASE WHEN vcum >= (n + 1) // 2 THEN cv END) AS p50_exact,
                          min(CASE WHEN vcum >= (9 * n + 9) // 10 THEN cv END) AS p90_exact
                   FROM vcum JOIN tot USING (event_type) GROUP BY 1),
            p AS (SELECT * FROM est JOIN ex USING (event_type)),
            loss AS (
              SELECT vc.event_type,
                     CAST(sum(vc) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN cv >= p50_sketch THEN 5 * (cv - p50_sketch) * vc
                                   ELSE 5 * (p50_sketch - cv) * vc END) AS BIGINT) AS loss50_sketch_e1,
                     CAST(sum(CASE WHEN cv >= p50_exact THEN 5 * (cv - p50_exact) * vc
                                   ELSE 5 * (p50_exact - cv) * vc END) AS BIGINT) AS loss50_exact_e1,
                     CAST(sum(CASE WHEN cv >= p90_sketch THEN 9 * (cv - p90_sketch) * vc
                                   ELSE 1 * (p90_sketch - cv) * vc END) AS BIGINT) AS loss90_sketch_e1,
                     CAST(sum(CASE WHEN cv >= p90_exact THEN 9 * (cv - p90_exact) * vc
                                   ELSE 1 * (p90_exact - cv) * vc END) AS BIGINT) AS loss90_exact_e1
              FROM vc JOIN p USING (event_type) GROUP BY 1)
            SELECT l.event_type, l.n, p.p50_sketch, p.p50_exact,
                   p.p90_sketch, p.p90_exact,
                   l.loss50_sketch_e1, l.loss50_exact_e1,
                   l.loss90_sketch_e1, l.loss90_exact_e1,
                   (l.loss50_exact_e1 <= l.loss50_sketch_e1
                    AND l.loss90_exact_e1 <= l.loss90_sketch_e1) AS exact_optimal
            FROM loss l JOIN p USING (event_type)
            ORDER BY event_type""")
  )

  /** Count-min dimensions: D independent hash rows × W buckets = the
    * ENTIRE sketch is D·W counters — fixed-size state no matter how many
    * events stream through, the same bounded-state property the HLL cube
    * exploits, for frequencies instead of cardinalities. */
  private[graft] val CmDepth = 4
  private[graft] val CmWidth = 256
  private[graft] val HeavyMin = 200L

  /** Heavy-hitter detection via a count-min sketch (Cormode & Muthu-
    * krishnan): build D×W counters (bucket j = md5-derived hash of the
    * key, salted by the row index — md5 so DuckDB reproduces the exact
    * buckets, the simhashPoly convention), estimate a key's frequency as
    * the MIN over its D counters, report keys estimated ≥ HeavyMin.
    *
    * The fixture constructs its hitters the way llm_dedup_exact
    * constructs duplicates: events of users ≡ 3 (mod 50) are unioned in
    * 4 extra times (~5× their base rate, ~330–430 vs a ≤ 86 background),
    * so the threshold separates cleanly. CM never underestimates, and
    * the overestimate (bucket collisions) is DETERMINISTIC given the
    * fixed hashes — both engines compute identical estimates, which is
    * what makes an exact-hash oracle possible for a sketch operator.
    *
    * Scale shape: the build is one hash aggregate over (row, bucket) —
    * map-side partial, output bounded at D·W rows REGARDLESS of stream
    * size; estimation joins candidates against the broadcast sketch
    * (KBs). Merging shards/windows is elementwise counter addition —
    * associative, so partial sketches combine exactly like the HLL cube
    * deltas. Candidate enumeration here is the distinct key set (bounded
    * fixture); at web scale candidates come from a sampled/windowed
    * stream, never a full distinct — the sketch itself stays the only
    * global state. */
  /** Bucket j of the count-min row `j` for key `k` (md5-derived so DuckDB
    * reproduces the exact buckets — the simhashPoly convention). Shared by
    * the one-shot and incremental CM builds, which MUST hash identically
    * for their sketches to be mergeable. */
  private[graft] def cmBucket(j: Int, k: Column): Column =
    conv(substring(md5(concat(k.cast("string"), lit("#" + j))), 1, 8),
      16, 10).cast("long") % CmWidth

  /** The skewed fixture stream both CM forms count: events with users
    * ≡ 3 (mod 50) unioned in 4 extra times (~5× their base rate). Carries
    * `ts` so the incremental form can cut daily deltas. */
  private[graft] def cmStream(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"ts", $"user_id")
    val hot = ev.filter($"user_id" % 50 === 3)
    (1 to 4).foldLeft(ev)((acc, _) => acc.unionAll(hot))
  }

  /** (j, b) bucket rows, CmDepth per input row — the pre-aggregation
    * explode both CM builds share. */
  private[graft] def cmRows(k: Column): Column =
    explode(array((0 until CmDepth).map(j =>
      struct(lit(j).as("j"), cmBucket(j, k).as("b"))): _*))

  /** Heavy hitters from a materialized CM counter table `cm` (j, b, c):
    * candidates probe the broadcast sketch, est = min over the D rows. */
  private def cmHeavy(s: SparkSession,
                      stream: org.apache.spark.sql.DataFrame,
                      cm: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val cand = stream.select($"user_id").distinct()
      .select($"user_id", cmRows($"user_id").as("rb"))
      .select($"user_id", $"rb.j".as("j"), $"rb.b".as("b"))
    cand.join(broadcast(cm), Seq("j", "b"))
      .groupBy($"user_id")
      .agg(min($"c").as("est"))
      .filter($"est" >= HeavyMin)
      .orderBy($"user_id")
  }

  val heavyHitters: GraftQuery = GraftQuery(
    "agg_heavy_hitters",
    (s, dir) => {
      import s.implicits._
      val stream = cmStream(s, dir)
      val cm = stream
        .select(cmRows($"user_id").as("rb"))
        .groupBy($"rb.j".as("j"), $"rb.b".as("b"))
        .agg(count(lit(1)).as("c"))
      cmHeavy(s, stream, cm)
    },
    Some(s"""WITH ev AS (SELECT user_id FROM events),
             hot AS (SELECT user_id FROM ev WHERE user_id % 50 = 3),
             stream AS (
               SELECT user_id FROM ev
               UNION ALL SELECT user_id FROM hot
               UNION ALL SELECT user_id FROM hot
               UNION ALL SELECT user_id FROM hot
               UNION ALL SELECT user_id FROM hot),
             rb AS (
               SELECT user_id, j,
                      CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#' ||
                                               CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
                        % $CmWidth AS b
               FROM stream, range($CmDepth) r(j)),
             cm AS (SELECT j, b, count(*) AS c FROM rb GROUP BY 1, 2),
             cand AS (
               SELECT DISTINCT user_id, j,
                      CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#' ||
                                               CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
                        % $CmWidth AS b
               FROM (SELECT DISTINCT user_id FROM stream), range($CmDepth) r(j))
             SELECT cand.user_id, CAST(min(cm.c) AS BIGINT) AS est
             FROM cand JOIN cm USING (j, b)
             GROUP BY cand.user_id
             HAVING min(cm.c) >= $HeavyMin
             ORDER BY user_id""")
  )

  /** Incremental count-min: build a CM counter DELTA per day (the natural
    * ingest unit), merge deltas by elementwise counter addition, extract
    * heavy hitters from the merged sketch — the same recurring-cost shape
    * as the HLL cube (agg_sketch_merge): each new day costs O(day), the
    * merge costs O(days × D·W counters), and nothing ever re-scans history.
    * CM counters add associatively, so merged-then-extract is EXACTLY the
    * one-shot sketch — this query shares agg_heavy_hitters' oracle
    * verbatim, and AggregatesSpec pins counter-level equality of the two
    * cubes.
    *
    * Scale shape: the daily build is one hash aggregate with map-side
    * partials keyed (day, j, b) — bounded at days × D·W rows regardless of
    * stream size; the merge is a second hash aggregate over that bounded
    * cube. In production the daily deltas persist (the Layouts convention)
    * and the merge reads only counters; here both stages run in-plan to
    * keep the graded query self-contained. */
  val heavyHittersIncremental: GraftQuery = GraftQuery(
    "agg_heavy_hitters_incremental",
    (s, dir) => {
      import s.implicits._
      val stream = cmStream(s, dir)
      val daily = stream
        .select(to_date($"ts").as("day"), cmRows($"user_id").as("rb"))
        .groupBy($"day", $"rb.j".as("j"), $"rb.b".as("b"))
        .agg(count(lit(1)).as("dc"))
      val merged = daily.groupBy($"j", $"b").agg(sum($"dc").as("c"))
      cmHeavy(s, stream, merged)
    },
    heavyHitters.oracle
  )

  /** Per-group mode (most frequent value), ties broken to the
    * lexicographically smallest — the categorical summary statistic
    * `mode()` gives you in DuckDB/pandas but with an EXPLICIT
    * deterministic tiebreak (a bare mode() is engine-dependent under
    * ties, which the oracle contract can't tolerate).
    *
    * Scale shape: the corpus-sized work is the (group, value) count —
    * a hash aggregate with map-side partials; the argmax then runs on
    * the already-reduced counts table (rows ∝ groups × distinct values,
    * not events) as a row_number window. The window's input is the
    * small table, so its sort is cheap; keeping the corpus pass a pure
    * fold is what makes this scale — mode is the textbook example of an
    * aggregate that is NOT associative in one pass but factors into
    * count-then-argmax. */
  /** The count-then-argmax mode pipeline over any (user_id, event_type)
    * frame — extracted so AggregatesSpec can drive synthetic tie cases
    * the fixture doesn't isolate. */
  private[graft] def modeOf(s: SparkSession,
                            ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    ev.groupBy($"user_id", $"event_type").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"user_id").orderBy($"cnt".desc, $"event_type")))
      .filter($"rn" === 1)
      .select($"user_id", $"event_type".as("mode_type"), $"cnt")
      .orderBy($"user_id")
  }

  val aggMode: GraftQuery = GraftQuery(
    "agg_mode",
    (s, dir) => modeOf(s, Tables.events(s, dir)),
    Some("""WITH c AS (SELECT user_id, event_type, count(*) AS cnt
                       FROM events GROUP BY 1, 2),
            r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                           ORDER BY cnt DESC, event_type) AS rn FROM c)
            SELECT user_id, event_type AS mode_type, cnt
            FROM r WHERE rn = 1 ORDER BY user_id""")
  )

  /** Equi-width numeric histogram via width_bucket — the profiling
    * aggregate behind every data-distribution dashboard (degree_dist is
    * the discrete cousin; this is the continuous one with explicit
    * bucket bounds). Bucket assignment is a scan projection; the
    * histogram is one hash aggregate on a BOUNDED key (NumBuckets+2
    * with the under/overflow buckets), so the shuffle carries buckets ×
    * partitions rows regardless of fact size. Sums stay in exact
    * DECIMAL (money discipline). Bounds are fixed constants — at scale
    * you either know the domain or take bounds from scan_column_stats'
    * min/max (two passes, the standard profile-then-histogram shape). */
  val histogram: GraftQuery = GraftQuery(
    "agg_histogram",
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .select($"o_totalprice",
          expr("width_bucket(o_totalprice, 0.0, 400000.0, 16)").as("bucket"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_orders"),
          round(min($"o_totalprice"), 2).as("lo"),
          round(max($"o_totalprice"), 2).as("hi"),
          round(sum($"o_totalprice".cast("decimal(18,4)")), 2)
            .cast("double").as("total"))
        .orderBy($"bucket")
    },
    // DuckDB has no width_bucket — the oracle states the same assignment
    // arithmetically (bounds are exact doubles, so floor-division agrees
    // with Spark's WidthBucket at every boundary).
    Some("""SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                        WHEN o_totalprice >= 400000.0 THEN 17
                        ELSE CAST(floor(o_totalprice / 25000.0) AS BIGINT) + 1
                   END AS bucket,
                   count(*) AS n_orders,
                   (round(min(o_totalprice), 2) + 0.0) AS lo,
                   (round(max(o_totalprice), 2) + 0.0) AS hi,
                   CAST((round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) + 0.0) AS DOUBLE)
                     AS total
            FROM orders
            GROUP BY bucket ORDER BY bucket""")
  )

  def all: Seq[GraftQuery] = Seq(
    q1Agg, distinctCount, approxDistinct, rollupAgg, cubeAgg,
    groupingSets, having, typedCustom, sketchMerge, qsketchMerge,
    qsketchServeRange, pinball, heavyHitters, heavyHittersIncremental,
    aggMode, histogram)
}
