package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.sources.Tables

/** Time-series operators the reference's event-log consumers need but Spark
  * has no single built-in for: as-of join, gap-fill/resample with forward
  * fill, distribution windows, and an explicitly skew-salted join.
  *
  * Scale design: every operator here is one shuffle on its natural key
  * (user_id) — the as-of join in particular avoids the quadratic
  * range-join trap (per-row "latest preceding" via BNLJ) by expressing
  * as-of as union + running `last(ignoreNulls)` over a single sorted
  * window, which is the standard large-scale formulation.
  */
object TimeSeries {

  /** As-of join: for every purchase event, the most recent click by the
    * same user at or before the purchase time (ties on ts broken by max
    * event_id).
    *
    * Implementation: tag click rows kind=0 and purchase rows kind=1, union,
    * and run one window per user ordered by (ts, kind, event_id); the
    * running `last` of click attributes at each purchase row IS the as-of
    * match. One shuffle + one sort over events — at 100 TB this is
    * O(n log n) per partition vs. the O(n·m) of a naive theta join, and the
    * sort colocates with the session/window queries' partitioning.
    */
  /** Click/purchase union frame shared by the as-of family. */
  private def asofTagged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"value", $"event_type")
    ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id", $"value", lit(0).as("kind"))
      .unionByName(ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"event_id", $"value", lit(1).as("kind")))
  }

  /** Shared TWO-LEVEL as-of carry (r14, draining the PlanAuditSpec
    * hot-key rule): the running `last(click)` edge of the r1 union
    * device, decomposed so no window ever partitions by user_id alone
    * over raw events — a 4M-click bot user costs one user-DAY sort,
    * never one user-history sort (the r13 skew ladder's 3.1-3.5×).
    *
    * Exact decomposition (day(ts) is monotone in ts, so (b, ts, kind,
    * event_id) order ≡ (ts, kind, event_id) order):
    *  - LOCAL: the running click edge within (user_id, day);
    *  - BOUNDARY: per (user_id, day-with-clicks) the day's edge click
    *    (max_by/min_by over exact unique (ts, event_id) keys);
    *  - CARRY: one per-user window over the per-(user, day) boundary
    *    table (rows ∝ users × active days, already reduced) carries the
    *    previous/next active day's edge;
    *  - eff = coalesce(local, carry) joined back on (user_id, day) —
    *    shuffle_hash, co-keyed with the local window's own exchange.
    * `forward = true` mirrors every ordering for the next-click edge
    * (kind desc keeps ts-equal clicks exclusive to the backward side,
    * exactly like the single-level device it replaces). */
  private def asofCarried(s: SparkSession, tagged: DataFrame,
      forward: Boolean, out: String): DataFrame = {
    import s.implicits._
    val df = if (tagged.columns.contains("b")) tagged
             else tagged.withColumn("b", to_date($"ts"))
    val ord: Seq[Column] =
      if (forward) Seq($"ts".desc, $"kind".desc, $"event_id".desc)
      else Seq($"ts", $"kind", $"event_id")
    val wbSpec = Window.partitionBy($"user_id", $"b").orderBy(ord: _*)
    val wb = wbSpec.rowsBetween(Window.unboundedPreceding, 0)
    val wbAll = wbSpec.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val cs = struct($"event_id", $"value", $"ts")
    // the day's running edge, the day's FULL-frame edge, and a row
    // number all ride ONE (user_id, day) sort; rn = 1 rows form the
    // per-(user, day) boundary table (a max_by/min_by aggregate would
    // plan SortAggregate — struct buffers are immutable).
    val local = df
      .withColumn(s"loc_$out",
        last(when($"kind" === 0, cs), ignoreNulls = true).over(wb))
      .withColumn("rn__", row_number().over(wbSpec))
      .withColumn("edge__",
        last(when($"kind" === 0, cs), ignoreNulls = true).over(wbAll))
    val wu = Window.partitionBy($"user_id")
      .orderBy(if (forward) $"b".desc else $"b".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carried = local.filter($"rn__" === 1)
      .select($"user_id", $"b", $"edge__")
      .withColumn(s"carry_$out", last($"edge__", ignoreNulls = true).over(wu))
      .select($"user_id", $"b", col(s"carry_$out"))
    local.join(carried.hint("shuffle_hash"), Seq("user_id", "b"))
      .withColumn(out, coalesce(col(s"loc_$out"), col(s"carry_$out")))
      .drop(s"loc_$out", s"carry_$out", "rn__", "edge__")
  }

  /** TWO-LEVEL trailing-window device (r14, draining the PlanAuditSpec
    * hot-key rule): adds `out` = the array of the last ≤K values of
    * column `vName` ending AT the current row (inclusive, in (ts,
    * event_id) order) — the exact materialized form of a ROWS BETWEEN
    * K-1 PRECEDING AND CURRENT ROW frame — without any window ever
    * partitioning by user_id alone over raw events:
    *  - LOCAL: within-(user_id, day) trailing collect (frame order);
    *  - BOUNDARY: per (user_id, day) the day's last ≤K values (struct
    *    sort on the unique (ts, event_id) key pins the order);
    *  - CARRY: one per-user pass over the boundary table concatenates
    *    previous days' tails in day order (each needed element is
    *    within the last K of its day, so day-tails lose nothing);
    *  - per row: the first (K - rn_day) missing values come from the
    *    carry's tail, the rest from the local collect — day(ts) is
    *    monotone in ts, so the reassembled array is bit-identical to
    *    the single-level frame.
    *
    * PRECONDITION: column `vName` must be non-null. The local trailing
    * `collect_list` silently drops NULL values, which would shift array
    * positions; a lag-faithful NULL treatment (ts_ewma's naive form
    * gives a NULL lag zero weight) would need a struct wrapper here,
    * while ts_rolling_median's naive collect_list form WANTS the drop —
    * the two callers disagree, so the device requires non-null input
    * (fixture `value` is non-null; callers on nullable columns must
    * pre-coalesce or fork this device). */
  private def lastKCarried(s: SparkSession, df0: DataFrame, vName: String,
      k: Int, out: String): DataFrame = {
    import s.implicits._
    val df = if (df0.columns.contains("b")) df0
             else df0.withColumn("b", to_date($"ts"))
    val wb = Window.partitionBy($"user_id", $"b").orderBy($"ts", $"event_id")
    val local = df
      .withColumn("rn__", row_number().over(wb))
      .withColumn("loc__", collect_list(col(vName))
        .over(wb.rowsBetween(-(k - 1), 0)))
    val bounds = df.groupBy($"user_id", $"b")
      .agg(transform(
        array_sort(collect_list(struct($"ts", $"event_id", col(vName)))),
        x => x.getField(vName)).as("dayArr__"))
      .withColumn("tail__",
        when(size($"dayArr__") <= k, $"dayArr__")
          .otherwise(slice($"dayArr__", -k, k)))
    val wu = Window.partitionBy($"user_id").orderBy($"b")
    // the last K values live within the last K previous ACTIVE days
    // (every boundary row contributes ≥ 1 element), so the carry frame
    // is ROWS BETWEEN K PRECEDING AND 1 PRECEDING — O(K²) per boundary
    // row, never a whole-history concat (the unbounded form measured
    // 17 s on the wide4m ladder rung by shipping full-history tails
    // through the per-row join)
    val carried = bounds
      .withColumn("cat__", flatten(collect_list($"tail__")
        .over(wu.rowsBetween(-k, -1))))
      .withColumn("carry__",
        when(size($"cat__") <= k, $"cat__").otherwise(slice($"cat__", -k, k)))
      .select($"user_id", $"b", $"carry__")
    local.join(carried.hint("shuffle_hash"), Seq("user_id", "b"))
      .withColumn("need__", lit(k) - $"rn__")
      .withColumn(out,
        when($"need__" <= 0, $"loc__").otherwise(concat(
          when(size($"carry__") <= $"need__", $"carry__")
            .otherwise(slice($"carry__", -$"need__", $"need__")),
          $"loc__")))
      .drop("rn__", "loc__", "carry__", "need__")
  }

  val asofJoin: GraftQuery = GraftQuery(
    "join_asof",
    (s, dir) => {
      import s.implicits._
      asofCarried(s, asofTagged(s, dir), forward = false, "m")
        .filter($"kind" === 1)
        .select($"event_id".as("purchase_id"), $"user_id",
          $"m.event_id".as("click_id"), $"m.value".as("click_value"))
        .orderBy($"purchase_id")
    },
    Some("""SELECT p.event_id AS purchase_id, p.user_id,
                   c.event_id AS click_id, c.value AS click_value
            FROM events p
            LEFT JOIN LATERAL (
              SELECT event_id, value FROM events c
              WHERE c.user_id = p.user_id AND c.event_type = 'click'
                AND c.ts <= p.ts
              ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
            ) c ON true
            WHERE p.event_type = 'purchase'
            ORDER BY purchase_id""")
  )

  /** Nearest-in-time join — for every purchase, the click closest in
    * EITHER direction (ties prefer the earlier, i.e. the backward
    * match): the sensor-fusion / feature-alignment form of as-of, used
    * when the reference stream samples around the probe rather than
    * strictly before it (join_asof is the leakage-safe training form;
    * nearest is the reconciliation/QA form).
    *
    * Implementation: the join_asof union once, then TWO running-edge
    * windows over the SAME user partitioning (one shuffle, two sorts):
    * the ascending window's running `last` click is the backward
    * candidate (ts-equal clicks land here, distance 0), the descending
    * window's is the forward candidate (kind-desc ordering excludes
    * ts-equal clicks from the forward side, so no candidate is seen
    * twice). The pick is one ON-ROW compare of exact EPOCH-MICROSECOND
    * distances — never a |Δt| theta join. Tie on distance → backward;
    * ties within a side → max event_id backward / min forward (the
    * running-edge orders make this automatic). */
  val asofNearest: GraftQuery = GraftQuery(
    "join_asof_nearest",
    (s, dir) => {
      import s.implicits._
      // backward edge then forward edge, both through the two-level
      // carry device (one (user, day) exchange reused by both local
      // sorts; the per-user windows run over boundary tables only)
      asofCarried(s, asofCarried(s, asofTagged(s, dir),
          forward = false, "bk"), forward = true, "af")
        .filter($"kind" === 1)
        .withColumn("b_dist", unix_micros($"ts") - unix_micros($"bk.ts"))
        .withColumn("a_dist", unix_micros($"af.ts") - unix_micros($"ts"))
        .withColumn("take_b",
          $"bk".isNotNull && ($"af".isNull || $"b_dist" <= $"a_dist"))
        .select($"event_id".as("purchase_id"), $"user_id",
          when($"take_b", $"bk.event_id").otherwise($"af.event_id").as("click_id"),
          when($"take_b", $"bk.value").otherwise($"af.value").as("click_value"),
          when($"take_b", $"b_dist").otherwise($"a_dist").as("dist_us"))
        .orderBy($"purchase_id")
    },
    Some("""SELECT p.event_id AS purchase_id, p.user_id,
                   c.event_id AS click_id, c.value AS click_value,
                   c.dist_us
            FROM events p
            LEFT JOIN LATERAL (
              SELECT event_id, value,
                     abs(epoch_us(c.ts) - epoch_us(p.ts)) AS dist_us
              FROM events c
              WHERE c.user_id = p.user_id AND c.event_type = 'click'
              ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)),
                       CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END,
                       CASE WHEN c.ts <= p.ts THEN -c.event_id ELSE c.event_id END
              LIMIT 1
            ) c ON true
            WHERE p.event_type = 'purchase'
            ORDER BY purchase_id""")
  )

  /** Staleness tolerance for the bounded as-of join, in whole seconds. */
  private val AsofToleranceSec = 3600L

  /** As-of join with a staleness bound — the production form of
    * `join_asof`: a click more than an hour old is not attribution, it's
    * coincidence, so the match is kept only when the purchase follows
    * the click within the tolerance (every market-data and attribution
    * system exposes exactly this knob; unbounded as-of silently joins
    * across session boundaries).
    *
    * Implementation: the SAME union + running-`last` window as
    * join_asof (one shuffle, no BNLJ — the tolerance does NOT fall back
    * to a range join), additionally carrying the matched click's
    * timestamp forward; the bound is then one ON-ROW integer compare of
    * EPOCH MICROSECONDS (exact in both engines — an interval compare in
    * one engine and a double epoch in the other is how tolerance joins
    * drift), nulling out-of-window matches to preserve the left rows. */
  val asofTolerance: GraftQuery = GraftQuery(
    "join_asof_tolerance",
    (s, dir) => {
      import s.implicits._
      asofCarried(s, asofTagged(s, dir), forward = false, "m")
        .filter($"kind" === 1)
        .withColumn("fresh",
          unix_micros($"ts") - unix_micros($"m.ts")
            <= lit(AsofToleranceSec * 1000000L))
        .select($"event_id".as("purchase_id"), $"user_id",
          when($"fresh", $"m.event_id").as("click_id"),
          when($"fresh", $"m.value").as("click_value"))
        .orderBy($"purchase_id")
    },
    Some(s"""SELECT p.event_id AS purchase_id, p.user_id,
                    c.event_id AS click_id, c.value AS click_value
             FROM events p
             LEFT JOIN LATERAL (
               SELECT event_id, value FROM events c
               WHERE c.user_id = p.user_id AND c.event_type = 'click'
                 AND c.ts <= p.ts
                 AND epoch_us(p.ts) - epoch_us(c.ts)
                     <= ${AsofToleranceSec * 1000000L}
               ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
             ) c ON true
             WHERE p.event_type = 'purchase'
             ORDER BY purchase_id""")
  )

  /** Resample to a daily grid per user and forward-fill gaps: daily sums,
    * a generated min→max day spine per user, left join, and a running
    * `last(ignoreNulls)` carry-forward.
    *
    * Scale: the spine is generated from a per-user min/max aggregate —
    * rows ∝ users × days, never materializing a dense global calendar; the
    * fill reuses the (user_id) partitioning of the daily aggregate, so the
    * whole pipeline is two shuffles (agg, window) regardless of input size.
    */
  val gapFill: GraftQuery = GraftQuery(
    "ts_gapfill",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"user_id", date_trunc("day", $"ts").as("day"))
        .agg(round(sum($"value"), 4).as("v"))
      val spine = daily.groupBy($"user_id")
        .agg(min($"day").as("d0"), max($"day").as("d1"))
        .select($"user_id",
          explode(sequence($"d0", $"d1", expr("INTERVAL 1 DAY"))).as("day"))
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("v_filled",
          round(last($"v", ignoreNulls = true).over(
            Window.partitionBy($"user_id").orderBy($"day")
              .rowsBetween(Window.unboundedPreceding, 0)), 4))
        .withColumn("is_gap", $"v".isNull)
        .select($"user_id", $"day", $"v_filled", $"is_gap")
        .orderBy($"user_id", $"day")
    },
    Some("""WITH daily AS (
              SELECT user_id, date_trunc('day', ts) AS day, (round(sum(value),4) + 0.0) AS v
              FROM events GROUP BY 1, 2),
            spans AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
            grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
                     FROM spans)
            SELECT g.user_id, g.day,
                   (round(last_value(d.v IGNORE NULLS) OVER (
                     PARTITION BY g.user_id ORDER BY g.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) + 0.0) AS v_filled,
                   d.v IS NULL AS is_gap
            FROM grid g LEFT JOIN daily d USING (user_id, day)
            ORDER BY user_id, day""")
  )

  /** Distribution windows: quartile bucket, percent_rank, cume_dist over a
    * unique total order (value, event_id) per user. */
  /** TWO-LEVEL since r14 (hot-key plan rule): the order key is VALUE,
    * so the second level is a value bucket (floor(value) — the fixture
    * grid spans ~[0,100]) instead of a day: ranks run within (user_id,
    * bucket), the per-user pass runs over the ≤O(100)-row per-(user,
    * bucket) count table, and ntile/percent_rank/cume_dist reconstruct
    * from (global per-user rank, per-user count) by their exact integer
    * definitions (no ties: event_id ends the order), matching the
    * single-level window bit-for-bit. */
  val ntileRanks: GraftQuery = GraftQuery(
    "win_ntile",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_id", $"value")
        .withColumn("vb", floor($"value").cast("long"))
      val wvb = Window.partitionBy($"user_id", $"vb")
        .orderBy($"value", $"event_id")
      val local = ev.withColumn("lrn", row_number().over(wvb).cast("long"))
      val bounds = ev.groupBy($"user_id", $"vb").agg(count(lit(1)).as("bc"))
      val wu = Window.partitionBy($"user_id").orderBy($"vb")
      val carried = bounds
        .withColumn("pfx", coalesce(sum($"bc")
          .over(wu.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum($"bc").over(
          wu.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select($"user_id", $"vb", $"pfx", $"n")
      local.join(carried.hint("shuffle_hash"), Seq("user_id", "vb"))
        .withColumn("rn", $"pfx" + $"lrn")
        // Spark's Ntile: q = n div k, r = n mod k; the first r buckets
        // hold q+1 rows. greatest(q,1) only guards the (never-taken at
        // n >= k) ANSI div path of the second branch.
        .withColumn("q", expr("n div 4")).withColumn("r", $"n" % 4)
        .withColumn("cut", $"r" * ($"q" + 1L))
        .withColumn("quartile",
          when($"rn" <= $"cut", expr("(rn - 1) div (q + 1)") + 1L)
            .otherwise($"r" + expr("(rn - cut - 1) div greatest(q, 1)") + 1L)
            .cast("int"))
        .withColumn("pct_rank", when($"n" === 1L, lit(0.0)).otherwise(
          round(($"rn" - 1L).cast("double") / ($"n" - 1L).cast("double"), 6)))
        .withColumn("cume",
          round($"rn".cast("double") / $"n".cast("double"), 6))
        .select($"user_id", $"event_id", $"quartile", $"pct_rank", $"cume")
        .orderBy($"user_id", $"event_id")
    },
    Some("""SELECT user_id, event_id,
                   ntile(4)               OVER w AS quartile,
                   (round(percent_rank() OVER w, 6) + 0.0) AS pct_rank,
                   (round(cume_dist()    OVER w, 6) + 0.0) AS cume
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
            ORDER BY user_id, event_id""")
  )

  /** Salt fan-out for the skewed join below. */
  private val Salts = 8

  /** Skew-salted broadcast-free join: events (hot, low-cardinality user_id)
    * joined to a per-user dimension through a composite (user_id, salt) key.
    * The fact side derives a deterministic salt from event_id; the dim side
    * replicates each row `Salts` times. A hot user's rows now hash to
    * `Salts` different shuffle partitions instead of one.
    *
    * At 100 TB this is the manual fallback when AQE skew-join can't help
    * (e.g. the skew is in a shuffle-hash join's build side, or the join is
    * feeding a window that repartitions anyway). Result is identical to the
    * plain join — the oracle IS the plain join.
    */
  val skewSalted: GraftQuery = GraftQuery(
    "join_skew_salted",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      // Scaled-integer mean (SURVEY trap-note pattern), NOT
      // round(avg(double)): means of the 2-decimal value column are
      // boundary-structured rationals, and the sf0.1 sweep caught a
      // 1-ulp engine split (56.2087 vs 56.2088) from exactly that.
      val dim = ev.groupBy($"user_id").agg(
          (expr("sum(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)) div count(1)")
            .cast("double") / 10000.0).as("user_avg"))
        .withColumn("salt", explode(array((0 until Salts).map(lit): _*)))
      val fact = ev.select($"event_id", $"user_id",
        pmod($"event_id", lit(Salts)).cast("int").as("salt"))
      fact.join(dim, Seq("user_id", "salt"))
        .select($"event_id", $"user_id", $"user_avg")
        .orderBy($"event_id")
    },
    Some("""SELECT e.event_id, e.user_id, d.user_avg
            FROM events e
            JOIN (SELECT user_id,
                         CAST(sum(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT))
                              // count(*) AS DOUBLE) / 10000.0 AS user_avg
                  FROM events GROUP BY user_id) d USING (user_id)
            ORDER BY e.event_id""")
  )

  /** OHLC-style downsampling: per (user, day) bucket, the open/close
    * (first/last value by arrival order), low/high and mean — the canonical
    * pre-aggregation a dashboard or feature store runs over raw event
    * streams before any query touches them.
    *
    * Open/close anchor on `event_id` (the monotone offset), not `ts`:
    * min_by/max_by over the offset is deterministic even if two events in
    * a bucket share a timestamp, and the offset IS arrival order for a
    * log-structured source (FIXTURES.md events table).
    *
    * Scale shape: ONE hash aggregate with map-side partials — min_by /
    * max_by / min / max / avg all combine associatively, so 100 TB of
    * events reduce to (users × days) rows before the only shuffle. No
    * window, no sort: resampling must never pay a per-partition total
    * order when every statistic is a fold. */
  val resample: GraftQuery = GraftQuery(
    "ts_resample",
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"user_id", date_trunc("day", $"ts").as("day"))
        .agg(
          count(lit(1)).as("n"),
          round(min_by($"value", $"event_id"), 4).as("open"),
          round(max_by($"value", $"event_id"), 4).as("close"),
          round(min($"value"), 4).as("lo"),
          round(max($"value"), 4).as("hi"),
          // scaled-integer mean, not round(avg(double)): per-(user, day)
          // groups are small, so the mean of 2dp values sits on the 4dp
          // rounding boundary by CONSTRUCTION (the join_skew_salted
          // sf0.1 sweep lesson applies with higher probability here)
          (expr("sum(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)) div count(1)")
            .cast("double") / 10000.0).as("avg_v"))
        .orderBy($"user_id", $"day")
    },
    Some("""SELECT user_id, date_trunc('day', ts) AS day,
                   count(*) AS n,
                   (round(arg_min(value, event_id), 4) + 0.0) AS open,
                   (round(arg_max(value, event_id), 4) + 0.0) AS close,
                   (round(min(value), 4) + 0.0) AS lo,
                   (round(max(value), 4) + 0.0) AS hi,
                   CAST(sum(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT))
                        // count(*) AS DOUBLE) / 10000.0 AS avg_v
            FROM events GROUP BY 1, 2 ORDER BY user_id, day""")
  )

  /** Ordered-funnel analysis: per user, the earliest `view`, the earliest
    * `click` strictly after that view, and the earliest `purchase` strictly
    * after that click — the classic conversion funnel, where each stage
    * must respect event-time order (a purchase before the first view does
    * NOT count as stage 3).
    *
    * Implementation is a cascade of per-stage hash aggregates: stage k is
    * min(ts) over the stage-k event type gated by the stage-(k-1) anchor,
    * attached by an equi-join on user_id. No window and no per-user
    * event-sequence sort: each stage touches only its own event type's
    * rows, so the cascade is 3 filtered aggregates + 3 id joins — all
    * shuffle-partitioned on user_id, which AQE coalesces into one
    * exchange reuse chain. A MATCH_RECOGNIZE-style row walk would force a
    * total per-user sort of 100 TB; min-gated aggregation is the
    * scale-correct funnel formulation for strictly-ordered stages. */
  /** The funnel cascade over any (user_id, event_type, ts) frame —
    * extracted so TimeSeriesSpec can drive partial/violating funnels the
    * fixture doesn't contain (every sf0.001 user completes all 3 stages). */
  private[graft] def funnelOf(s: SparkSession,
                              ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val s1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val s2 = ev.filter($"event_type" === "click")
      .join(s1, "user_id").filter($"ts" > $"t_view")
      .groupBy($"user_id").agg(min($"ts").as("t_click"))
    val s3 = ev.filter($"event_type" === "purchase")
      .join(s2, "user_id").filter($"ts" > $"t_click")
      .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    ev.select($"user_id").distinct()
      .join(s1, Seq("user_id"), "left")
      .join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select($"user_id",
        (when($"t_view".isNotNull, 1).otherwise(0) +
         when($"t_click".isNotNull, 1).otherwise(0) +
         when($"t_purchase".isNotNull, 1).otherwise(0)).as("depth"),
        $"t_view", $"t_click", $"t_purchase")
      .orderBy($"user_id")
  }

  val funnel: GraftQuery = GraftQuery(
    "ts_funnel",
    (s, dir) => {
      import s.implicits._
      funnelOf(s, Tables.events(s, dir).select($"user_id", $"event_type", $"ts"))
    },
    Some("""WITH s1 AS (SELECT user_id, min(ts) AS t_view FROM events
                        WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(e.ts) AS t_click
                   FROM events e JOIN s1 USING (user_id)
                   WHERE e.event_type = 'click' AND e.ts > s1.t_view
                   GROUP BY 1),
            s3 AS (SELECT e.user_id, min(e.ts) AS t_purchase
                   FROM events e JOIN s2 USING (user_id)
                   WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
                   GROUP BY 1)
            SELECT u.user_id,
                   (CASE WHEN s1.t_view IS NOT NULL THEN 1 ELSE 0 END +
                    CASE WHEN s2.t_click IS NOT NULL THEN 1 ELSE 0 END +
                    CASE WHEN s3.t_purchase IS NOT NULL THEN 1 ELSE 0 END)
                     AS depth,
                   s1.t_view, s2.t_click, s3.t_purchase
            FROM (SELECT DISTINCT user_id FROM events) u
            LEFT JOIN s1 USING (user_id)
            LEFT JOIN s2 USING (user_id)
            LEFT JOIN s3 USING (user_id)
            ORDER BY u.user_id""")
  )

  /** Conversion window for the bounded funnel: each stage must land within
    * 3 days of the prior stage's anchor — wide enough that most users
    * convert, tight enough that the gate actually bites on the fixture
    * (sf0.01: 150 viewers → 115 in-window clickers → 81 purchasers). */
  private val FunnelWindowDays = 3

  /** The windowed-funnel cascade over any (user_id, event_type, ts) frame —
    * extracted so TimeSeriesSpec can drive in/out-of-window stages the
    * fixture doesn't isolate. */
  private[graft] def funnelWindowedOf(s: SparkSession,
                                      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val iv = expr(s"INTERVAL $FunnelWindowDays DAY")
    val s1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val s2 = ev.filter($"event_type" === "click")
      .join(s1, "user_id").filter($"ts" > $"t_view" && $"ts" <= $"t_view" + iv)
      .groupBy($"user_id").agg(min($"ts").as("t_click"))
    val s3 = ev.filter($"event_type" === "purchase")
      .join(s2, "user_id").filter($"ts" > $"t_click" && $"ts" <= $"t_click" + iv)
      .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    ev.select($"user_id").distinct()
      .join(s1, Seq("user_id"), "left")
      .join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select($"user_id",
        (when($"t_view".isNotNull, 1).otherwise(0) +
         when($"t_click".isNotNull, 1).otherwise(0) +
         when($"t_purchase".isNotNull, 1).otherwise(0)).as("depth"),
        $"t_view", $"t_click", $"t_purchase")
      .orderBy($"user_id")
  }

  /** The funnel with BOUNDED conversion windows — stage k counts only
    * within `FunnelWindowDays` of stage k−1's anchor (the form every
    * attribution system actually runs: an unbounded funnel credits a
    * purchase months after the click). Same scale shape as ts_funnel:
    * per-stage min-ts hash aggregates gated by the prior anchor, the
    * window bound rides the same equi-join's residual filter — still no
    * per-user event sort, no row walk. */
  val funnelWindowed: GraftQuery = GraftQuery(
    "ts_funnel_windowed",
    (s, dir) => {
      import s.implicits._
      funnelWindowedOf(s,
        Tables.events(s, dir).select($"user_id", $"event_type", $"ts"))
    },
    Some("""WITH s1 AS (SELECT user_id, min(ts) AS t_view FROM events
                        WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(e.ts) AS t_click
                   FROM events e JOIN s1 USING (user_id)
                   WHERE e.event_type = 'click' AND e.ts > s1.t_view
                     AND e.ts <= s1.t_view + INTERVAL 3 DAY
                   GROUP BY 1),
            s3 AS (SELECT e.user_id, min(e.ts) AS t_purchase
                   FROM events e JOIN s2 USING (user_id)
                   WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
                     AND e.ts <= s2.t_click + INTERVAL 3 DAY
                   GROUP BY 1)
            SELECT u.user_id,
                   (CASE WHEN s1.t_view IS NOT NULL THEN 1 ELSE 0 END +
                    CASE WHEN s2.t_click IS NOT NULL THEN 1 ELSE 0 END +
                    CASE WHEN s3.t_purchase IS NOT NULL THEN 1 ELSE 0 END)
                     AS depth,
                   s1.t_view, s2.t_click, s3.t_purchase
            FROM (SELECT DISTINCT user_id FROM events) u
            LEFT JOIN s1 USING (user_id)
            LEFT JOIN s2 USING (user_id)
            LEFT JOIN s3 USING (user_id)
            ORDER BY u.user_id""")
  )

  /** Session gap: a new session starts after 12 idle hours. The fixture's
    * median inter-event gap is ~7.3h (sf0.01), so 12h yields multi-event
    * sessions (avg ~3) instead of degenerate singletons. */
  private val SessionGapSec = 43200L

  /** Gaps-and-islands sessionization: per user, events sorted by (ts,
    * event_id); an event opens a new session when the gap to its
    * predecessor exceeds `SessionGapSec`; the session id is the running
    * count of session-open flags; then one aggregate per session.
    *
    * Scale shape — TWO-LEVEL per-user windows (round-13 hot-key fix): a
    * single `partitionBy(user_id)` window funnels a degenerate bot user
    * (10⁶+ events — exactly what the journey family exists to study)
    * into ONE task's sort; the r13 journey-skew drive
    * measured 3.4× vs a same-cardinality control at a 4M-event bot,
    * growing with bot size. The fix is the twoLevelRank idea applied per
    * user: windows partition by (user_id, day) — the hot task now sorts
    * one user-DAY, not one user's history — and cross-day facts ride a
    * per-(user, day) BOUNDARY table (first/last ts, local open count)
    * that is smaller than the events by the day's event count; the only
    * per-user-ordered window runs over that table. Since day(ts) is
    * monotone in ts, (day, ts, event_id) order ≡ (ts, event_id) order
    * and the decomposition is EXACT, not approximate:
    *  - a bucket's non-first events flag locally (lag within the day);
    *  - its first event compares against the PREVIOUS ACTIVE day's last
    *    ts, carried by lag over the boundary table — the actual
    *    timestamp, so no bucket-width assumption;
    *  - session_seq = (exclusive per-user prefix of per-day open counts)
    *    + (first-event open flag) + (running local count) — the
    *    two-level split of the original running sum.
    * The session aggregate's map-side combine bounds the bot's reduce
    * fan-in. Gap comparison uses truncated epoch seconds on both engines
    * (Spark `cast(ts AS long)` truncates; DuckDB `date_diff('second')`
    * counts boundary crossings — same value for the fixture's
    * microsecond timestamps). This is the batch complement of
    * `stream_session` (session_window): identical grouping semantics,
    * but here the session id is explicit so downstream joins can key on
    * it. */
  /** Shared two-level session derivation (the r13 journey-skew device,
    * factored in r14 so ts_concurrency stops re-deriving sessions with
    * the retired single-level per-user window): per-event frame with an
    * exact per-user `session_seq`, windows partitioned by (user_id, day)
    * plus one per-user pass over the per-(user, day) BOUNDARY table.
    * Columns: user_id, ts, event_id, value, session_seq. */
  private[graft] def sessionFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"value",
        to_date($"ts").as("b"))
    val wb = Window.partitionBy($"user_id", $"b").orderBy($"ts", $"event_id")
    val local = ev
      .withColumn("prev_ts", lag($"ts", 1).over(wb))
      .withColumn("new_local",
        when($"prev_ts".isNotNull &&
             $"ts".cast("long") - $"prev_ts".cast("long") > SessionGapSec,
          1L).otherwise(0L))
      .withColumn("rs_local",
        sum($"new_local").over(wb.rowsBetween(Window.unboundedPreceding, 0)))
    // Per-(user, day) boundary table: first/last ts + local open count.
    val bounds = local.groupBy($"user_id", $"b")
      .agg(min($"ts").as("first_ts"), max($"ts").as("last_ts"),
        sum($"new_local").as("local_new"))
    val wu = Window.partitionBy($"user_id").orderBy($"b")
    val carried = bounds
      .withColumn("prev_last", lag($"last_ts", 1).over(wu))
      .withColumn("first_new",
        when($"prev_last".isNull ||
             $"first_ts".cast("long") - $"prev_last".cast("long") > SessionGapSec,
          1L).otherwise(0L))
      .withColumn("prefix_excl",
        coalesce(sum($"local_new" + $"first_new")
          .over(wu.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"user_id", $"b", $"first_new", $"prefix_excl")
    local
      .join(carried.hint("shuffle_hash"), Seq("user_id", "b"))
      .withColumn("session_seq", $"prefix_excl" + $"first_new" + $"rs_local")
      .select($"user_id", $"ts", $"event_id", $"value", $"session_seq")
  }

  val sessionize: GraftQuery = GraftQuery(
    "ts_sessionize",
    (s, dir) => {
      import s.implicits._
      sessionFrame(s, dir)
        .groupBy($"user_id", $"session_seq")
        .agg(count(lit(1)).as("n_events"),
          min($"ts").as("t_start"), max($"ts").as("t_end"),
          round(sum($"value"), 4).as("sum_value"))
        .withColumn("duration_sec",
          $"t_end".cast("long") - $"t_start".cast("long"))
        .select($"user_id", $"session_seq", $"n_events", $"t_start", $"t_end",
          $"duration_sec", $"sum_value")
        .orderBy($"user_id", $"session_seq")
    },
    Some("""WITH flagged AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR date_diff('second', lag(ts) OVER w, ts) > 43200
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM flagged)
            SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                   count(*) AS n_events,
                   min(ts) AS t_start, max(ts) AS t_end,
                   date_diff('second', min(ts), max(ts)) AS duration_sec,
                   (round(sum(value), 4) + 0.0) AS sum_value
            FROM sess GROUP BY user_id, session_seq
            ORDER BY user_id, session_seq""")
  )

  /** Cohort retention matrix: users are cohorted by their first active
    * day; each (cohort_day, day_offset) cell counts the distinct cohort
    * members active that many days later — the standard retention
    * triangle behind any DAU/WAU dashboard.
    *
    * Scale shape: the per-(user, day) distinct is the only corpus-sized
    * aggregate; cohorts derive from it (already ∝ users × active-days,
    * not events) and join back on user_id — co-partitioned with the
    * distinct's own shuffle, so AQE reuses the exchange. The final cell
    * aggregate is over the activity table, never raw events. A distinct
    * count per cell stays exact because each user contributes one row
    * per day by construction. */
  /** TOP JOURNEY PATHS — path analysis over user event sequences: each
    * user's first four events (by (ts, event_id)) join into a path
    * string ("view>click>purchase>…"); the readout is the top-20 paths
    * by user count — the "how do users actually move" table product
    * analytics reads next to the funnel (the funnel asserts ONE
    * hypothesized order; paths SURFACE the orders that exist).
    *
    * Scale shape — two-level per-user windows (the r13 journey device):
    * the global first-4 of a user is the first-4 of its per-day first-4s
    * (day(ts) is monotone in ts), so rn ≤ 4 filters WITHIN (user_id,
    * day) partitions first — the hot-user task sorts one user-day — and
    * the per-user window runs over the ≤4-rows-per-active-day residue.
    * Path assembly is collect_list + array_sort per user (unique
    * (ts, event_id) prefix pins the struct sort); the path table is
    * user-count-sized and the top-20 is TakeOrderedAndProject
    * (per-partition heaps, no global sort). */
  val pathsTopK: GraftQuery = GraftQuery(
    "ts_paths_topk",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type",
          to_date($"ts").as("b"))
      val wb = Window.partitionBy($"user_id", $"b").orderBy($"ts", $"event_id")
      val wu = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val first4 = ev
        .withColumn("rn_local", row_number().over(wb))
        .filter($"rn_local" <= 4)
        .withColumn("rn", row_number().over(wu))
        .filter($"rn" <= 4)
      first4.groupBy($"user_id")
        .agg(array_join(
          expr("transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)"),
          ">").as("path"))
        .groupBy($"path").agg(count(lit(1)).as("n_users"))
        .orderBy($"n_users".desc, $"path")
        .limit(20)
    },
    Some("""WITH r AS (
              SELECT user_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events),
            p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn)
                         AS path
                  FROM r WHERE rn <= 4 GROUP BY user_id)
            SELECT path, count(*) AS n_users
            FROM p GROUP BY path
            ORDER BY n_users DESC, path LIMIT 20""")
  )

  /** CALENDAR PRORATION — align order fulfillment intervals
    * [o_orderdate, max(l_shipdate)] onto calendar months: per month,
    * how many orders were in flight, how many order-days landed in it,
    * and the exposure-weighted cents (Σ order_cents × overlap_days) —
    * the revenue-recognition / capacity view finance and ops read
    * (prorating a contract across the months it spans). All outputs are
    * exact BIGINTs: overlap days are integer date arithmetic and the
    * exposure fold is guarded; a per-order prorated DOUBLE share is
    * deliberately absent (summing doubles with per-order denominators
    * is order-dependent — the integer exposure table is the
    * hash-gradeable form, and any share derives from it downstream).
    *
    * Scale shape: this is the interval-align JOIN implemented join-free
    * — each order EXPLODES to the months it spans (sequence() generator,
    * ≤ a handful per TPC-H order — bounded by the interval length, never
    * by the calendar), so there is no non-equi join, no BNLJ, no month
    * broadcast; one order-level pre-aggregate (max receipt date over the
    * order's lines) and one hash aggregate onto the bounded month
    * domain. */
  val calendarProrate: GraftQuery = GraftQuery(
    "ts_calendar_prorate",
    (s, dir) => {
      import s.implicits._
      val iv = Tables.lineitem(s, dir)
        .groupBy($"l_orderkey").agg(max($"l_shipdate").as("d_end"))
        .join(Tables.orders(s, dir).select($"o_orderkey", $"o_orderdate",
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("cents")).hint("shuffle_hash"),
          $"l_orderkey" === $"o_orderkey")
        // the synthetic fixture does not causally order ship after order
        // dates — clamp so every interval is well-formed
        .select($"o_orderdate".as("d_start"),
          greatest($"d_end", $"o_orderdate").as("d_end"), $"cents")
      iv.select($"d_start", $"d_end", $"cents",
          explode(expr(
            "sequence(trunc(d_start, 'month'), trunc(d_end, 'month'), interval 1 month)"))
            .as("month0"))
        .select($"month0".cast("date").as("month"), $"cents",
          (datediff(least($"d_end", last_day($"month0".cast("date"))),
            greatest($"d_start", $"month0".cast("date"))) + 1).cast("long")
            .as("overlap_days"))
        .groupBy($"month")
        .agg(count(lit(1)).as("n_orders"),
          sum($"overlap_days").as("sum_overlap_days"),
          sum($"cents" * $"overlap_days").as("exposure_cents_days"))
        .orderBy($"month")
    },
    Some("""WITH iv AS (
              SELECT o_orderdate AS d_start,
                     greatest(le.d_end, o_orderdate) AS d_end,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS cents
              FROM orders
              JOIN (SELECT l_orderkey, max(l_shipdate) AS d_end
                    FROM lineitem GROUP BY 1) le
                ON o_orderkey = le.l_orderkey),
            ex AS (
              SELECT CAST(m.month AS DATE) AS month, cents,
                     date_diff('day',
                       greatest(d_start, CAST(m.month AS DATE)),
                       least(d_end, last_day(CAST(m.month AS DATE)))) + 1
                       AS overlap_days
              FROM iv,
                   LATERAL unnest(generate_series(
                     date_trunc('month', d_start),
                     date_trunc('month', d_end),
                     INTERVAL 1 MONTH)) AS m(month))
            SELECT month, count(*) AS n_orders,
                   CAST(sum(overlap_days) AS BIGINT) AS sum_overlap_days,
                   CAST(sum(cents * overlap_days) AS BIGINT)
                     AS exposure_cents_days
            FROM ex GROUP BY month ORDER BY month""")
  )

  /** CUMULATIVE USER GROWTH — distinct users ever seen, by day (the
    * registered-users curve every growth dashboard draws next to DAU),
    * plus the day's newcomer count. A naive running COUNT(DISTINCT)
    * window rescans history per day; the exact decomposition is: each
    * user contributes on their FIRST day only (one per-user min), daily
    * newcomers aggregate on the bounded day domain, and the cumulative
    * is a running sum over ≤days rows. Days with zero newcomers still
    * carry the running total (dense via the observed-day list — a
    * growth curve with holes misreads).
    *
    * Scale shape: one (user, first-day) hash aggregate (map-side
    * combine bounds any bot user to one row), one bounded-day
    * aggregate, one window over the day table — no per-day rescans, no
    * distinct windows. */
  val cumulativeUsers: GraftQuery = GraftQuery(
    "ts_cumulative_users",
    (s, dir) => {
      import s.implicits._
      val firstDay = Tables.events(s, dir)
        .select($"user_id", to_date($"ts").as("d"))
        .groupBy($"user_id").agg(min($"d").as("d"))
        .groupBy($"d").agg(count(lit(1)).as("new_users"))
      val days = Tables.events(s, dir).select(to_date($"ts").as("d")).distinct()
      val w = Window.orderBy($"d").rowsBetween(Window.unboundedPreceding, 0)
      days.join(firstDay.hint("shuffle_hash"), Seq("d"), "left")
        .select($"d", coalesce($"new_users", lit(0L)).as("new_users"))
        .withColumn("cum_users", sum($"new_users").over(w))
        .orderBy($"d")
    },
    Some("""WITH fd AS (
              SELECT user_id, min(CAST(ts AS DATE)) AS d
              FROM events GROUP BY user_id),
            nu AS (SELECT d, count(*) AS new_users FROM fd GROUP BY d),
            days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
            SELECT days.d, COALESCE(nu.new_users, 0) AS new_users,
                   CAST(sum(COALESCE(nu.new_users, 0)) OVER (ORDER BY days.d
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
            FROM days LEFT JOIN nu ON days.d = nu.d
            ORDER BY days.d""")
  )

  /** Attribution window: a touch older than 7 days no longer earns the
    * purchase — the standard last-click lookback. */
  private val AttrWindowSec = 604800L

  /** LAST-TOUCH ATTRIBUTION — the marketing-warehouse readout behind
    * every ROAS dashboard: each purchase credits the user's latest prior
    * touch (view/click, strictly before by (ts, event_id)) if it is
    * within the 7-day lookback, else 'direct'; per channel the purchase
    * count, exact revenue cents, share of purchases, and mean
    * touch-to-purchase latency.
    *
    * Scale shape — born two-level (the round-13 journey hot-key device,
    * see ts_sessionize): the running-last-touch window partitions by
    * (user_id, day), so a bot user's history never funnels into one
    * task; each purchase's effective last touch is
    * coalesce(within-day running last, previous active days' carry),
    * where the carry is one running-last over the per-(user, day)
    * boundary table (the day's last touch, extracted by rn=1 +
    * full-frame window — no struct/string aggregate, SortAggregate-free).
    * day(ts) is monotone in ts so the decomposition is exact. The final
    * channel rollup is a ≤4-row table; its share denominator is a 1-row
    * broadcast. Lookback is checked AFTER picking the latest touch —
    * any other touch is older still, so latest-or-direct is exact.
    * Gap/latency use truncated epoch seconds on both engines (the
    * ts_sessionize equivalence). */
  val attribution: GraftQuery = GraftQuery(
    "ts_attribution",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .filter($"event_type".isin("view", "click", "purchase"))
        .select($"user_id", $"ts", $"event_id", $"event_type",
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
          to_date($"ts").as("b"))
      val wb = Window.partitionBy($"user_id", $"b").orderBy($"ts", $"event_id")
      val touch = when($"event_type" =!= "purchase",
        struct($"ts".as("t_ts"), $"event_type".as("t_type")))
      val local = ev.withColumn("lt_local",
        last(touch, ignoreNulls = true)
          .over(wb.rowsBetween(Window.unboundedPreceding, -1)))
      val bounds = local
        .withColumn("rn", row_number().over(wb))
        .withColumn("day_last_touch", last(touch, ignoreNulls = true)
          .over(wb.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .filter($"rn" === 1)
        .select($"user_id", $"b", $"day_last_touch")
      val wu = Window.partitionBy($"user_id").orderBy($"b")
      val carried = bounds.withColumn("carry",
          last($"day_last_touch", ignoreNulls = true)
            .over(wu.rowsBetween(Window.unboundedPreceding, -1)))
        .select($"user_id", $"b", $"carry")
      val att = local.filter($"event_type" === "purchase")
        .join(carried.hint("shuffle_hash"), Seq("user_id", "b"))
        .withColumn("lt", coalesce($"lt_local", $"carry"))
        .withColumn("attributed", $"lt".isNotNull &&
          $"ts".cast("long") - $"lt.t_ts".cast("long") <= AttrWindowSec)
        .select($"cents",
          when($"attributed", $"lt.t_type").otherwise(lit("direct"))
            .as("channel"),
          when($"attributed",
            $"ts".cast("long") - $"lt.t_ts".cast("long")).as("lag_sec"))
      val ch = att.groupBy($"channel")
        .agg(count(lit(1)).as("n_purchases"),
          sum($"cents").as("revenue_cents"),
          sum($"lag_sec").as("slag"), count($"lag_sec").as("nlag"))
      val tot = ch.agg(sum($"n_purchases").as("total"))
      ch.crossJoin(broadcast(tot))
        .select($"channel", $"n_purchases", $"revenue_cents",
          round($"n_purchases".cast("double") / $"total".cast("double"), 6)
            .as("share"),
          round($"slag".cast("double") / $"nlag".cast("double"), 4)
            .as("avg_lag_sec"))
        .orderBy($"channel")
    },
    Some("""WITH ev AS (
              SELECT user_id, ts, event_id, event_type,
                     CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
              FROM events WHERE event_type IN ('view', 'click', 'purchase')),
            att AS (
              SELECT p.cents,
                     CASE WHEN t.ts IS NOT NULL
                           AND date_diff('second', t.ts, p.ts) <= 604800
                          THEN t.event_type ELSE 'direct' END AS channel,
                     CASE WHEN t.ts IS NOT NULL
                           AND date_diff('second', t.ts, p.ts) <= 604800
                          THEN date_diff('second', t.ts, p.ts) END AS lag_sec
              FROM ev p
              LEFT JOIN LATERAL (
                SELECT ts, event_type FROM ev t
                WHERE t.user_id = p.user_id AND t.event_type <> 'purchase'
                  AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id))
                ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) t ON true
              WHERE p.event_type = 'purchase'),
            tot AS (SELECT count(*) AS total FROM att)
            SELECT channel, count(*) AS n_purchases,
                   CAST(sum(cents) AS BIGINT) AS revenue_cents,
                   (round(CAST(count(*) AS DOUBLE) / total, 6) + 0.0) AS share,
                   (round(CAST(sum(lag_sec) AS DOUBLE) / count(lag_sec), 4) + 0.0)
                     AS avg_lag_sec
            FROM att CROSS JOIN tot
            GROUP BY channel, total ORDER BY channel""")
  )

  val retention: GraftQuery = GraftQuery(
    "ts_retention",
    (s, dir) => {
      import s.implicits._
      val activity = Tables.events(s, dir)
        .select($"user_id", date_trunc("day", $"ts").as("day")).distinct()
      val cohorts = activity.groupBy($"user_id").agg(min($"day").as("cohort_day"))
      activity.join(cohorts, "user_id")
        .groupBy($"cohort_day", datediff($"day", $"cohort_day").as("day_offset"))
        .agg(countDistinct($"user_id").as("n_users"))
        .orderBy($"cohort_day", $"day_offset")
    },
    Some("""WITH activity AS (
              SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
            cohorts AS (
              SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY 1)
            SELECT cohort_day,
                   CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
                   count(DISTINCT user_id) AS n_users
            FROM activity JOIN cohorts USING (user_id)
            GROUP BY 1, 2 ORDER BY cohort_day, day_offset""")
  )

  /** Rolling-window anomaly detection: per user, each event's value is
    * z-scored against the 20 PRECEDING events (current row excluded — the
    * detector must not contaminate its own baseline); events more than 3
    * rounded standard deviations out, with at least 10 rows of history
    * and a non-degenerate deviation, are flagged.
    *
    * Scale shape: one shuffle + sort on user_id; the three window
    * aggregates share a frame so Catalyst computes them in a single
    * Window operator over one sort — no self-join, no per-row subquery.
    * The |z| > 3 comparison uses the ROUNDED z on both engines so the
    * boundary keep decision can never diverge on a last-ulp difference
    * (the llm_sim_range rule). */
  /** The split-path anomaly pipeline over any (user_id, ts, event_id,
    * value) frame — extracted so TwoLevelParitySpec can drive a
    * synthetic >20-events-per-day fixture (the fixture corpus maxes at
    * 11 events/user-day, so the bulk prefix-difference branch never
    * fires on it). */
  private[graft] def anomalyOf(s: SparkSession,
                               events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import s.implicits._
      // TWO-LEVEL (r14): the 20-PRECEDING-to-1-PRECEDING integer frame
      // is the inclusive last-21 array minus its last element (the
      // current row); integer sums over it are association-free, so the
      // windowed statistics are exactly the single-level ones.
      // Exact-integer window statistics (the sf0.1 sweep class): the
      // windowed double avg/stddev put the boundary-structured mean of
      // 2-decimal values under round(,4) — caught splitting engines by an
      // ulp at sf0.1 — AND DuckDB computes windowed double sums through a
      // segment tree (pairwise association ≠ Spark's sequential sum; the
      // ts_cusum trap note). Integer window sums are immune to both:
      // cents partials are exact at any association, the mean truncates
      // in scaled-integer space, and the sample variance is the exact
      // rational (n·Σc² − (Σc)²)/(n(n−1)) — one sqrt of an identical
      // double in both engines.
      // SPLIT-PATH frame reassembly (r14 perf iteration): the BULK of
      // rows (rn ≥ 21: a full in-day 20-row history) gets the frame
      // sums as PREFIX DIFFERENCES of two within-day running integer
      // sums — pure codegen'd scalars, no arrays (a per-row HOF
      // aggregate() fold is interpreted: the array form measured ~6 µs/
      // row = 26 s on the 4M ladder rung). Only the ≤20 DAY-HEAD rows
      // per (user, day) touch the carried tail array — a bounded row
      // subset, so the interpreted fold cost is O(users × days × 20),
      // independent of corpus size.
      val ev = events
        .select($"user_id", $"ts", $"event_id", $"value",
          to_date($"ts").as("b"))
        .withColumn("c", expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      val wb = Window.partitionBy($"user_id", $"b").orderBy($"ts", $"event_id")
      val local = ev
        .withColumn("rn", row_number().over(wb))
        .withColumn("ls", sum($"c").over(
          wb.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("ls2", sum($"c" * $"c").over(
          wb.rowsBetween(Window.unboundedPreceding, 0)))
      // The lag columns MUST be computed on the UNFILTERED frame: a
      // window applied after filter(rn >= 21) runs over the filtered
      // partition, so rn=21 would see a NULL lag-1 (row dropped) and
      // rn=22..41 a missing lag-21 (wrong prefix difference). Computing
      // them here makes lag(ls, k) the prefix at physical row rn-k,
      // exactly the 20-PRECEDING..1-PRECEDING frame for rn >= 21.
      val lagged = local
        .withColumn("pls1", coalesce(lag($"ls", 1).over(wb), lit(0L)))
        .withColumn("pls21", coalesce(lag($"ls", 21).over(wb), lit(0L)))
        .withColumn("pls2_1", coalesce(lag($"ls2", 1).over(wb), lit(0L)))
        .withColumn("pls2_21", coalesce(lag($"ls2", 21).over(wb), lit(0L)))
      val bulk = lagged.filter($"rn" >= 21)
        .withColumn("n_hist", lit(20L))
        .withColumn("sum_c", $"pls1" - $"pls21")
        .withColumn("sum_c2", $"pls2_1" - $"pls2_21")
        .select($"user_id", $"ts", $"event_id", $"value",
          $"n_hist", $"sum_c", $"sum_c2")
      // day-head rows: in-day part from the local prefixes, the missing
      // (20 - (rn-1)) values from the previous-active-days tail carry
      val bounds = ev.groupBy($"user_id", $"b")
        .agg(transform(
          array_sort(collect_list(struct($"ts", $"event_id", $"c"))),
          x => x.getField("c")).as("dayArr"))
        .withColumn("tail",
          when(size($"dayArr") <= 20, $"dayArr")
            .otherwise(slice($"dayArr", -20, 20)))
      val wu = Window.partitionBy($"user_id").orderBy($"b")
      val carried = bounds
        .withColumn("cat", flatten(collect_list($"tail")
          .over(wu.rowsBetween(-20, -1))))
        .withColumn("carry",
          when(size($"cat") <= 20, $"cat").otherwise(slice($"cat", -20, 20)))
        .select($"user_id", $"b", $"carry")
      val head = lagged.filter($"rn" <= 20)
        .join(carried.hint("shuffle_hash"), Seq("user_id", "b"))
        .withColumn("need", lit(20) - ($"rn" - 1))
        .withColumn("seg",
          when(size($"carry") <= $"need", $"carry")
            .otherwise(slice($"carry", -$"need", $"need")))
        .withColumn("n_hist", ($"rn" - 1).cast("long") + size($"seg"))
        // pls1/pls2_1 were computed on the unfiltered frame; for rn <= 20
        // the full-partition lag-1 row is also rn <= 20, so reusing them
        // is exact AND saves a second Window sort after the join.
        .withColumn("sum_c",
          $"pls1" + aggregate($"seg", lit(0L), (a, x) => a + x))
        .withColumn("sum_c2",
          $"pls2_1" + aggregate($"seg", lit(0L), (a, x) => a + x * x))
        .select($"user_id", $"ts", $"event_id", $"value",
          $"n_hist", $"sum_c", $"sum_c2")
      bulk.unionByName(head)
        .filter($"n_hist" >= 10)
        // greatest(n_hist, 1): subexpression elimination can evaluate a
        // pushed predicate's div EAGERLY (before the n_hist >= 10
        // conjunct short-circuits) inside the join's bound condition —
        // ANSI divide-by-zero on rows the filter would drop. The guard
        // never changes a surviving row (n_hist >= 10 there).
        .withColumn("mu",
          expr("(sum_c * 100) div greatest(n_hist, 1)").cast("double") / 10000.0)
        .withColumn("sd", sqrt(
          expr("CAST(n_hist * sum_c2 - sum_c * sum_c AS DOUBLE)")
            / expr("CAST(greatest(n_hist, 2) AS DOUBLE)" +
              " * CAST(greatest(n_hist, 2) - 1 AS DOUBLE)")) / 100.0)
        // The division lives INSIDE the sd guard: after the r14 rewrite
        // the surrounding plan is all projections/joins, so Catalyst may
        // evaluate a pushed |z| predicate before a separate sd filter —
        // ANSI division by zero. when() branches lazily, so this is
        // robust to any predicate reordering (values unchanged).
        .withColumn("z",
          when($"sd" > 1e-9, round(($"value" - $"mu") / $"sd", 4)))
        .filter($"z".isNotNull && abs($"z") > 3.0)
        .select($"user_id", $"event_id", $"value",
          $"mu", round($"sd", 4).as("sd"), $"z")
        .orderBy($"user_id", $"event_id")
  }

  val anomaly: GraftQuery = GraftQuery(
    "ts_anomaly",
    (s, dir) => anomalyOf(s, Tables.events(s, dir)),
    Some("""WITH s AS (
              SELECT user_id, event_id, value,
                     count(c) OVER w AS n_hist,
                     sum(c) OVER w AS sum_c,
                     sum(c * c) OVER w AS sum_c2
              FROM (SELECT *, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM events)
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
            t AS (
              SELECT user_id, event_id, value,
                     CAST((sum_c * 100) // n_hist AS DOUBLE) / 10000.0 AS mu,
                     sqrt(CAST(n_hist * sum_c2 - sum_c * sum_c AS DOUBLE)
                          / (CAST(n_hist AS DOUBLE) * CAST(n_hist - 1 AS DOUBLE)))
                       / 100.0 AS sd
              FROM s WHERE n_hist >= 10)
            SELECT user_id, event_id, value,
                   mu, (round(sd, 4) + 0.0) AS sd,
                   (round((value - mu) / sd, 4) + 0.0) AS z
            FROM t
            WHERE sd > 1e-9
              AND abs(round((value - mu) / sd, 4)) > 3
            ORDER BY user_id, event_id""")
  )

  /** Linear interpolation on the daily grid — `ts_gapfill`'s carry-forward
    * replaced by the estimate a metrics/feature pipeline actually wants
    * for a continuously-varying signal: a gap day's value is the linear
    * blend of the nearest known days on either side, weighted by
    * distance. Same spine construction as gapFill; the fill needs BOTH
    * neighbors, so two mirrored window passes over one per-user sort
    * carry (value, day) of the last known point backward and the next
    * known point forward, and the blend is pure row-local arithmetic.
    * The spine spans min→max ACTIVE day per user, so both neighbors
    * always exist on gap rows; the mirrored-edge coalesce keeps the
    * expression total anyway (synthetic frames in TimeSeriesSpec drive
    * it). Both engines evaluate the identical IEEE expression
    * prev + (next−prev) · (Δl/Δn), rounded once at the projection.
    *
    * Scale: rows ∝ users × days; two shuffles total (daily agg, then the
    * user-partitioned windows share one Exchange+Sort — Catalyst plans
    * the forward and backward frames over the same sort order). */
  /** The spine + mirrored-window interpolation over any
    * (user_id, day, v) daily frame — extracted so TimeSeriesSpec can
    * drive synthetic gaps and edge cases the fixture doesn't isolate. */
  private[graft] def interpolateOf(s: SparkSession,
                                   daily: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val spine = daily.groupBy($"user_id")
        .agg(min($"day").as("d0"), max($"day").as("d1"))
        .select($"user_id",
          explode(sequence($"d0", $"d1", expr("INTERVAL 1 DAY"))).as("day"))
      val wb = Window.partitionBy($"user_id").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wf = Window.partitionBy($"user_id").orderBy($"day")
        .rowsBetween(0, Window.unboundedFollowing)
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("pv", last($"v", ignoreNulls = true).over(wb))
        .withColumn("pd", last(when($"v".isNotNull, $"day"), ignoreNulls = true).over(wb))
        .withColumn("nv", first($"v", ignoreNulls = true).over(wf))
        .withColumn("nd", first(when($"v".isNotNull, $"day"), ignoreNulls = true).over(wf))
        .withColumn("v_interp", round(
          when($"v".isNotNull, $"v")
            .when($"pv".isNull, $"nv")
            .when($"nv".isNull, $"pv")
            .otherwise($"pv" + ($"nv" - $"pv") *
              (datediff($"day", $"pd").cast("double") /
               datediff($"nd", $"pd").cast("double"))), 4))
        .withColumn("is_gap", $"v".isNull)
        .select($"user_id", $"day", $"v_interp", $"is_gap")
        .orderBy($"user_id", $"day")
  }

  val interpolate: GraftQuery = GraftQuery(
    "ts_interpolate",
    (s, dir) => {
      import s.implicits._
      interpolateOf(s, Tables.events(s, dir)
        .groupBy($"user_id", date_trunc("day", $"ts").as("day"))
        .agg(round(sum($"value"), 4).as("v")))
    },
    Some("""WITH daily AS (
              SELECT user_id, date_trunc('day', ts) AS day, (round(sum(value),4) + 0.0) AS v
              FROM events GROUP BY 1, 2),
            spans AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
            grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
                     FROM spans),
            j AS (SELECT g.user_id, g.day, d.v,
                         last_value(d.v IGNORE NULLS) OVER wb AS pv,
                         last_value(CASE WHEN d.v IS NOT NULL THEN g.day END IGNORE NULLS)
                           OVER wb AS pd,
                         first_value(d.v IGNORE NULLS) OVER wf AS nv,
                         first_value(CASE WHEN d.v IS NOT NULL THEN g.day END IGNORE NULLS)
                           OVER wf AS nd
                  FROM grid g LEFT JOIN daily d USING (user_id, day)
                  WINDOW wb AS (PARTITION BY g.user_id ORDER BY g.day
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                         wf AS (PARTITION BY g.user_id ORDER BY g.day
                                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
            SELECT user_id, day,
                   (round(CASE WHEN v IS NOT NULL THEN v
                              WHEN pv IS NULL THEN nv
                              WHEN nv IS NULL THEN pv
                              ELSE pv + (nv - pv) *
                                   (CAST(date_diff('day', pd, day) AS DOUBLE) /
                                    CAST(date_diff('day', pd, nd) AS DOUBLE))
                         END, 4) + 0.0) AS v_interp,
                   v IS NULL AS is_gap
            FROM j ORDER BY user_id, day""")
  )

  /** Exponentially-weighted moving average with a truncated (K-term)
    * kernel: ewma_t = Σ_{i<K} α(1-α)^i · x_{t-i}, renormalized over the
    * terms actually present near the head of each series. The truncation
    * makes the recursion a FIXED sum of K lag() terms inside one window
    * spec — one shuffle on user_id, one in-partition sort, whole-stage
    * codegen over the K-term expression — instead of a sequential
    * per-row state fold. K=8 at α=0.3 truncates < 6% of kernel mass.
    * The K lag terms are summed in the same left-to-right order in both
    * engines, so the doubles agree before rounding.
    *
    * At 100 TB the exact-recursive alternative (per-key ordered fold via
    * mapGroupsWithState / flatMapGroups) costs the same shuffle+sort but
    * loses codegen; the truncated-kernel form is the standard production
    * trade. */
  val ewma: GraftQuery = GraftQuery(
    "ts_ewma",
    (s, dir) => {
      import s.implicits._
      val alpha = 0.3
      val k = 8
      val weights = (0 until k).map(i => alpha * math.pow(1 - alpha, i))
      // TWO-LEVEL (r14): the k trailing lags come from the lastKCarried
      // array (bit-identical to the single-level frame); get() is
      // 0-based and null out-of-bounds, exactly lag(value, i)'s nulls.
      // lastKCarried precondition: fixture `value` is non-null (a NULL
      // would be dropped from the array and shift lag positions).
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_id", $"ts", $"value")
      val withArr = lastKCarried(s, ev, "value", k, "a8")
      def x(i: Int): Column = get($"a8", size($"a8") - i - 1)
      val num = weights.zipWithIndex.map { case (wt, i) =>
        coalesce(x(i) * lit(wt), lit(0.0))
      }.reduce(_ + _)
      val den = weights.zipWithIndex.map { case (wt, i) =>
        when(x(i).isNotNull, lit(wt)).otherwise(lit(0.0))
      }.reduce(_ + _)
      withArr
        .withColumn("ewma", round(num / den, 4))
        .select($"user_id", $"event_id", $"ewma")
        .orderBy($"user_id", $"event_id")
    },
    Some {
      val alpha = 0.3
      val k = 8
      val weights = (0 until k).map(i => alpha * math.pow(1 - alpha, i))
      val num = weights.zipWithIndex.map { case (wt, i) =>
        s"coalesce(lag(value, $i) OVER w * $wt, 0.0)"
      }.mkString(" + ")
      val den = weights.zipWithIndex.map { case (wt, i) =>
        s"(CASE WHEN lag(value, $i) OVER w IS NOT NULL THEN $wt ELSE 0.0 END)"
      }.mkString(" + ")
      s"""SELECT user_id, event_id, (round(($num) / ($den), 4) + 0.0) AS ewma
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          ORDER BY user_id, event_id"""
    }
  )

  /** Lagged cross-correlation between two event streams (does `click`
    * activity lead `purchase` activity, and by how many hours?) — the
    * lead-lag diagnostic run before building any predictive feature on
    * event data. Both series reduce to hourly counts in one hash
    * aggregate (O(hours) rows out of O(events) in — the series table is
    * TINY relative to the fact table, which is what makes the lag join
    * free at any scale); each lag then equi-joins series B shifted by
    * `lag` hours (the shift rides IN the join key, so this is a plain
    * equi-join, never a range/theta join) and one corr aggregate per
    * lag. Inner join = hours where both series observed (gaps drop,
    * deterministically). */
  val crossCorr: GraftQuery = GraftQuery(
    "ts_cross_corr",
    (s, dir) => {
      import s.implicits._
      val MaxLag = 6
      val hourly = Tables.events(s, dir)
        .filter($"event_type".isin("click", "purchase"))
        .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
        .agg(count(lit(1)).as("n"))
      val a = hourly.filter($"event_type" === "click")
        .select($"h", $"n".as("na"))
      val b = hourly.filter($"event_type" === "purchase")
        .select($"h".as("hb"), $"n".as("nb"))
      a.select($"h", $"na",
          explode(sequence(lit(0L), lit(MaxLag.toLong))).as("lag"))
        .join(b, $"hb" === $"h" + expr("make_dt_interval(0, lag, 0, 0)"))
        .groupBy($"lag")
        .agg(round(corr($"na", $"nb"), 6).as("xcorr"),
          count(lit(1)).as("n_hours"))
        .orderBy($"lag")
    },
    Some("""WITH hc AS (
              SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
              FROM events WHERE event_type IN ('click', 'purchase')
              GROUP BY 1, 2),
            a AS (SELECT h, n AS na FROM hc WHERE event_type = 'click'),
            b AS (SELECT h AS hb, n AS nb FROM hc WHERE event_type = 'purchase'),
            l AS (SELECT unnest(range(0, 7)) AS lag)
            SELECT l.lag, (round(corr(na, nb), 6) + 0.0) AS xcorr,
                   count(*) AS n_hours
            FROM l CROSS JOIN a
            JOIN b ON b.hb = a.h + INTERVAL 1 HOUR * CAST(l.lag AS INT)
            GROUP BY l.lag ORDER BY l.lag""")
  )

  /** Robust outlier detection via median absolute deviation — the
    * complement of ts_anomaly's rolling z-score: MAD is what production
    * monitoring uses when the series itself contains the outliers that
    * would poison a mean/stddev baseline (a single spike inflates σ and
    * masks itself; the median ignores it). Flag: |v − med| > 3·1.4826·MAD
    * (1.4826 scales MAD to σ under normality).
    *
    * Plan: two grouped median aggregates (percentile_cont — exact,
    * per-group sorted; group count is the bounded event-type domain)
    * with the tiny per-group stats broadcast back onto the scan between
    * and after them — the fact table is read twice, shuffled never.
    * Both sides of the outlier comparison are rounded (4dp) so the
    * boundary decision is cross-engine identical. */
  val outlierMad: GraftQuery = GraftQuery(
    "ts_outlier_mad",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).select($"event_type", $"value")
      val med = ev.groupBy($"event_type")
        .agg(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY value)").as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("adev", abs($"value" - $"med"))
      val stats = dev.groupBy($"event_type")
        .agg(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY adev)").as("mad"),
          max($"med").as("med"))
      dev.drop("med").join(broadcast(stats), "event_type")
        .groupBy($"event_type", $"med", $"mad")
        .agg(
          sum(when(round($"adev", 4) > round(lit(3 * 1.4826) * $"mad", 4), 1L)
            .otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n"))
        .select($"event_type", round($"med", 4).as("med"),
          round($"mad", 4).as("mad"), $"n_outliers", $"n")
        .orderBy($"event_type")
    },
    Some("""WITH m AS (
              SELECT event_type,
                     percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
              FROM events GROUP BY 1),
            d AS (
              SELECT e.event_type, abs(e.value - m.med) AS adev
              FROM events e JOIN m USING (event_type)),
            md AS (
              SELECT event_type,
                     percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad
              FROM d GROUP BY 1)
            SELECT d.event_type,
                   (round(max(m.med), 4) + 0.0) AS med,
                   (round(max(md.mad), 4) + 0.0) AS mad,
                   CAST(sum(CASE WHEN round(adev, 4) > round(3 * 1.4826 * md.mad, 4)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                   count(*) AS n
            FROM d JOIN m USING (event_type) JOIN md USING (event_type)
            GROUP BY d.event_type ORDER BY event_type""")
  )

  /** Exact rolling median of each user's value series over a trailing
    * 15-row window — the robust smoother (a rolling MEAN chases every
    * spike; ts_outlier_mad is the same robustness argument applied to
    * outlier detection). Spark has no exact windowed median, so the
    * window collects its 15-row frame into an in-row array
    * (collect_list OVER rows-between), sorts it, and indexes the
    * middle — O(w log w) per row with w a CONSTANT 15, inside the one
    * per-user window shuffle every win_* query pays; nothing about the
    * frame cost grows with corpus size, which is what makes in-frame
    * array math the right tool for small fixed windows (the same
    * pattern as ts_ewma's unrolled lag chain). Even frames average the
    * two middles — matching DuckDB's interpolating exact median (×0.5
    * vs /2 are both exact IEEE scalings). The (ts, event_id) ordering
    * totalizes the frame, so both engines sort identical frames. */
  val rollingMedian: GraftQuery = GraftQuery(
    "ts_rolling_median",
    (s, dir) => {
      import s.implicits._
      // TWO-LEVEL (r14): the 15-row trailing frame materializes through
      // lastKCarried (bit-identical multiset → identical sorted array;
      // non-null `value` precondition holds on the fixture).
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_id", $"ts", $"value")
      lastKCarried(s, ev, "value", 15, "a15")
        .withColumn("arr", sort_array($"a15"))
        .withColumn("n_window", size($"arr"))
        .withColumn("roll_median", round(
          when($"n_window" % 2 === 1,
            element_at($"arr", (($"n_window" + 1) / 2).cast("int")))
          .otherwise((element_at($"arr", ($"n_window" / 2).cast("int"))
            + element_at($"arr", ($"n_window" / 2).cast("int") + 1)) / 2.0), 4))
        .select($"user_id", $"event_id", $"n_window", $"roll_median")
        .orderBy($"user_id", $"event_id")
    },
    Some("""SELECT user_id, event_id,
                   CAST(count(*) OVER w AS INT) AS n_window,
                   (round(median(value) OVER w, 4) + 0.0) AS roll_median
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
            ORDER BY user_id, event_id""")
  )

  /** CUSUM mean-shift changepoint score per user series (Page's
    * cumulative-sum chart): S_i = Σ_{j≤i} (v_j − μ_user); a sustained
    * mean shift makes |S| drift linearly, so max_i |S_i| is the
    * changepoint statistic and its arg max the estimated change index —
    * the standard first-pass drift detector on metric streams (rolling
    * z-scores catch spikes, CUSUM catches slow level shifts).
    *
    * Scale shape: per-user means are ONE hash aggregate joined back
    * shuffle_hash (O(users) rows, never broadcast); the running sum is
    * one window pass in the same user_id partitioning; the per-user
    * argmax is the two-phase hash-agg form (max, join back, min
    * event_id on ties — the graph_label_prop discipline).
    *
    * DETERMINISM — the interesting part. Two floating-point
    * formulations failed cross-engine at sf0.1 before this one:
    * Σ(v−μ) as a double window sum diverged because DuckDB aggregates
    * window frames through a SEGMENT TREE (pairwise association ≠
    * Spark's sequential running sum), and even with exact decimal
    * prefix sums, round(μ,4) split engines because means of 2-decimal
    * values are boundary-structured rationals (…49.19125 — Spark
    * rounds the double's shortest STRING, DuckDB the BINARY value:
    * the session-2 trap, now observed on a statistic). So the whole
    * statistic is computed in SCALED-INTEGER space: v100 = value·100
    * exactly (via DECIMAL cast), per-user totals T = Σv100 and
    * prefixes P_i are integer sums (associative — segment trees
    * can't hurt them), and n·S_i = |P_i·n − i·T| is pure integer
    * arithmetic. Peak and argmax are integer-exact; the two reported
    * doubles are single integer divisions TRUNCATED at 4 decimals in
    * integer space (x div y, then /10⁴) — no round(double) anywhere,
    * so there is no boundary to disagree on. */
  val cusum: GraftQuery = GraftQuery(
    "ts_cusum",
    (s, dir) => {
      import s.implicits._
      // TWO-LEVEL prefix device (r14, draining the hot-key plan rule):
      // the running integer prefix P_i and index i decompose exactly as
      // (previous days' totals) + (within-day running) — windows
      // partition by (user_id, day); the only per-user pass runs over
      // the per-(user, day) boundary table, which also carries the
      // per-user totals (t, n), so ONE (user_id, day) shuffle_hash join
      // replaces both the window sort and the old totals join. Integer
      // sums are association-free, so the decomposition is bit-exact.
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_id", $"ts",
          ($"value".cast("decimal(18,2)") * 100).cast("long").as("v100"),
          to_date($"ts").as("b"))
      val wb = Window.partitionBy($"user_id", $"b").orderBy($"ts", $"event_id")
      val local = ev
        .withColumn("ls", sum($"v100").over(
          wb.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("lrn", row_number().over(wb).cast("long"))
      val bounds = ev.groupBy($"user_id", $"b")
        .agg(sum($"v100").as("ds"), count(lit(1)).as("dn"))
      val wu = Window.partitionBy($"user_id").orderBy($"b")
      val wuAll = wu.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val carried = bounds
        .withColumn("pfx_s", coalesce(sum($"ds")
          .over(wu.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("pfx_n", coalesce(sum($"dn")
          .over(wu.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("t", sum($"ds").over(wuAll))
        .withColumn("n", sum($"dn").over(wuAll))
        .select($"user_id", $"b", $"pfx_s", $"pfx_n", $"t", $"n")
      val cusums = local.join(carried.hint("shuffle_hash"), Seq("user_id", "b"))
        .withColumn("d", abs(
          ($"pfx_s" + $"ls") * $"n" - ($"pfx_n" + $"lrn") * $"t"))
      val peak = cusums.groupBy($"user_id").agg(max($"d").as("peak"))
      cusums.join(peak.hint("shuffle_hash"), "user_id")
        .filter($"d" === $"peak")
        .groupBy($"user_id")
        .agg(min($"event_id").as("change_event"),
          (expr("first(peak * 100) div first(n)").cast("double") / 10000.0)
            .as("max_cusum"),
          (expr("first(t) * 100 div first(n)").cast("double") / 10000.0)
            .as("mu"))
        .orderBy($"user_id")
    },
    Some("""WITH ev AS (SELECT user_id, event_id, ts,
                               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                                 AS v100
                        FROM events),
              m AS (SELECT user_id, CAST(sum(v100) AS BIGINT) AS t,
                           count(*) AS n
                    FROM ev GROUP BY 1),
              c AS (SELECT e.user_id, e.event_id, m.t, m.n,
                           abs(CAST(sum(e.v100) OVER (
                                 PARTITION BY e.user_id ORDER BY e.ts, e.event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                                 AS BIGINT) * m.n
                               - row_number() OVER (
                                   PARTITION BY e.user_id ORDER BY e.ts, e.event_id)
                                 * m.t) AS d
                    FROM ev e JOIN m USING (user_id)),
              p AS (SELECT user_id, max(d) AS peak FROM c GROUP BY 1)
            SELECT user_id, min(event_id) AS change_event,
                   CAST(CAST(max(peak) * 100 AS BIGINT) // max(n) AS DOUBLE)
                     / 10000.0 AS max_cusum,
                   CAST(CAST(max(t) * 100 AS BIGINT) // max(n) AS DOUBLE)
                     / 10000.0 AS mu
            FROM c JOIN p USING (user_id)
            WHERE d = peak
            GROUP BY user_id ORDER BY user_id""")
  )

  /** Hour-of-day seasonal decomposition of the event stream: per
    * (event_type, hour) the seasonal mean/dispersion profile plus the
    * count of seasonal anomalies — values breaking the 2σ band around
    * their OWN hour's mean. The rolling z-score (ts_anomaly) flags
    * spikes against recent history; this flags values abnormal FOR THE
    * TIME OF DAY — the decomposition every metrics pipeline runs before
    * alerting on daily-periodic traffic.
    *
    * Scale shape: the profile is one hash aggregate onto a BOUNDED key
    * domain (types × 24); residual scoring re-reads the fact scan and
    * equi-joins the broadcast profile (tiny), so the fact table is
    * never shuffled — the ts_outlier_mad discipline. Anomaly
    * comparisons use the ROUNDED profile values, making the band edge
    * decision identical in both engines. */
  val seasonality: GraftQuery = GraftQuery(
    "ts_seasonality",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"event_type", hour($"ts").as("hod"), $"value")
      // Exact-arithmetic profile (the sf0.1 sweep class): value is
      // 2-decimal, so cents are exact BIGINT; mu is the truncated
      // scaled-integer mean and the sample variance is the EXACT rational
      // (n·Σc² − (Σc)²)/(n(n−1)) — one sqrt of an identical double in
      // both engines, instead of round(avg/stddev(double)) whose
      // boundary-structured means can split engines by an ulp. Σc² peaks
      // ~3e14 at sf0.1 (c ≤ 56021) — far inside BIGINT.
      val cents = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
      val prof = ev.groupBy($"event_type", $"hod")
        .agg(count(lit(1)).as("n"),
          (expr(s"(sum($cents) * 100) div count(1)").cast("double") / 10000.0)
            .as("mu"),
          round(sqrt(
            expr(s"CAST(count(1) * sum($cents * $cents) - sum($cents) * sum($cents) AS DOUBLE)")
              / (expr("CAST(count(1) AS DOUBLE)") * expr("CAST(count(1) - 1 AS DOUBLE)")))
            / 100.0, 4).as("sd"))
      ev.join(broadcast(prof), Seq("event_type", "hod"))
        .groupBy($"event_type", $"hod")
        .agg(first($"n").as("n"), first($"mu").as("mu"), first($"sd").as("sd"),
          sum(when(abs($"value" - $"mu") > lit(2.0) * $"sd", 1L).otherwise(0L))
            .as("n_anomalous"))
        .orderBy($"event_type", $"hod")
    },
    Some("""WITH c AS (
              SELECT event_type, hour(ts) AS hod, value,
                     CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cv
              FROM events),
            prof AS (
              SELECT event_type, hod, count(*) AS n,
                     CAST((sum(cv) * 100) // count(*) AS DOUBLE) / 10000.0 AS mu,
                     (round(sqrt(CAST(count(*) * sum(cv * cv) - sum(cv) * sum(cv) AS DOUBLE)
                                / (CAST(count(*) AS DOUBLE) * CAST(count(*) - 1 AS DOUBLE)))
                           / 100.0, 4) + 0.0) AS sd
              FROM c GROUP BY 1, 2)
            SELECT p.event_type, p.hod, p.n, p.mu, p.sd,
                   CAST(sum(CASE WHEN abs(e.value - p.mu) > 2.0 * p.sd
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous
            FROM events e
            JOIN prof p ON e.event_type = p.event_type AND hour(e.ts) = p.hod
            GROUP BY p.event_type, p.hod, p.n, p.mu, p.sd
            ORDER BY p.event_type, p.hod""")
  )

  /** Mann–Kendall trend test per event type over the daily-total series —
    * the nonparametric "is this metric actually trending?" check run
    * before anyone acts on a dashboard slope (no normality assumption, no
    * least squares; it counts concordant vs discordant day pairs).
    *
    * Determinism — EXACT INTEGERS: daily totals are cents-BIGINTs, so
    * S = Σ_{i<j} sign(v_j − v_i) is a sum of exact {−1,0,+1}; the
    * tie-corrected variance numerator n(n−1)(2n+5) − Σ t(t−1)(2t+5) is
    * BIGINT (emitted as var_x18 = 18·Var); the continuity-corrected z is
    * one sqrt over identical doubles. No round() anywhere (the KS/U
    * family convention).
    *
    * Scale shape: the fact table reduces to a CALENDAR-BOUNDED daily
    * series (one hash aggregate with map-side partials) before the pair
    * join — at 100 TB the self-join runs on |types| × |days| rows, not
    * events. The pair join keys on event_type (shuffle-hash) with the
    * day inequality as a residual — quadratic only in the bounded series
    * length, the standard MK cost model. */
  val mkTrend: GraftQuery = GraftQuery(
    "ts_mk_trend",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
        .agg(expr("sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))").as("v"))
        .localCheckpoint() // pair join + tie profile both read it
      val pairs = daily.as("a")
        .join(daily.as("b").hint("shuffle_hash"),
          $"a.event_type" === $"b.event_type" && $"a.day" < $"b.day")
        .groupBy($"a.event_type".as("event_type"))
        .agg(sum(signum($"b.v" - $"a.v").cast("long")).as("s"))
      val ties = daily.groupBy($"event_type", $"v")
        .agg(count(lit(1)).as("t"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_distinct"), sum($"t").as("n"),
          sum($"t" * ($"t" - 1L) * (lit(2L) * $"t" + 5L)).as("tie_term"))
      pairs.join(ties.hint("shuffle_hash"), "event_type")
        .select($"event_type", $"n", $"s",
          ($"n" * ($"n" - 1L) * (lit(2L) * $"n" + 5L) - $"tie_term").as("var_x18"),
          // continuity correction: z = (S ∓ 1)/sqrt(Var), 0 when S = 0
          (when($"s" > 0, $"s" - 1L).when($"s" < 0, $"s" + 1L).otherwise(0L)
            .cast("double")
            / sqrt(($"n" * ($"n" - 1L) * (lit(2L) * $"n" + 5L) - $"tie_term")
              .cast("double") / 18.0)).as("z"))
        .orderBy($"event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS day,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            s AS (
              SELECT a.event_type,
                     CAST(sum(CASE WHEN b.v > a.v THEN 1
                                   WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s
              FROM daily a JOIN daily b
                ON a.event_type = b.event_type AND a.day < b.day
              GROUP BY 1),
            ties AS (
              SELECT event_type, CAST(sum(t) AS BIGINT) AS n,
                     CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
              FROM (SELECT event_type, v, count(*) AS t FROM daily GROUP BY 1, 2)
              GROUP BY 1)
            SELECT s.event_type, n, s,
                   CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT) AS var_x18,
                   CAST(CASE WHEN s > 0 THEN s - 1
                             WHEN s < 0 THEN s + 1 ELSE 0 END AS DOUBLE)
                     / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0) AS z
            FROM s JOIN ties USING (event_type)
            ORDER BY event_type""")
  )

  /** Theil–Sen robust slope per event type — the MAGNITUDE companion to
    * ts_mk_trend's significance test: the median of all pairwise daily
    * slopes, immune to outlier days that wreck a least-squares fit (one
    * corrupted ingestion day moves OLS arbitrarily; it moves one slope
    * among C(n,2)).
    *
    * Determinism: every pairwise slope is the exact rational
    * (v_j − v_i) / (d_j − d_i) in cents/day (BIGINT num, positive
    * BIGINT den); the median is selected by ORDERING on the slope's
    * double image (identical integer inputs → identical doubles in both
    * engines) with a deterministic (day_i, day_j) tiebreak, and the
    * row_number pick at ceil(n/2) is the lower median — a SELECTION, so
    * the output carries the chosen pair's exact num/den alongside the
    * one-division double. No round() anywhere.
    *
    * Scale shape: same as ts_mk_trend — the fact table reduces to the
    * calendar-bounded daily series before the pair join; the median
    * window sorts |types| × C(|days|, 2) rows (bounded), never events. */
  val theilSen: GraftQuery = GraftQuery(
    "ts_theilsen",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
        .agg(expr("sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))").as("v"))
        .localCheckpoint()
      val pairs = daily.as("a")
        .join(daily.as("b").hint("shuffle_hash"),
          $"a.event_type" === $"b.event_type" && $"a.day" < $"b.day")
        .select($"a.event_type".as("event_type"),
          ($"b.v" - $"a.v").as("num"),
          expr("CAST(datediff(b.day, a.day) AS BIGINT)").as("den"),
          $"a.day".as("d1"), $"b.day".as("d2"))
        .withColumn("slope", $"num".cast("double") / $"den".cast("double"))
      val w = Window.partitionBy($"event_type")
        .orderBy($"slope", $"d1", $"d2")
      pairs
        .withColumn("rn", row_number().over(w))
        .withColumn("n_pairs", count(lit(1)).over(
          Window.partitionBy($"event_type")))
        .filter($"rn" === expr("(n_pairs + 1) div 2"))
        .select($"event_type", $"n_pairs", $"num".as("slope_num"),
          $"den".as("slope_den"), $"slope")
        .orderBy($"event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS day,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            pairs AS (
              SELECT a.event_type,
                     b.v - a.v AS num,
                     CAST(datediff('day', a.day, b.day) AS BIGINT) AS den,
                     a.day AS d1, b.day AS d2,
                     CAST(b.v - a.v AS DOUBLE)
                       / CAST(datediff('day', a.day, b.day) AS DOUBLE) AS slope
              FROM daily a JOIN daily b
                ON a.event_type = b.event_type AND a.day < b.day),
            ranked AS (
              SELECT *,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY slope, d1, d2) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n_pairs
              FROM pairs)
            SELECT event_type, n_pairs, num AS slope_num, den AS slope_den, slope
            FROM ranked WHERE rn = (n_pairs + 1) // 2
            ORDER BY event_type""")
  )

  /** Sample autocorrelation of the daily revenue series per event type
    * at calendar lags 1–7 — "does today predict tomorrow, and is there
    * a weekly echo?", the diagnostic read before fitting any seasonal
    * model (ts_seasonality profiles the weekday MEANS; ACF measures how
    * much serial structure is there at all).
    *
    * Determinism — EXACT INTEGERS: daily values are BIGINT cent sums;
    * centering at scale n replaces y_d − S/n with u_d = n·y_d − S
    * (BIGINT — multiplying num and den by n² cancels), so
    * acf(l) = Σ u_d·u_{d+l} / Σ u_d² is a ratio of BIGINTs and the
    * double is one division of identical integers. u² peaks ~1e16 at
    * sf0.1 — inside BIGINT; at 100× shift the accumulator to
    * DECIMAL(38,0) (the agg_gini note). Lags are CALENDAR days (a
    * missing day drops its pairs rather than shifting the series —
    * index-lag ACF silently splices across gaps).
    *
    * Scale shape: the fact scan reduces to the bounded type × day
    * domain in one map-side-combined aggregate; the per-type stats
    * broadcast back, and the lag join runs on |types|·|days|·|lags|
    * domain rows. 100 TB of events never reaches the join. */
  /** The (event_type, lag, acf_num, acf_den, acf) frame for lags 1–7 —
    * shared by ts_acf (which emits it) and ts_pacf (which solves the
    * Durbin–Levinson recursion over its ρ values). */
  private def acfFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(expr("sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))").as("v"))
    val stats = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"),
        max(abs($"v")).as("mv")) // overflow-guard bound
    // |u| ≤ 2·n·max|v| so Σu² ≤ 4n³·max|v|²: enforce the documented
    // BIGINT headroom on the bounded day domain (GraftQuery.guarded —
    // raise, never wrap; the check is one comparison per DAY row).
    val safe = lit(4.0) * pow($"n".cast("double"), 3.0) *
      pow($"mv".cast("double"), 2.0) < 9.0e18
    val u = daily.join(broadcast(stats), "event_type")
      .select($"event_type", $"d",
        graft.GraftQuery.guarded($"n" * $"v" - $"sv", safe,
          "ts_acf: BIGINT u²/den accumulators near overflow — " +
            "shift to DECIMAL(38,0)").as("u"))
      .localCheckpoint() // lag join + denominator both read it
    val den = u.groupBy($"event_type").agg(sum($"u" * $"u").as("acf_den"))
    val lags = s.range(1, 8).select($"id".cast("int").as("lag"))
    u.as("a").crossJoin(broadcast(lags))
      .join(u.as("b").hint("shuffle_hash"),
        $"a.event_type" === $"b.event_type"
          && $"b.d" === date_add($"a.d", $"lag"))
      .groupBy($"a.event_type".as("event_type"), $"lag")
      .agg(sum($"a.u" * $"b.u").as("acf_num"))
      .join(broadcast(den), "event_type")
      .select($"event_type", $"lag", $"acf_num", $"acf_den",
        ($"acf_num".cast("double") / $"acf_den".cast("double")).as("acf"))
  }

  /** The shared acf CTE chain (daily → u → den → per-lag ρ) — composed
    * by the ts_acf and ts_pacf oracles. Ends in
    * rho(event_type, lag, acf_num, acf_den, acf). */
  private val acfOracleCte =
    """daily AS (
         SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
         FROM events GROUP BY 1, 2),
       st AS (
         SELECT event_type, count(*) AS n, CAST(sum(v) AS BIGINT) AS sv
         FROM daily GROUP BY 1),
       u AS (
         SELECT daily.event_type, d, CAST(n * v - sv AS BIGINT) AS u
         FROM daily JOIN st USING (event_type)),
       den AS (
         SELECT event_type, CAST(sum(u * u) AS BIGINT) AS acf_den
         FROM u GROUP BY 1),
       lags(lag) AS (VALUES (1), (2), (3), (4), (5), (6), (7)),
       rho AS (
         SELECT a.event_type, lag,
                CAST(sum(a.u * b.u) AS BIGINT) AS acf_num, acf_den,
                CAST(sum(a.u * b.u) AS DOUBLE) / CAST(acf_den AS DOUBLE) AS acf
         FROM u a CROSS JOIN lags
              JOIN u b ON a.event_type = b.event_type AND b.d = a.d + lag
              JOIN den ON den.event_type = a.event_type
         GROUP BY 1, 2, acf_den)"""

  val acf: GraftQuery = GraftQuery(
    "ts_acf",
    (s, dir) => {
      import s.implicits._
      acfFrame(s, dir).orderBy($"event_type", $"lag")
    },
    Some(s"""WITH $acfOracleCte
             SELECT event_type, lag, acf_num, acf_den, acf
             FROM rho ORDER BY 1, 2""")
  )

  /** Partial autocorrelation (lags 1–4) per event type — "is the lag-7
    * echo REAL structure or just lag-1 persistence compounding?": PACF
    * at lag k is the correlation left after regressing out lags 1..k−1,
    * the statistic that picks the AR order (Box–Jenkins) where raw ACF
    * can't distinguish propagation from memory.
    *
    * Determinism: the ρ inputs are ts_acf's exact BIGINT ratios (same
    * shared frame), and the Durbin–Levinson recursion is UNROLLED to
    * lag 4 as a fixed chain of named intermediates — identical scalar
    * expression trees over identical doubles in both engines (the
    * Welch-t convention; no iteration, no accumulation). PACF(1) = ρ1
    * by definition.
    *
    * Scale shape: everything after the shared domain-bounded acf frame
    * is a |types|-row pivot + projection. */
  val pacf: GraftQuery = GraftQuery(
    "ts_pacf",
    (s, dir) => {
      import s.implicits._
      def rho(k: Int) = max(when($"lag" === k, $"acf")).as(s"r$k")
      val wide = acfFrame(s, dir)
        .groupBy($"event_type").agg(rho(1), rho(2), rho(3), rho(4))
        .withColumn("phi11", $"r1")
        .withColumn("phi22",
          ($"r2" - $"r1" * $"r1") / (lit(1.0) - $"r1" * $"r1"))
        .withColumn("phi21", $"r1" - $"phi22" * $"r1")
        .withColumn("phi33",
          ($"r3" - $"phi21" * $"r2" - $"phi22" * $"r1")
            / (lit(1.0) - $"phi21" * $"r1" - $"phi22" * $"r2"))
        .withColumn("phi32", $"phi22" - $"phi33" * $"phi21")
        .withColumn("phi31", $"phi21" - $"phi33" * $"phi22")
        .withColumn("phi44",
          ($"r4" - $"phi31" * $"r3" - $"phi32" * $"r2" - $"phi33" * $"r1")
            / (lit(1.0) - $"phi31" * $"r1" - $"phi32" * $"r2" - $"phi33" * $"r3"))
      wide.select($"event_type", expr(
          "stack(4, 1, phi11, 2, phi22, 3, phi33, 4, phi44) AS (lag, pacf)"))
        .orderBy($"event_type", $"lag")
    },
    Some(s"""WITH $acfOracleCte,
            wide AS (
              SELECT event_type,
                     max(CASE WHEN lag = 1 THEN acf END) AS r1,
                     max(CASE WHEN lag = 2 THEN acf END) AS r2,
                     max(CASE WHEN lag = 3 THEN acf END) AS r3,
                     max(CASE WHEN lag = 4 THEN acf END) AS r4
              FROM rho GROUP BY 1),
            s1 AS (SELECT *, r1 AS phi11,
                          (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22
                   FROM wide),
            s2 AS (SELECT *, r1 - phi22 * r1 AS phi21 FROM s1),
            s3 AS (SELECT *,
                          (r3 - phi21 * r2 - phi22 * r1)
                            / (1.0 - phi21 * r1 - phi22 * r2) AS phi33
                   FROM s2),
            s4 AS (SELECT *, phi22 - phi33 * phi21 AS phi32,
                          phi21 - phi33 * phi22 AS phi31
                   FROM s3),
            s5 AS (SELECT *,
                          (r4 - phi31 * r3 - phi32 * r2 - phi33 * r1)
                            / (1.0 - phi31 * r1 - phi32 * r2 - phi33 * r3) AS phi44
                   FROM s4)
            SELECT event_type, lag, pacf FROM (
              SELECT event_type, 1 AS lag, phi11 AS pacf FROM s5
              UNION ALL SELECT event_type, 2, phi22 FROM s5
              UNION ALL SELECT event_type, 3, phi33 FROM s5
              UNION ALL SELECT event_type, 4, phi44 FROM s5)
            ORDER BY event_type, lag""")
  )

  /** Single least-squares changepoint (AMOC) per event type over the
    * daily revenue series — "WHEN did this metric shift?", the follow-up
    * to ts_cusum's "did it shift?" alarm. The split t maximizing the
    * between-segment variance reduction is, after clearing denominators,
    * argmax of gain(t) = (n·C_t − t·S)² / (t·(n−t)) over prefix sums
    * C_t — the classic binary-segmentation step run once.
    *
    * Determinism: a_t = n·C_t − t·S is EXACT BIGINT (peaks ~3e9 at
    * sf0.1); gain is the double fold a²/den of identical integers —
    * a² stays in DOUBLE (in BIGINT it would sit exactly at the 9.2e18
    * overflow edge), which is deterministic because both engines
    * multiply the same double; the argmax is the two-phase max +
    * equi-join-back form (never a struct-max) with the EARLIEST day as
    * tiebreak, and the output carries the exact integer pieces
    * (gain_num, gain_den, segment-mean rationals) alongside the one
    * double division each.
    *
    * Scale shape: the fact table reduces to the bounded type × day
    * domain in one aggregate; the prefix window, argmax and join-back
    * all run on |types| × |days| rows. */
  /** The AMOC gain-argmax fold over a (event_type, d, v) daily frame —
    * shared by ts_changepoint and its micro-batch twin
    * stream_changepoint (whose per-wave partials merge into the
    * identical daily frame before this fold). */
  private[graft] def changepointFold(daily: DataFrame): DataFrame = {
    import daily.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    {
      val stats = daily.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
      val w = Window.partitionBy($"event_type").orderBy($"d")
      val splits = daily
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("c", sum($"v").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .join(broadcast(stats), "event_type")
        .filter($"t" < $"n") // a split leaves both segments non-empty
        .withColumn("a", $"n" * $"c" - $"t" * $"sv")
        .withColumn("den", $"t" * ($"n" - $"t"))
        .withColumn("gain",
          $"a".cast("double") * $"a".cast("double") / $"den".cast("double"))
        .localCheckpoint() // argmax + join-back both read it
      // Two-phase argmax (never a struct-min — struct buffers force
      // SortAggregate): max gain per type, equi-join back, then the
      // earliest tied day selected the same way.
      val best = splits.groupBy($"event_type").agg(max($"gain").as("mg"))
      val tied = splits.join(broadcast(best), "event_type")
        .filter($"gain" === $"mg")
        .localCheckpoint() // day-min + join-back both read it
      val firstDay = tied.groupBy($"event_type").agg(min($"d").as("d"))
      tied.join(broadcast(firstDay), Seq("event_type", "d"))
        .select($"event_type", $"n", $"t".as("cp_t"), $"d".as("cp_day"),
          $"a".as("gain_num"), $"den".as("gain_den"), $"gain",
          $"c".as("lsum"), ($"sv" - $"c").as("rsum"),
          ($"c".cast("double") / $"t".cast("double")).as("lmean"),
          (($"sv" - $"c").cast("double")
            / ($"n" - $"t").cast("double")).as("rmean"))
        .orderBy($"event_type")
    }
  }

  /** The (event_type, d, v) daily cent-sum frame the changepoint fold
    * consumes — also the unit of stream_changepoint's wave partials. */
  private[graft] def changepointDaily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(expr("sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))").as("v"))
  }

  val changepoint: GraftQuery = GraftQuery(
    "ts_changepoint",
    (s, dir) => changepointFold(changepointDaily(s, dir)),
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            st AS (
              SELECT event_type, count(*) AS n, CAST(sum(v) AS BIGINT) AS sv
              FROM daily GROUP BY 1),
            splits AS (
              SELECT daily.event_type, d, n, sv,
                     CAST(row_number() OVER (PARTITION BY daily.event_type ORDER BY d)
                          AS BIGINT) AS t,
                     CAST(sum(v) OVER (PARTITION BY daily.event_type ORDER BY d
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS c
              FROM daily JOIN st USING (event_type)),
            gains AS (
              SELECT *, CAST(n * c - t * sv AS BIGINT) AS a,
                     CAST(t * (n - t) AS BIGINT) AS den,
                     CAST(n * c - t * sv AS DOUBLE) * CAST(n * c - t * sv AS DOUBLE)
                       / CAST(t * (n - t) AS DOUBLE) AS gain
              FROM splits WHERE t < n),
            best AS (SELECT event_type, max(gain) AS mg FROM gains GROUP BY 1),
            pick AS (
              SELECT g.*, row_number() OVER (PARTITION BY g.event_type ORDER BY d) AS rn
              FROM gains g JOIN best USING (event_type) WHERE gain = mg)
            SELECT event_type, n, t AS cp_t, cp_day, gain_num, gain_den, gain,
                   lsum, rsum,
                   CAST(lsum AS DOUBLE) / CAST(t AS DOUBLE) AS lmean,
                   CAST(rsum AS DOUBLE) / CAST(n - t AS DOUBLE) AS rmean
            FROM (SELECT event_type, n, t, d AS cp_day, a AS gain_num, den AS gain_den,
                         gain, c AS lsum, CAST(sv - c AS BIGINT) AS rsum
                  FROM pick WHERE rn = 1) q
            ORDER BY event_type""")
  )

  /** Local peaks in the daily revenue series per event type — the
    * alert-shortlist primitive ("which days spiked?"): a peak is a day
    * strictly above BOTH neighboring OBSERVATIONS (the nearest present
    * days, a deliberate choice: across a missing calendar day the
    * comparison spans the gap, which is the usual peak semantics on an
    * irregularly-sampled series — ts_streaks, whose "days in a row"
    * doc requires calendar adjacency, breaks runs at gaps instead).
    * Robust to the level (unlike a global threshold) and feeds
    * ts_anomaly's z-score with candidates. Exact: BIGINT cent
    * comparisons against lag/lead over the bounded type×day domain;
    * series endpoints (no neighbor) are not peaks, matching the
    * oracle's null-comparison semantics. */
  val peaks: GraftQuery = GraftQuery(
    "ts_peaks",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"event_type").orderBy($"d")
      changepointDaily(s, dir)
        .withColumn("pv", lag($"v", 1).over(w))
        .withColumn("nv", lead($"v", 1).over(w))
        .filter($"v" > $"pv" && $"v" > $"nv")
        .select($"event_type", $"d".as("peak_day"), $"v".as("cents"),
          ($"v" - $"pv").as("rise"), ($"v" - $"nv").as("fall"))
        .orderBy($"event_type", $"peak_day")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            x AS (
              SELECT event_type, d, v,
                     lag(v) OVER (PARTITION BY event_type ORDER BY d) AS pv,
                     lead(v) OVER (PARTITION BY event_type ORDER BY d) AS nv
              FROM daily)
            SELECT event_type, d AS peak_day, v AS cents,
                   CAST(v - pv AS BIGINT) AS rise, CAST(v - nv AS BIGINT) AS fall
            FROM x WHERE v > pv AND v > nv
            ORDER BY event_type, peak_day""")
  )

  /** Longest strictly-increasing run of daily revenue per event type —
    * the momentum readout ("how many days in a row has this grown, and
    * what was the longest streak?"): gaps-and-islands over the daily
    * series, the same device ts_sessionize applies to user activity.
    * "Days in a row" means consecutive CALENDAR days: a run breaks on a
    * value drop or a missing day (unlike ts_peaks, which deliberately
    * compares nearest observations across gaps). Exact: run boundaries
    * are BIGINT/date comparisons; the island id is a running sum of
    * break flags; earliest-start tiebreak makes the reported streak
    * unique. */
  val streaks: GraftQuery = GraftQuery(
    "ts_streaks",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"event_type").orderBy($"d")
      val runs = changepointDaily(s, dir)
        // A run breaks on a value drop OR a calendar gap: "days in a row"
        // means consecutive calendar days, so a missing day must not
        // splice two increasing runs into one (the ts_acf calendar-lag
        // convention applied to islands).
        .withColumn("up",
          when(lag($"v", 1).over(w).isNull || $"v" <= lag($"v", 1).over(w)
              || datediff($"d", lag($"d", 1).over(w)) =!= 1, 1L)
            .otherwise(0L))
        .withColumn("run_id",
          sum($"up").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy($"event_type", $"run_id")
        .agg(count(lit(1)).as("len"), min($"d").as("run_start"),
          max($"d").as("run_end"))
        .localCheckpoint() // argmax + join-back both read it
      val best = runs.groupBy($"event_type").agg(max($"len").as("ml"))
      val tied = runs.join(broadcast(best), "event_type")
        .filter($"len" === $"ml")
      val first = tied.groupBy($"event_type").agg(min($"run_start").as("run_start"))
      tied.join(broadcast(first), Seq("event_type", "run_start"))
        .select($"event_type", $"len".as("streak_days"), $"run_start", $"run_end")
        .orderBy($"event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            f AS (
              SELECT event_type, d, v,
                     CASE WHEN lag(v) OVER (PARTITION BY event_type ORDER BY d) IS NULL
                               OR v <= lag(v) OVER (PARTITION BY event_type ORDER BY d)
                               OR date_diff('day',
                                    lag(d) OVER (PARTITION BY event_type ORDER BY d),
                                    d) <> 1
                          THEN 1 ELSE 0 END AS up
              FROM daily),
            r AS (
              SELECT event_type, d,
                     sum(up) OVER (PARTITION BY event_type ORDER BY d
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
              FROM f),
            runs AS (
              SELECT event_type, run_id, count(*) AS len,
                     min(d) AS run_start, max(d) AS run_end
              FROM r GROUP BY 1, 2),
            best AS (SELECT event_type, max(len) AS ml FROM runs GROUP BY 1),
            tied AS (SELECT runs.* FROM runs JOIN best USING (event_type)
                     WHERE len = ml),
            first AS (SELECT event_type, min(run_start) AS run_start
                      FROM tied GROUP BY 1)
            SELECT event_type, CAST(len AS BIGINT) AS streak_days, run_start, run_end
            FROM tied JOIN first USING (event_type, run_start)
            ORDER BY event_type""")
  )

  /** Holt's linear-trend smoothing parameters and truncated-kernel
    * coefficients, shared by the query, the oracle, and HoltSpec's
    * exact-recursion reference. The recursion
    *   l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    * is LINEAR in the inputs, so the contribution of x_{t−i} to
    * (l_t, b_t) is A^i · (α, αβ) with the zero-input transition
    *   A = [[1−α, 1−α], [−αβ, β(1−α) + 1−β]]
    * — computed once driver-side and embedded as the SAME double
    * literals in both engines (the ts_ewma device: a fixed K-term
    * lag-window sum folded left-to-right is identical doubles across
    * engines; a sequential per-row state fold is not even expressible
    * as one window). Truncation at K: dropped terms decay with A's
    * spectral radius (≈0.66 at α=0.5, β=0.3 — HoltSpec measures the
    * residual vs the exact recursion). */
  private[graft] val HoltAlpha = 0.5
  private[graft] val HoltBeta = 0.3
  private[graft] val HoltK = 12
  private[graft] def holtWeights: Seq[(Double, Double)] = {
    val a = HoltAlpha; val b = HoltBeta
    // A^i · (α, αβ), i = 0 .. K-1
    Iterator.iterate((a, a * b)) { case (l, t) =>
      val l2 = (1 - a) * (l + t)
      (l2, b * (l2 - l) + (1 - b) * t)
    }.take(HoltK).toSeq
  }

  /** Damped-trend (Gardner–McKenzie) smoothing: every trend read is
    * scaled by φ < 1, so forecasts flatten toward a finite asymptote
    * instead of extrapolating the last trend forever —
    *   l_t = α·x_t + (1−α)(l_{t−1} + φ·b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)·φ·b_{t−1}
    * Still linear in the inputs, so the ts_holt kernel device carries
    * verbatim with the φ-scaled transition; damping SHRINKS A's spectral
    * radius, so the K-term truncation is strictly tighter than
    * undamped Holt's (HoltSpec measures both residuals). */
  private[graft] val HoltPhi = 0.85
  private[graft] def holtDampedWeights: Seq[(Double, Double)] = {
    val a = HoltAlpha; val b = HoltBeta; val p = HoltPhi
    Iterator.iterate((a, a * b)) { case (l, t) =>
      val l2 = (1 - a) * (l + p * t)
      (l2, b * (l2 - l) + (1 - b) * p * t)
    }.take(HoltK).toSeq
  }

  /** Holt linear-trend level/trend/one-step forecast on the daily
    * revenue series per event type — ts_ewma's generalization (EWMA
    * tracks a level; Holt also tracks where it is HEADING, the default
    * short-horizon capacity/traffic forecast). Emitted only for days
    * with a full K-lag window (warm-up rows are initialization fuzz in
    * any Holt implementation; the truncated kernel makes that contract
    * explicit).
    *
    * Scale shape: the series is the bounded (type, day) domain — one
    * corpus-sized hash aggregate, then a K-term lag window inside one
    * window spec (one shuffle on event_type, whole-stage codegen over
    * the fixed expression; no sequential state fold anywhere). */
  val holt: GraftQuery = GraftQuery(
    "ts_holt",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"event_type").orderBy($"d")
      val x = (i: Int) => lag($"v", i).over(w).cast("double")
      val level = holtWeights.zipWithIndex
        .map { case ((cl, _), i) => x(i) * lit(cl) }.reduce(_ + _)
      val trend = holtWeights.zipWithIndex
        .map { case ((_, cb), i) => x(i) * lit(cb) }.reduce(_ + _)
      changepointDaily(s, dir)
        .withColumn("level", level)
        .withColumn("trend", trend)
        .withColumn("warm", lag($"v", HoltK - 1).over(w))
        .filter($"warm".isNotNull)
        .select($"event_type", $"d",
          round($"level", 4).as("holt_level"),
          round($"trend", 4).as("holt_trend"),
          round($"level" + $"trend", 4).as("forecast_next"))
        .orderBy($"event_type", $"d")
    },
    Some {
      // CAST both sides to DOUBLE: a bare decimal literal parses as
      // DECIMAL in DuckDB and the whole chain would land in DECIMAL(38,4)
      // instead of the DOUBLE arithmetic Spark runs.
      val lvl = holtWeights.zipWithIndex
        .map { case ((cl, _), i) =>
          s"CAST(lag(v, $i) OVER w AS DOUBLE) * CAST($cl AS DOUBLE)" }
        .mkString(" + ")
      val trd = holtWeights.zipWithIndex
        .map { case ((_, cb), i) =>
          s"CAST(lag(v, $i) OVER w AS DOUBLE) * CAST($cb AS DOUBLE)" }
        .mkString(" + ")
      s"""WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                   CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
            FROM events GROUP BY 1, 2),
          h AS (
            SELECT event_type, d,
                   $lvl AS level, $trd AS trend,
                   lag(v, ${HoltK - 1}) OVER w AS warm
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d))
          SELECT event_type, d, (round(level, 4) + 0.0) AS holt_level,
                 (round(trend, 4) + 0.0) AS holt_trend,
                 (round(level + trend, 4) + 0.0) AS forecast_next
          FROM h WHERE warm IS NOT NULL
          ORDER BY event_type, d"""
    }
  )

  /** Damped-trend Holt forecast per event type — the variant that wins
    * forecasting competitions on business series (M3/M4: the damped
    * trend is the single best-performing classical method): plain Holt
    * extrapolates the last local trend FOREVER, which over-forecasts any
    * series whose growth saturates; damping multiplies each further
    * trend step by φ so the h-step forecast approaches the finite
    * asymptote level + φ/(1−φ)·trend. Emits level, damped trend, the
    * one-step forecast (level + φ·trend) and that asymptote — the
    * capacity-planning number plain Holt cannot produce.
    *
    * Same truncated-kernel device and scale shape as ts_holt (one
    * corpus-sized hash aggregate onto the (type, day) domain, one
    * K-lag window, identical double literals in both engines); the
    * φ-scaled transition matrix strictly shrinks the spectral radius,
    * so truncation error is tighter than undamped Holt's at equal K. */
  val holtDamped: GraftQuery = GraftQuery(
    "ts_holt_damped",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"event_type").orderBy($"d")
      val x = (i: Int) => lag($"v", i).over(w).cast("double")
      val level = holtDampedWeights.zipWithIndex
        .map { case ((cl, _), i) => x(i) * lit(cl) }.reduce(_ + _)
      val trend = holtDampedWeights.zipWithIndex
        .map { case ((_, cb), i) => x(i) * lit(cb) }.reduce(_ + _)
      changepointDaily(s, dir)
        .withColumn("level", level)
        .withColumn("trend", trend)
        .withColumn("warm", lag($"v", HoltK - 1).over(w))
        .filter($"warm".isNotNull)
        .select($"event_type", $"d",
          round($"level", 4).as("hd_level"),
          round($"trend", 4).as("hd_trend"),
          round($"level" + lit(HoltPhi) * $"trend", 4).as("forecast_next"),
          round($"level" + lit(HoltPhi / (1 - HoltPhi)) * $"trend", 4)
            .as("forecast_asymptote"))
        .orderBy($"event_type", $"d")
    },
    Some {
      val lvl = holtDampedWeights.zipWithIndex
        .map { case ((cl, _), i) =>
          s"CAST(lag(v, $i) OVER w AS DOUBLE) * CAST($cl AS DOUBLE)" }
        .mkString(" + ")
      val trd = holtDampedWeights.zipWithIndex
        .map { case ((_, cb), i) =>
          s"CAST(lag(v, $i) OVER w AS DOUBLE) * CAST($cb AS DOUBLE)" }
        .mkString(" + ")
      s"""WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                   CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
            FROM events GROUP BY 1, 2),
          h AS (
            SELECT event_type, d,
                   $lvl AS level, $trd AS trend,
                   lag(v, ${HoltK - 1}) OVER w AS warm
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d))
          SELECT event_type, d, (round(level, 4) + 0.0) AS hd_level,
                 (round(trend, 4) + 0.0) AS hd_trend,
                 (round(level + CAST($HoltPhi AS DOUBLE) * trend, 4) + 0.0) AS forecast_next,
                 (round(level + CAST(${HoltPhi / (1 - HoltPhi)} AS DOUBLE) * trend, 4) + 0.0)
                   AS forecast_asymptote
          FROM h WHERE warm IS NOT NULL
          ORDER BY event_type, d"""
    }
  )

  /** Croston smoothing constant and kernel depth, shared by the query,
    * the oracle, and the spec's exact-recursion reference. */
  private[graft] val CrAlpha = 0.3
  private[graft] val CrK = 8

  /** Croston's method for INTERMITTENT demand — the forecast for series
    * that are mostly zero (spare parts, long-tail SKUs, rare-event
    * volumes), where Holt/EWMA on the raw daily series collapses toward
    * zero between demands and spikes at each one: Croston smooths TWO
    * series defined only on demand days — the nonzero demand SIZE and
    * the inter-demand INTERVAL — and forecasts size/interval demand per
    * day. Series here: per-brand daily shipped quantity off lineitem
    * (the part catalog's brand rollup makes a genuinely sparse
    * demand calendar at small SF — the regime Croston exists for).
    *
    * Both smoothers are the ts_ewma zero-init truncated kernel
    * (α(1−α)^i over the last K demand days; dropped mass (1−α)^K ≈ 6%)
    * on the DEMAND-DAY subseries — the row filter is the method: rows
    * ARE demand days, so plain row-lags implement the "update only on
    * demand" recursion exactly; the interval series is one datediff
    * lag. Emitted once per brand (the latest demand day) after a full
    * K+1-day warm-up.
    *
    * Scale shape: the fact scan reduces in one hash aggregate to the
    * (brand, day) demand calendar; the part dimension joins on partkey
    * by SIZE-BASED planning (a scanned table with stats: broadcast
    * while it fits — the plan here — and shuffle once the catalog
    * outgrows the threshold; no hint needed either way); both kernels
    * ride ONE partitioned window; the final pick is a row_number over
    * the same partitioning. */
  val croston: GraftQuery = GraftQuery(
    "ts_croston",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val weights = (0 until CrK).map(i => CrAlpha * math.pow(1 - CrAlpha, i))
      val w = Window.partitionBy($"brand").orderBy($"d")
      val daily = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).select($"p_partkey", $"p_brand".as("brand")),
          $"l_partkey" === $"p_partkey")
        .groupBy($"brand", to_date($"l_shipdate").as("d"))
        .agg(expr("CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)").as("qty"))
      val size = weights.zipWithIndex
        .map { case (wt, i) => lag($"qty", i).over(w).cast("double") * lit(wt) }
        .reduce(_ + _)
      val interval = weights.zipWithIndex
        .map { case (wt, i) => lag($"q", i).over(w).cast("double") * lit(wt) }
        .reduce(_ + _)
      daily
        .withColumn("q", datediff($"d", lag($"d", 1).over(w)))
        .withColumn("z", size)
        .withColumn("p", interval)
        .withColumn("warm", lag($"d", CrK).over(w))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"brand").orderBy($"d".desc)))
        .filter($"rn" === 1 && $"warm".isNotNull)
        .select($"brand", $"d".as("d_last"),
          round($"z", 4).as("croston_size"),
          round($"p", 4).as("croston_interval"),
          round($"z" / $"p", 4).as("forecast_daily"))
        .orderBy($"brand")
    },
    Some {
      val weights = (0 until CrK).map(i => CrAlpha * math.pow(1 - CrAlpha, i))
      val size = weights.zipWithIndex.map { case (wt, i) =>
        s"CAST(lag(qty, $i) OVER w AS DOUBLE) * CAST($wt AS DOUBLE)" }
        .mkString(" + ")
      val interval = weights.zipWithIndex.map { case (wt, i) =>
        s"CAST(lag(q, $i) OVER w AS DOUBLE) * CAST($wt AS DOUBLE)" }
        .mkString(" + ")
      s"""WITH daily AS (
            SELECT p_brand AS brand, CAST(l_shipdate AS DATE) AS d,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1, 2),
          k AS (
            SELECT brand, d, qty,
                   datediff('day', lag(d, 1) OVER w, d) AS q,
                   lag(d, $CrK) OVER w AS warm,
                   row_number() OVER (PARTITION BY brand ORDER BY d DESC) AS rn
            FROM daily
            WINDOW w AS (PARTITION BY brand ORDER BY d)),
          sm AS (
            SELECT brand, d, rn, warm,
                   $size AS z, $interval AS p
            FROM k
            WINDOW w AS (PARTITION BY brand ORDER BY d))
          SELECT brand, d AS d_last,
                 (round(z, 4) + 0.0) AS croston_size,
                 (round(p, 4) + 0.0) AS croston_interval,
                 (round(z / p, 4) + 0.0) AS forecast_daily
          FROM sm WHERE rn = 1 AND warm IS NOT NULL
          ORDER BY brand"""
    }
  )

  /** Syntetos–Boylan demand-pattern classification — the router in
    * front of ts_croston: ADI (average inter-demand interval) and CV²
    * (squared coefficient of variation of demand sizes) cut the
    * (1.32, 0.49) quadrants into smooth / erratic / intermittent /
    * lumpy, which decides the forecasting method per series (smooth →
    * Holt/EWMA, intermittent → Croston, lumpy → Croston variants or
    * aggregation). Every inventory system runs this classification
    * before it forecasts anything.
    *
    * EXACT RATIONALS end to end: ADI = (span of demand days)/(n−1) —
    * two BIGINTs, one division; CV² = (n·Σx² − (Σx)²)/(Σx)² —
    * population variance over squared mean as one division of BIGINT
    * folds (the ts_ols convention), with the n·Σx² headroom riding
    * GraftQuery.guarded. The quadrant compares are identical doubles
    * against shared literals, so the class labels cannot drift between
    * engines. One hash aggregate onto the (brand, day) calendar, one
    * fold per brand — 100 TB never leaves the first aggregate. */
  val intermittency: GraftQuery = GraftQuery(
    "ts_intermittency",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).select($"p_partkey", $"p_brand".as("brand")),
          $"l_partkey" === $"p_partkey")
        .groupBy($"brand", to_date($"l_shipdate").as("d"))
        .agg(expr("CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)").as("qty"))
      val agg = daily.groupBy($"brand")
        .agg(count(lit(1)).as("n"),
          expr("CAST(datediff(max(d), min(d)) AS BIGINT)").as("span"),
          sum($"qty").as("sx"), sum($"qty" * $"qty").as("sxx"),
          max($"qty").as("mx"))
        .filter($"n" >= 2L)
      val safe = pow($"n".cast("double"), 2.0) *
        pow($"mx".cast("double"), 2.0) < 9.0e18
      val g = (c: org.apache.spark.sql.Column) => graft.GraftQuery.guarded(
        c, safe, "ts_intermittency: BIGINT size folds near overflow — " +
          "shift to DECIMAL(38,0)")
      agg
        .withColumn("adi",
          $"span".cast("double") / ($"n" - 1L).cast("double"))
        .withColumn("cv2",
          g($"n" * $"sxx" - $"sx" * $"sx").cast("double")
            / ($"sx" * $"sx").cast("double"))
        .select($"brand", $"n".as("n_demand_days"),
          round($"adi", 4).as("adi"), round($"cv2", 4).as("cv2"),
          when($"adi" < 1.32 && $"cv2" < 0.49, "smooth")
            .when($"adi" < 1.32, "erratic")
            .when($"cv2" < 0.49, "intermittent")
            .otherwise("lumpy").as("pattern"))
        .orderBy($"brand")
    },
    Some("""WITH daily AS (
              SELECT p_brand AS brand, CAST(l_shipdate AS DATE) AS d,
                     CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY 1, 2),
            a AS (
              SELECT brand, count(*) AS n,
                     CAST(datediff('day', min(d), max(d)) AS BIGINT) AS span,
                     CAST(sum(qty) AS BIGINT) AS sx,
                     CAST(sum(qty * qty) AS BIGINT) AS sxx
              FROM daily GROUP BY 1 HAVING count(*) >= 2),
            f AS (
              SELECT brand, n,
                     CAST(span AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS adi,
                     CAST(n * sxx - sx * sx AS DOUBLE)
                       / CAST(sx * sx AS DOUBLE) AS cv2
              FROM a)
            SELECT brand, CAST(n AS BIGINT) AS n_demand_days,
                   (round(adi, 4) + 0.0) AS adi, (round(cv2, 4) + 0.0) AS cv2,
                   CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
                        WHEN adi < 1.32 THEN 'erratic'
                        WHEN cv2 < 0.49 THEN 'intermittent'
                        ELSE 'lumpy' END AS pattern
            FROM f ORDER BY brand""")
  )

  /** Holt–Winters additive-seasonal constants: smoothing weights, the
    * weekly period, and the kernel truncation depth (22 = three full
    * periods inside the 30-day fixture series, leaving ≥8 emitted rows
    * per type after warm-up). γ is deliberately high (seasonal memory
    * decays (1−γ) per PERIOD, not per step — at K≈3 periods the
    * dropped seasonal mass is (1−γ)³ ≈ 6%, which HoltSpec bounds). */
  private[graft] val HwAlpha = 0.4
  private[graft] val HwBeta = 0.3
  private[graft] val HwGamma = 0.6
  private[graft] val HwPeriod = 7
  private[graft] val HwK = 22

  /** Truncated-kernel weights for the 9-state rotating Holt–Winters
    * recursion: state z = (l, b, q₁..q₇) with q_j = s_{t+1−j} (the
    * seasonal ring buffer rotated each step, which makes the
    * transition matrix A CONSTANT — the standard trick for expressing
    * a periodic linear recursion as a time-invariant one):
    *   l_t = α(x_t − q'₇) + (1−α)(l' + b')
    *   b_t = β(l_t − l') + (1−β)b'
    *   q₁ = γ(x_t − l_t) + (1−γ)q'₇ ; q_j = q'_{j−1}
    * z_t = A z_{t−1} + c·x_t ⇒ contribution of x_{t−i} is A^i·c,
    * computed once driver-side; per lag i this returns the weights of
    * x_{t−i} in (level, trend, current season q₁, next-step season q₇)
    * — forecast_{t+1} = level + trend + q₇. */
  private[graft] def holtWintersWeights: Seq[(Double, Double, Double, Double)] =
    holtWintersWeightsDamped(1.0) // φ = 1 multiplies exactly — bit-identical

  /** The same kernel with a damped trend (Gardner–McKenzie applied to the
    * seasonal smoother): every trend READ scales by φ —
    *   l_t = α(x_t − q'₇) + (1−α)(l' + φ·b')
    *   b_t = β(l_t − l') + (1−β)·φ·b'
    * which only changes the two b'-column entries of the constant
    * transition. The truncation bound is set by the φ-independent
    * seasonal ring (mass decays (1−γ) per PERIOD), so the documented
    * K=22 bound carries unchanged; individual kernel coordinates are
    * NON-monotone in φ (the level↔ring coupling — measured both
    * directions at K=22), which is why the spec pins fidelity by
    * replaying the exact recursion, not by tail-weight ordering. */
  private[graft] def holtWintersWeightsDamped(
      phi: Double): Seq[(Double, Double, Double, Double)] = {
    val (a, b, g, m) = (HwAlpha, HwBeta, HwGamma, HwPeriod)
    val n = m + 2
    // A rows: new-state coordinates as linear forms over the old state.
    val A = Array.ofDim[Double](n, n)
    val c = new Array[Double](n)
    A(0)(0) = 1 - a; A(0)(1) = (1 - a) * phi; A(0)(n - 1) = -a; c(0) = a
    for (j <- 0 until n) A(1)(j) = b * A(0)(j)
    A(1)(0) -= b; A(1)(1) += (1 - b) * phi; c(1) = b * a
    for (j <- 0 until n) A(2)(j) = -g * A(0)(j)
    A(2)(n - 1) += 1 - g; c(2) = g * (1 - a)
    for (j <- 2 until m + 1) A(j + 1)(j) = 1.0 // ring rotation q_j = q'_{j-1}
    Iterator.iterate(c) { v =>
      Array.tabulate(n)(i => (0 until n).map(j => A(i)(j) * v(j)).sum)
    }.take(HwK).map(v => (v(0), v(1), v(2), v(n - 1))).toSeq
  }

  /** Holt–Winters additive-seasonal smoothing on the daily revenue
    * series per event type — ts_holt plus a weekly seasonal index: the
    * short-horizon forecast for any metric with a weekday rhythm
    * (traffic, revenue, ingest volume all have one). Emits level,
    * trend, the current seasonal index and the one-step-ahead forecast
    * (level + trend + the index for tomorrow's weekday slot), only
    * after a full K-lag warm-up.
    *
    * The ts_holt truncated-kernel device generalized from 2 to m+2
    * states (see holtWintersWeights): the K per-lag weight quadruples
    * are driver-side constants embedded as identical double literals in
    * both engines, so the whole smoother is one fixed lag-window
    * expression — whole-stage codegen, no sequential state fold, no
    * UDAF. Scale shape identical to ts_holt: one corpus-sized hash
    * aggregate onto the (type, day) domain, then one window.
    *
    * PRECONDITION (enforced): the per-type daily series must be
    * calendar-gapless inside each emitted row's K-lag window — the
    * kernel lags ROWS, so a missing day would rotate the weekly ring
    * per-row and misalign every seasonal slot after the gap. Each row
    * asserts its K−1 trailing rows span exactly K−1 days and RAISES
    * otherwise (run the ts_gapfill device first on gapped series). */
  val holtWinters: GraftQuery = GraftQuery(
    "ts_holt_winters",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"event_type").orderBy($"d")
      val x = (i: Int) => lag($"v", i).over(w).cast("double")
      val ws = holtWintersWeights
      def sumOf(f: ((Double, Double, Double, Double)) => Double) =
        ws.zipWithIndex.map { case (t, i) => x(i) * lit(f(t)) }.reduce(_ + _)
      val (level, trend, season, qm) =
        (sumOf(_._1), sumOf(_._2), sumOf(_._3), sumOf(_._4))
      changepointDaily(s, dir)
        .withColumn("level", level)
        .withColumn("trend", trend)
        .withColumn("season", season)
        .withColumn("qm", qm)
        .withColumn("warm", lag($"v", HwK - 1).over(w))
        .withColumn("warm_d", lag($"d", HwK - 1).over(w))
        .filter($"warm".isNotNull)
        // The kernel is ROW-lagged: a calendar gap anywhere in the K-row
        // warm-up rotates the q-ring per row, not per day, silently
        // misaligning the weekday slot (and the oracle, computing the
        // same row kernel, would agree on the wrong answer). The K−1
        // trailing rows spanning exactly K−1 days forces every step to
        // be one day — gapped rows RAISE instead (ADVICE r11;
        // ts_forecast_eval's calendar gate, made per-row).
        .select($"event_type", $"d",
          round(graft.GraftQuery.guarded($"level",
            datediff($"d", $"warm_d") === lit(HwK - 1),
            "ts_holt_winters: calendar gap inside the seasonal kernel " +
              "window — gap-fill the daily series (ts_gapfill device) " +
              "before smoothing"), 4).as("hw_level"),
          round($"trend", 4).as("hw_trend"),
          round($"season", 4).as("hw_season"),
          round($"level" + $"trend" + $"qm", 4).as("forecast_next"))
        .orderBy($"event_type", $"d")
    },
    Some {
      val ws = holtWintersWeights
      def terms(f: ((Double, Double, Double, Double)) => Double) =
        ws.zipWithIndex.map { case (t, i) =>
          s"CAST(lag(v, $i) OVER w AS DOUBLE) * CAST(${f(t)} AS DOUBLE)" }
          .mkString(" + ")
      s"""WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                   CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
            FROM events GROUP BY 1, 2),
          h AS (
            SELECT event_type, d,
                   ${terms(_._1)} AS level, ${terms(_._2)} AS trend,
                   ${terms(_._3)} AS season, ${terms(_._4)} AS qm,
                   lag(v, ${HwK - 1}) OVER w AS warm
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d))
          SELECT event_type, d, (round(level, 4) + 0.0) AS hw_level,
                 (round(trend, 4) + 0.0) AS hw_trend,
                 (round(season, 4) + 0.0) AS hw_season,
                 (round(level + trend + qm, 4) + 0.0) AS forecast_next
          FROM h WHERE warm IS NOT NULL
          ORDER BY event_type, d"""
    }
  )

  /** Damped-trend Holt–Winters — ts_holt_winters' trend read scaled by
    * φ (the ts_holt_damped dial applied to the seasonal smoother): the
    * weekday rhythm stays fully weighted while the trend extrapolation
    * saturates, which is the configuration production capacity forecasts
    * actually run (seasonality is real and stable; unbounded linear
    * growth is not). Emits level, damped trend, seasonal index, and the
    * one-step forecast level + φ·trend + tomorrow-slot index, after the
    * same full K-lag warm-up and under the same enforced calendar-gapless
    * precondition (the kernel lags ROWS; a gap would misalign the
    * weekly ring — gapped rows RAISE).
    *
    * Same truncated-kernel device, scale shape, oracle construction and
    * K=22 truncation bound as ts_holt_winters (the bound is set by the
    * φ-independent seasonal ring's per-period decay). */
  val holtWintersDamped: GraftQuery = GraftQuery(
    "ts_holt_winters_damped",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"event_type").orderBy($"d")
      val x = (i: Int) => lag($"v", i).over(w).cast("double")
      val ws = holtWintersWeightsDamped(HoltPhi)
      def sumOf(f: ((Double, Double, Double, Double)) => Double) =
        ws.zipWithIndex.map { case (t, i) => x(i) * lit(f(t)) }.reduce(_ + _)
      val (level, trend, season, qm) =
        (sumOf(_._1), sumOf(_._2), sumOf(_._3), sumOf(_._4))
      changepointDaily(s, dir)
        .withColumn("level", level)
        .withColumn("trend", trend)
        .withColumn("season", season)
        .withColumn("qm", qm)
        .withColumn("warm", lag($"v", HwK - 1).over(w))
        .withColumn("warm_d", lag($"d", HwK - 1).over(w))
        .filter($"warm".isNotNull)
        .select($"event_type", $"d",
          round(graft.GraftQuery.guarded($"level",
            datediff($"d", $"warm_d") === lit(HwK - 1),
            "ts_holt_winters_damped: calendar gap inside the seasonal " +
              "kernel window — gap-fill the daily series (ts_gapfill " +
              "device) before smoothing"), 4).as("hwd_level"),
          round($"trend", 4).as("hwd_trend"),
          round($"season", 4).as("hwd_season"),
          round($"level" + lit(HoltPhi) * $"trend" + $"qm", 4)
            .as("forecast_next"))
        .orderBy($"event_type", $"d")
    },
    Some {
      val ws = holtWintersWeightsDamped(HoltPhi)
      def terms(f: ((Double, Double, Double, Double)) => Double) =
        ws.zipWithIndex.map { case (t, i) =>
          s"CAST(lag(v, $i) OVER w AS DOUBLE) * CAST(${f(t)} AS DOUBLE)" }
          .mkString(" + ")
      s"""WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                   CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
            FROM events GROUP BY 1, 2),
          h AS (
            SELECT event_type, d,
                   ${terms(_._1)} AS level, ${terms(_._2)} AS trend,
                   ${terms(_._3)} AS season, ${terms(_._4)} AS qm,
                   lag(v, ${HwK - 1}) OVER w AS warm
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d))
          SELECT event_type, d, (round(level, 4) + 0.0) AS hwd_level,
                 (round(trend, 4) + 0.0) AS hwd_trend,
                 (round(season, 4) + 0.0) AS hwd_season,
                 (round(level + CAST($HoltPhi AS DOUBLE) * trend + qm, 4) + 0.0)
                   AS forecast_next
          FROM h WHERE warm IS NOT NULL
          ORDER BY event_type, d"""
    }
  )

  /** Exact ordinary-least-squares trend per event type on the daily
    * revenue series — the classical companion to ts_theilsen (which is
    * the robust fit): slope and intercept as EXACT BIGINT rationals plus
    * R², the one number that says whether the linear story explains the
    * series at all (Theil–Sen gives no goodness-of-fit).
    *
    * Determinism — exact sufficient statistics: x is the day offset
    * from the per-type min day (BIGINT), y the daily cent sum (BIGINT);
    * one aggregate folds n, Σx, Σy, Σxy, Σx², Σy² in BIGINT, and
    *   slope     = Sxy / Sxx       (Sxy = nΣxy − ΣxΣy, Sxx = nΣx² − (Σx)²)
    *   intercept = (Σy·Sxx − Sxy·Σx) / (n·Sxx)
    *   R²        = Sxy² / (Sxx·Syy)
    * are ratios of identical integers; the emitted doubles are IEEE
    * operations on identical operands in identical order in both
    * engines. The BIGINT headroom rides GraftQuery.guarded off the same
    * aggregate row, with a bound per wrap-capable term: the slope
    * cross-multiplies (≤ 2n²·span²·max|y|), the Σy²/Syc folds
    * (≤ 2n²·max|y|²), and the intercept numerator Σy·Sxx − Sxy·Σx
    * (≤ 3n³·span²·max|y|) — past the tightest of these the query RAISES
    * (shift the folds to DECIMAL(38,0) then); R² squares Sxy in DOUBLE
    * because its integer image can overflow first.
    *
    * Scale shape: one map-side-combined aggregate reduces the fact scan
    * to the bounded (type, day) domain; the min-day anchor broadcasts
    * back; the final fold is one row per type. 100 TB of events never
    * leaves the first aggregate. */
  val ols: GraftQuery = GraftQuery(
    "ts_ols",
    (s, dir) => {
      import s.implicits._
      val daily = changepointDaily(s, dir)
      val anchor = daily.groupBy($"event_type")
        .agg(min($"d").as("d0"), max(abs($"v")).as("mv"),
          expr("CAST(datediff(max(d), min(d)) AS BIGINT)").as("span"))
      val xy = daily.join(broadcast(anchor), "event_type")
        .select($"event_type", $"mv", $"span",
          expr("CAST(datediff(d, d0) AS BIGINT)").as("x"), $"v".as("y"))
      val agg = xy.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
          sum($"y" * $"y").as("syy"),
          max($"mv").as("mv"), max($"span").as("span"))
      // Headroom must cover EVERY BIGINT fold and cross-multiply, not
      // just nΣxy: syy = Σy² ≤ n·mv², syc = n·syy − (Σy)² ≤ 2n²·mv²,
      // and the intercept numerator Σy·den − num·Σx ≤ 3n³·span²·mv —
      // each term bounded in DOUBLE (the check itself can't wrap) and
      // ANDed so any wrap-capable fold RAISES instead of silently
      // wrapping under non-ANSI BIGINT arithmetic.
      val nD = $"n".cast("double"); val spanD = $"span".cast("double")
      val mvD = $"mv".cast("double")
      val safe =
        (lit(2.0) * pow(nD, 2.0) * pow(spanD, 2.0) * mvD < 9.0e18) &&
        (lit(2.0) * pow(nD, 2.0) * pow(mvD, 2.0) < 9.0e18) &&
        (lit(3.0) * pow(nD, 3.0) * pow(spanD, 2.0) * mvD < 9.0e18)
      val g = (c: org.apache.spark.sql.Column) => graft.GraftQuery.guarded(
        c, safe, "ts_ols: BIGINT sufficient statistics near overflow — " +
          "shift the folds to DECIMAL(38,0)")
      agg
        .withColumn("num", g($"n" * $"sxy" - $"sx" * $"sy"))
        .withColumn("den", g($"n" * $"sxx" - $"sx" * $"sx"))
        .withColumn("syc", g($"n" * $"syy" - $"sy" * $"sy"))
        .select($"event_type", $"n",
          $"num".as("slope_num"), $"den".as("slope_den"),
          ($"num".cast("double") / $"den".cast("double")).as("slope"),
          (g($"sy" * $"den" - $"num" * $"sx").cast("double")
            / ($"n" * $"den").cast("double")).as("intercept"),
          ($"num".cast("double") * $"num".cast("double")
            / ($"den".cast("double") * $"syc".cast("double"))).as("r2"))
        .orderBy($"event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            anchor AS (
              SELECT event_type, min(d) AS d0 FROM daily GROUP BY 1),
            xy AS (
              SELECT daily.event_type,
                     CAST(datediff('day', d0, d) AS BIGINT) AS x,
                     v AS y
              FROM daily JOIN anchor USING (event_type)),
            a AS (
              SELECT event_type, count(*) AS n,
                     CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(y * y) AS BIGINT) AS syy
              FROM xy GROUP BY 1),
            f AS (
              SELECT event_type, n,
                     CAST(n * sxy - sx * sy AS BIGINT) AS num,
                     CAST(n * sxx - sx * sx AS BIGINT) AS den,
                     CAST(n * syy - sy * sy AS BIGINT) AS syc,
                     sx, sy
              FROM a)
            SELECT event_type, CAST(n AS BIGINT) AS n,
                   num AS slope_num, den AS slope_den,
                   CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS slope,
                   CAST(sy * den - num * sx AS DOUBLE)
                     / CAST(n * den AS DOUBLE) AS intercept,
                   CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                     / (CAST(den AS DOUBLE) * CAST(syc AS DOUBLE)) AS r2
            FROM f ORDER BY event_type""")
  )

  /** Daily / weekly active users and the stickiness ratio — THE product
    * engagement readout (DAU, trailing-7-day WAU, DAU/WAU): every
    * metrics stack serves this from the event log, and the naive form
    * (a distinct-count per sliding window) rescans the facts 7×.
    *
    * Implementation: the fact scan reduces ONCE to the distinct
    * (user, day) domain; each active day then contributes its user to
    * the 7 window ENDS it falls in (a 7-row generator explode on the
    * bounded domain — not on events), and one distinct-aggregate per
    * window end is the exact WAU. Window ends are clipped to observed
    * days so every output row is a real calendar day. All counts exact
    * BIGINTs; stickiness = one division. At 100 TB the explode runs on
    * |users|·|active days| rows — the domain a 7× fact rescan would
    * have to DISTINCT seven times.
    *
    * (An HLL-sketch variant of the same cube is the agg_sketch_merge
    * pattern; this is the exact form.) */
  /** The DAU/WAU/stickiness fold over a DISTINCT (user_id, d) frame —
    * shared by ts_active_users and its streaming twin (whose waves
    * merge to exactly this frame). */
  private[graft] def activeUsersFold(udRaw: DataFrame): DataFrame = {
    val s = udRaw.sparkSession
    import s.implicits._
    val ud = udRaw.localCheckpoint() // read by DAU, the explode, the day clip
    val days = ud.select($"d").distinct()
    val dau = ud.groupBy($"d").agg(count(lit(1)).as("dau"))
    val wau = ud
      .withColumn("w", explode(sequence(lit(0), lit(6))))
      .select($"user_id", date_add($"d", $"w").as("d"))
      .join(days.hint("shuffle_hash"), "d") // clip to observed days
      .groupBy($"d").agg(count_distinct($"user_id").as("wau"))
    dau.join(wau, "d")
      .select($"d", $"dau", $"wau",
        round($"dau".cast("double") / $"wau".cast("double"), 6).as("stickiness"))
      .orderBy($"d")
  }

  val activeUsers: GraftQuery = GraftQuery(
    "ts_active_users",
    (s, dir) => {
      import s.implicits._
      activeUsersFold(Tables.events(s, dir)
        .select($"user_id", to_date($"ts").as("d")).distinct())
    },
    Some("""WITH ud AS (
              SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
              FROM events),
            days AS (SELECT DISTINCT d FROM ud),
            dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY 1),
            wau AS (
              SELECT e.d, count(DISTINCT user_id) AS wau
              FROM (SELECT user_id, d + w.i AS d
                    FROM ud CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6]) AS i) w) e
              JOIN days USING (d)
              GROUP BY 1)
            SELECT d, dau, wau,
                   (round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6) + 0.0) AS stickiness
            FROM dau JOIN wau USING (d)
            ORDER BY d""")
  )

  /** Rolling 14-calendar-day OLS slope per event type — ts_ols's trend
    * as a MONITOR: "is the metric accelerating RIGHT NOW?", the local
    * complement to the whole-series fit (one regime change makes the
    * global slope a lie; the rolling window tracks it).
    *
    * Determinism — exact windowed sufficient statistics: x is the epoch
    * day (BIGINT), y the daily cent sum; n/Σx/Σy/Σxy/Σx² are INTEGER
    * window sums over a CALENDAR range frame (a row frame would splice
    * across gaps), so slope_num/slope_den are exact BIGINTs per day and
    * the double is one division — integer window sums are
    * associativity-immune (trap note a bites double windows only).
    * Emitted only when the window holds ≥ 7 observations (half the
    * span; fewer makes the slope noise). Headroom: n·Σxy ≤
    * 14²·epochday·max|y| ≈ 1e17 at sf0.1 — documented, unguarded
    * (the window n is a constant 14, not a scale variable).
    *
    * Scale shape: one corpus-sized hash aggregate onto the (type, day)
    * domain, then one range-frame window per type — the ts_ewma cost
    * shape; 100 TB of events never reaches the window. */
  val rollingOls: GraftQuery = GraftQuery(
    "ts_rolling_ols",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"x")
        .rangeBetween(-13L, 0L)
      changepointDaily(s, dir)
        .withColumn("x", expr("CAST(datediff(d, DATE'1970-01-01') AS BIGINT)"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum($"x").over(w))
        .withColumn("sy", sum($"v").over(w))
        .withColumn("sxy", sum($"x" * $"v").over(w))
        .withColumn("sxx", sum($"x" * $"x").over(w))
        .filter($"n" >= 7L)
        .select($"event_type", $"d", $"n".as("n_win"),
          ($"n" * $"sxy" - $"sx" * $"sy").as("slope_num"),
          ($"n" * $"sxx" - $"sx" * $"sx").as("slope_den"),
          (($"n" * $"sxy" - $"sx" * $"sy").cast("double")
            / ($"n" * $"sxx" - $"sx" * $"sx").cast("double")).as("slope"))
        .orderBy($"event_type", $"d")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            x AS (
              SELECT event_type, d,
                     CAST(datediff('day', DATE '1970-01-01', d) AS BIGINT) AS x, v
              FROM daily),
            r AS (
              SELECT event_type, d,
                     count(*) OVER w AS n,
                     CAST(sum(x) OVER w AS BIGINT) AS sx,
                     CAST(sum(v) OVER w AS BIGINT) AS sy,
                     CAST(sum(x * v) OVER w AS BIGINT) AS sxy,
                     CAST(sum(x * x) OVER w AS BIGINT) AS sxx
              FROM x
              WINDOW w AS (PARTITION BY event_type ORDER BY x
                           RANGE BETWEEN 13 PRECEDING AND CURRENT ROW))
            SELECT event_type, d, n AS n_win,
                   CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
                   CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
                   CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
            FROM r WHERE n >= 7
            ORDER BY event_type, d""")
  )

  /** Rolling-origin backtest of the Holt one-step forecast — the
    * "should we trust this model" readout: every emitted forecast is
    * scored against the NEXT CALENDAR day's actual (a gap day scores
    * nothing — scoring the next observation would grade a 1-step
    * forecast against a k-step future), and per-type MAE and signed
    * bias come back in EXACT CENTS.
    *
    * Determinism: ts_holt's forecast doubles are already bit-identical
    * across engines (its own hash row proves it); the error integerizes
    * each forecast FIRST (round to whole cents — one scalar op on an
    * identical double), so the per-type sums are BIGINT folds with no
    * association hazard. MAE/bias emit as exact num/den rationals plus
    * the one-division double.
    *
    * Scale shape: the holt frame is days × types; the next-day actual
    * is one more window `lead` over the SAME daily frame (no second
    * scan of the fact table), and the final fold is one row per type. */
  val forecastEval: GraftQuery = GraftQuery(
    "ts_forecast_eval",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"d")
      val x = (i: Int) => lag($"v", i).over(w).cast("double")
      val level = holtWeights.zipWithIndex
        .map { case ((cl, _), i) => x(i) * lit(cl) }.reduce(_ + _)
      val trend = holtWeights.zipWithIndex
        .map { case ((_, cb), i) => x(i) * lit(cb) }.reduce(_ + _)
      changepointDaily(s, dir)
        .withColumn("fc", round(level + trend, 4))
        .withColumn("warm", lag($"v", HoltK - 1).over(w))
        .withColumn("next_d", lead($"d", 1).over(w))
        .withColumn("next_v", lead($"v", 1).over(w))
        .filter($"warm".isNotNull && $"next_d" === date_add($"d", 1))
        .withColumn("err", round($"fc").cast("long") - $"next_v")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_evals"),
          sum(abs($"err")).as("mae_num"), sum($"err").as("bias_num"))
        .select($"event_type", $"n_evals", $"mae_num", $"bias_num",
          ($"mae_num".cast("double") / $"n_evals".cast("double")).as("mae_cents"),
          ($"bias_num".cast("double") / $"n_evals".cast("double")).as("bias_cents"))
        .orderBy($"event_type")
    },
    Some {
      val lvl = holtWeights.zipWithIndex
        .map { case ((cl, _), i) =>
          s"CAST(lag(v, $i) OVER w AS DOUBLE) * CAST($cl AS DOUBLE)" }
        .mkString(" + ")
      val trd = holtWeights.zipWithIndex
        .map { case ((_, cb), i) =>
          s"CAST(lag(v, $i) OVER w AS DOUBLE) * CAST($cb AS DOUBLE)" }
        .mkString(" + ")
      s"""WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                   CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
            FROM events GROUP BY 1, 2),
          h AS (
            SELECT event_type, d, v,
                   (round($lvl + $trd, 4) + 0.0) AS fc,
                   lag(v, ${HoltK - 1}) OVER w AS warm,
                   lead(d, 1) OVER w AS next_d,
                   lead(v, 1) OVER w AS next_v
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d)),
          e AS (
            SELECT event_type,
                   CAST((round(fc) + 0.0) AS BIGINT) - next_v AS err
            FROM h
            WHERE warm IS NOT NULL AND next_d = d + 1)
          SELECT event_type, count(*) AS n_evals,
                 CAST(sum(abs(err)) AS BIGINT) AS mae_num,
                 CAST(sum(err) AS BIGINT) AS bias_num,
                 CAST(sum(abs(err)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mae_cents,
                 CAST(sum(err) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS bias_cents
          FROM e GROUP BY event_type
          ORDER BY event_type"""
    }
  )

  /** Week-over-week growth per event type — the headline movement
    * number on every dashboard ("revenue is +12% WoW"), with the two
    * classic correctness traps handled: weeks are ISO calendar weeks
    * anchored by weekday arithmetic (not rolling 7-row windows, which
    * drift over gaps), and the growth of a zero-or-absent prior week
    * is NULL, not infinity (absent weeks are the gap-day case at week
    * granularity).
    *
    * Determinism — EXACT RATIONAL: weekly BIGINT cent sums (the week
    * anchor is date_sub(d, (dayofweek+5) mod 7) — pure date integer
    * arithmetic, identical to DuckDB's date_trunc('week') Monday
    * anchor); prior week read via an exact 7-day calendar lag join on
    * the bounded (type, week) domain; growth = one division of
    * identical integers, rounded 6dp. Scale: one map-side aggregate
    * onto |types| × |weeks| rows; the self-join is domain-sized. */
  val wowGrowth: GraftQuery = GraftQuery(
    "ts_wow_growth",
    (s, dir) => {
      import s.implicits._
      val weekly = Tables.events(s, dir)
        .select($"event_type",
          expr("date_sub(to_date(ts), (dayofweek(to_date(ts)) + 5) % 7)").as("wk"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cv"))
        .groupBy($"event_type", $"wk")
        .agg(sum($"cv").as("v"))
        .localCheckpoint() // both sides of the lag join read it
      weekly.as("cur")
        .join(weekly.as("prev").hint("shuffle_hash"),
          $"cur.event_type" === $"prev.event_type" &&
            $"prev.wk" === date_sub($"cur.wk", 7), "left")
        .select($"cur.event_type".as("event_type"), $"cur.wk".as("wk"),
          $"cur.v".as("v"), $"prev.v".as("v_prev"),
          when($"prev.v".isNotNull && $"prev.v" =!= 0L,
            round(($"cur.v" - $"prev.v").cast("double")
              / $"prev.v".cast("double"), 6)).as("wow_growth"))
        .orderBy($"event_type", $"wk")
    },
    Some("""WITH weekly AS (
              SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS wk,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2)
            SELECT c.event_type, c.wk, c.v, p.v AS v_prev,
                   CASE WHEN p.v IS NOT NULL AND p.v <> 0
                        THEN round(CAST(c.v - p.v AS DOUBLE) / CAST(p.v AS DOUBLE), 6)
                        END AS wow_growth
            FROM weekly c
            LEFT JOIN weekly p
              ON p.event_type = c.event_type AND p.wk = c.wk - 7
            ORDER BY c.event_type, c.wk""")
  )

  /** Maximum drawdown per event-type revenue series — the risk readout a
    * finance/ops dashboard pins next to the trend: cumulative daily
    * revenue, its running peak, and the deepest peak-to-trough fall with
    * the day it bottomed.
    *
    * Determinism: the whole chain is EXACT BIGINT cents — cumulative sum,
    * running max, and drawdown are integer window folds (no doubles until
    * the one final ratio of exact ints, identical in both engines);
    * the trough day tie-breaks earliest via the row_number order.
    *
    * Scale shape: one hash aggregate onto the bounded (type, day) domain,
    * then windows partitioned by event_type over day-domain rows — 100 TB
    * of events never reaches the windows. */
  val drawdown: GraftQuery = GraftQuery(
    "ts_drawdown",
    (s, dir) => {
      import s.implicits._
      val wc = Window.partitionBy($"event_type").orderBy($"d")
        .rowsBetween(Window.unboundedPreceding, 0)
      changepointDaily(s, dir)
        .withColumn("cum", sum($"v").over(wc))
        .withColumn("peak", max($"cum").over(wc))
        .withColumn("dd", $"peak" - $"cum")
        .withColumn("rn", row_number().over(
          Window.partitionBy($"event_type").orderBy($"dd".desc, $"d".asc)))
        .filter($"rn" === 1)
        .select($"event_type", $"d".as("trough_day"),
          $"peak".as("peak_cents"), $"cum".as("trough_cents"),
          $"dd".as("max_drawdown_cents"),
          when($"peak" > 0L,
            round($"dd".cast("double") / $"peak".cast("double"), 6)).as("dd_frac"))
        .orderBy($"event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            c AS (SELECT event_type, d,
                         CAST(sum(v) OVER (PARTITION BY event_type ORDER BY d
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                  FROM daily),
            p AS (SELECT event_type, d, cum,
                         CAST(max(cum) OVER (PARTITION BY event_type ORDER BY d
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak
                  FROM c),
            r AS (SELECT event_type, d, cum, peak, peak - cum AS dd,
                         row_number() OVER (PARTITION BY event_type
                           ORDER BY peak - cum DESC, d ASC) AS rn
                  FROM p)
            SELECT event_type, d AS trough_day, peak AS peak_cents,
                   cum AS trough_cents, CAST(dd AS BIGINT) AS max_drawdown_cents,
                   CASE WHEN peak > 0
                        THEN round(CAST(dd AS DOUBLE) / CAST(peak AS DOUBLE), 6)
                        END AS dd_frac
            FROM r WHERE rn = 1 ORDER BY event_type""")
  )

  /** Bollinger bands over the daily revenue series — rolling 7-day mean
    * ± 2σ with a breakout flag, the volatility envelope behind "is today
    * unusually hot or cold for this series?".
    *
    * Determinism: the rolling sufficient statistics (Σv, Σv², n) are
    * EXACT BIGINT window folds (the Σv² fold overflow-gated via the
    * in-window max, raising past the ~1.13e9-cents-per-day headroom
    * where non-ANSI Spark would wrap); mean/σ/bands are then a fixed
    * scalar chain over those exact ints — identical doubles both
    * engines — and the breakout flag compares the UNROUNDED doubles
    * (the llm_quality_gopher rule: rounded columns are presentation
    * only).
    *
    * Scale shape: identical to ts_drawdown — bounded (type, day) domain
    * before any window. */
  val bollinger: GraftQuery = GraftQuery(
    "ts_bollinger",
    (s, dir) => {
      import s.implicits._
      val w7 = Window.partitionBy($"event_type").orderBy($"d").rowsBetween(-6, 0)
      changepointDaily(s, dir)
        .withColumn("n7", count(lit(1)).over(w7))
        .withColumn("s7", sum($"v").over(w7))
        .withColumn("q7", GraftQuery.guarded(sum($"v" * $"v").over(w7),
          max(abs($"v")).over(w7) < lit(1134000000L),
          "ts_bollinger: daily cents past the rolling-\u03a3v\u00b2 BIGINT " +
            "headroom (~1.13e9/day) \u2014 rescale to a coarser unit"))
        .withColumn("mean7", $"s7".cast("double") / $"n7".cast("double"))
        .withColumn("sig7", sqrt(greatest(
          ($"n7".cast("double") * $"q7".cast("double")
            - $"s7".cast("double") * $"s7".cast("double"))
            / ($"n7".cast("double") * $"n7".cast("double")), lit(0.0))))
        .select($"event_type", $"d", $"v", $"n7",
          round($"mean7", 4).as("mean7"),
          round($"sig7", 4).as("sigma7"),
          round($"mean7" + lit(2.0) * $"sig7", 4).as("band_hi"),
          round($"mean7" - lit(2.0) * $"sig7", 4).as("band_lo"),
          ($"v".cast("double") > $"mean7" + lit(2.0) * $"sig7" ||
            $"v".cast("double") < $"mean7" - lit(2.0) * $"sig7").as("breakout"))
        .orderBy($"event_type", $"d")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            r AS (SELECT event_type, d, v,
                         CAST(count(*) OVER w AS BIGINT) AS n7,
                         CAST(sum(v) OVER w AS BIGINT) AS s7,
                         CAST(sum(v * v) OVER w AS BIGINT) AS q7
                  FROM daily
                  WINDOW w AS (PARTITION BY event_type ORDER BY d
                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
            m AS (SELECT *,
                         CAST(s7 AS DOUBLE) / CAST(n7 AS DOUBLE) AS mean7,
                         sqrt(greatest(
                           (CAST(n7 AS DOUBLE) * CAST(q7 AS DOUBLE)
                             - CAST(s7 AS DOUBLE) * CAST(s7 AS DOUBLE))
                             / (CAST(n7 AS DOUBLE) * CAST(n7 AS DOUBLE)), 0.0)) AS sig7
                  FROM r)
            SELECT event_type, d, v, n7,
                   (round(mean7, 4) + 0.0) AS mean7,
                   (round(sig7, 4) + 0.0) AS sigma7,
                   (round(mean7 + 2.0 * sig7, 4) + 0.0) AS band_hi,
                   (round(mean7 - 2.0 * sig7, 4) + 0.0) AS band_lo,
                   (CAST(v AS DOUBLE) > mean7 + 2.0 * sig7 OR
                    CAST(v AS DOUBLE) < mean7 - 2.0 * sig7) AS breakout
            FROM m ORDER BY event_type, d""")
  )

  /** 14-day RSI (SMA form) over the daily revenue series — the
    * overbought/oversold oscillator: average rolling gain vs average
    * rolling loss, emitted only once the window holds its full 14 diffs.
    *
    * Determinism: day-over-day diffs, gains and losses are EXACT BIGINT;
    * the RSI is one ratio of exact rolling integer sums (100·Σgain /
    * (Σgain + Σloss)), double only at the final rounded projection.
    *
    * Scale shape: ts_drawdown's — bounded (type, day) domain, one lag +
    * one rolling-sum window sharing the same (key, order) spec. */
  val rsi: GraftQuery = GraftQuery(
    "ts_rsi",
    (s, dir) => {
      import s.implicits._
      val wl = Window.partitionBy($"event_type").orderBy($"d")
      val w14 = wl.rowsBetween(-13, 0)
      changepointDaily(s, dir)
        .withColumn("diff", $"v" - lag($"v", 1).over(wl))
        .withColumn("gain", when($"diff" > 0L, $"diff").otherwise(lit(0L)))
        .withColumn("loss", when($"diff" < 0L, -$"diff").otherwise(lit(0L)))
        .withColumn("n_diffs", count($"diff").over(w14))
        .withColumn("sg", sum($"gain").over(w14))
        .withColumn("sl", sum($"loss").over(w14))
        .select($"event_type", $"d", $"v", $"n_diffs",
          when($"n_diffs" === 14L && ($"sg" + $"sl") > 0L,
            round(lit(100.0) * $"sg".cast("double")
              / ($"sg" + $"sl").cast("double"), 4)).as("rsi"))
        .orderBy($"event_type", $"d")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            df AS (SELECT event_type, d, v,
                          v - lag(v, 1) OVER (PARTITION BY event_type ORDER BY d) AS diff
                   FROM daily),
            gl AS (SELECT event_type, d, v, diff,
                          CASE WHEN diff > 0 THEN diff ELSE 0 END AS gain,
                          CASE WHEN diff < 0 THEN -diff ELSE 0 END AS loss
                   FROM df),
            r AS (SELECT event_type, d, v,
                         CAST(count(diff) OVER w AS BIGINT) AS n_diffs,
                         CAST(sum(gain) OVER w AS BIGINT) AS sg,
                         CAST(sum(loss) OVER w AS BIGINT) AS sl
                  FROM gl
                  WINDOW w AS (PARTITION BY event_type ORDER BY d
                               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
            SELECT event_type, d, v, n_diffs,
                   CASE WHEN n_diffs = 14 AND (sg + sl) > 0
                        THEN round(100.0 * CAST(sg AS DOUBLE)
                                   / CAST(sg + sl AS DOUBLE), 4)
                        END AS rsi
            FROM r ORDER BY event_type, d""")
  )

  /** SMA crossover detection (golden/death cross) — the days where the
    * fast 3-day moving average crosses the slow 7-day one, the classic
    * trend-flip signal.
    *
    * Determinism — EXACT INTEGER sign test: SMA3 vs SMA7 compares as
    * s3·7 vs s7·3 in BIGINT (cross-multiplied, never divided), so the
    * sign and every crossing day are exact in both engines; the products
    * are overflow-gated (raising past |s| ~1.28e18 where non-ANSI Spark
    * would wrap). Only full 7-day windows emit a sign; a flip through
    * exactly-equal (sign 0) does not count as a cross.
    *
    * Scale shape: ts_drawdown's — bounded day domain, two rolling sums +
    * one lag on one (key, order) window spec. */
  val smaCross: GraftQuery = GraftQuery(
    "ts_sma_cross",
    (s, dir) => {
      import s.implicits._
      val wl = Window.partitionBy($"event_type").orderBy($"d")
      val w3 = wl.rowsBetween(-2, 0)
      val w7 = wl.rowsBetween(-6, 0)
      changepointDaily(s, dir)
        .withColumn("c7", count(lit(1)).over(w7))
        .withColumn("s3", sum($"v").over(w3))
        .withColumn("s7", sum($"v").over(w7))
        .withColumn("sgn", when($"c7" === 7L, GraftQuery.guarded(
          when($"s3" * lit(7L) > $"s7" * lit(3L), 1)
            .when($"s3" * lit(7L) < $"s7" * lit(3L), -1).otherwise(0),
          abs($"s3") < lit(1285000000000000000L) &&
            abs($"s7") < lit(1285000000000000000L),
          "ts_sma_cross: rolling revenue sum past the cross-multiply " +
            "BIGINT headroom (~1.28e18 cents) \u2014 rescale to a coarser unit")))
        .withColumn("psgn", lag($"sgn", 1).over(wl))
        .filter($"sgn".isNotNull && $"psgn".isNotNull &&
          $"sgn" =!= $"psgn" && $"sgn" =!= 0 && $"psgn" =!= 0)
        .select($"event_type", $"d", $"s3", $"s7",
          when($"sgn" === 1, lit("golden")).otherwise(lit("death")).as("cross_type"))
        .orderBy($"event_type", $"d")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            r AS (SELECT event_type, d,
                         CAST(count(*) OVER w7 AS BIGINT) AS c7,
                         CAST(sum(v) OVER w3 AS BIGINT) AS s3,
                         CAST(sum(v) OVER w7 AS BIGINT) AS s7
                  FROM daily
                  WINDOW w3 AS (PARTITION BY event_type ORDER BY d
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                         w7 AS (PARTITION BY event_type ORDER BY d
                                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
            sg AS (SELECT event_type, d, s3, s7,
                          CASE WHEN c7 = 7 THEN
                            CASE WHEN s3 * 7 > s7 * 3 THEN 1
                                 WHEN s3 * 7 < s7 * 3 THEN -1 ELSE 0 END
                          END AS sgn
                   FROM r),
            lg AS (SELECT *, lag(sgn, 1) OVER (PARTITION BY event_type
                                               ORDER BY d) AS psgn
                   FROM sg)
            SELECT event_type, d, s3, s7,
                   CASE WHEN sgn = 1 THEN 'golden' ELSE 'death' END AS cross_type
            FROM lg
            WHERE sgn IS NOT NULL AND psgn IS NOT NULL
              AND sgn <> psgn AND sgn <> 0 AND psgn <> 0
            ORDER BY event_type, d""")
  )

  /** MACD (12/26/9) over the daily revenue series via the house
    * truncated-kernel device (ts_ewma / ts_holt): each EMA is a fixed
    * K-term sum of lag() columns with Scala-computed literal weights,
    * renormalized over the terms present near the series head — one
    * window pass for the two price EMAs, a second pass over the
    * materialized macd column for the signal EMA (nested EWMA = two
    * sequential windows on the SAME (key, order) spec, so one shuffle).
    * K=16 truncates <7% of the 12-day kernel mass; the signal kernel
    * K=8 at \u03b1=0.2 likewise. Both engines fold the identical literal
    * weights over the identical lag columns in declaration order, so
    * the doubles agree bit-for-bit before rounding (the ewma proof).
    *
    * Scale shape: bounded (type, day) domain before any window; the two
    * window passes both partition by event_type. */
  val macd: GraftQuery = GraftQuery(
    "ts_macd",
    (s, dir) => {
      import s.implicits._
      val K = 16; val K9 = 8
      val a12 = 2.0 / 13; val a26 = 2.0 / 27; val a9 = 2.0 / 10
      val wl = Window.partitionBy($"event_type").orderBy($"d")
      def ema(src: Column, alpha: Double, k: Int): Column = {
        val ws = (0 until k).map(i => alpha * math.pow(1 - alpha, i))
        val num = ws.zipWithIndex.map { case (wt, i) =>
          coalesce(lag(src, i).over(wl) * lit(wt), lit(0.0)) }.reduce(_ + _)
        val den = ws.zipWithIndex.map { case (wt, i) =>
          when(lag(src, i).over(wl).isNotNull, lit(wt)).otherwise(lit(0.0))
        }.reduce(_ + _)
        num / den
      }
      val base = changepointDaily(s, dir)
        .withColumn("vd", $"v".cast("double"))
        .withColumn("macd", ema($"vd", a12, K) - ema($"vd", a26, K))
      base
        .withColumn("signal", ema($"macd", a9, K9))
        .select($"event_type", $"d", $"v",
          GraftQuery.roundNorm($"macd", 4).as("macd"),
          GraftQuery.roundNorm($"signal", 4).as("signal"),
          GraftQuery.roundNorm($"macd" - $"signal", 4).as("hist"))
        .orderBy($"event_type", $"d")
    },
    Some {
      val K = 16; val K9 = 8
      val a12 = 2.0 / 13; val a26 = 2.0 / 27; val a9 = 2.0 / 10
      def emaSql(src: String, alpha: Double, k: Int, win: String): String = {
        val ws = (0 until k).map(i => alpha * math.pow(1 - alpha, i))
        val num = ws.zipWithIndex.map { case (wt, i) =>
          s"coalesce(lag($src, $i) OVER $win * $wt, 0.0)" }.mkString(" + ")
        val den = ws.zipWithIndex.map { case (wt, i) =>
          s"(CASE WHEN lag($src, $i) OVER $win IS NOT NULL THEN $wt ELSE 0.0 END)"
        }.mkString(" + ")
        s"(($num) / ($den))"
      }
      s"""WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                   CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
            FROM events GROUP BY 1, 2),
          vd AS (SELECT event_type, d, v, CAST(v AS DOUBLE) AS vd FROM daily),
          m AS (SELECT event_type, d, v,
                       ${emaSql("vd", a12, K, "w")} - ${emaSql("vd", a26, K, "w")} AS macd
                FROM vd
                WINDOW w AS (PARTITION BY event_type ORDER BY d)),
          sg AS (SELECT event_type, d, v, macd,
                        ${emaSql("macd", a9, K9, "w")} AS signal
                 FROM m
                 WINDOW w AS (PARTITION BY event_type ORDER BY d))
          SELECT event_type, d, v,
                 ${GraftQuery.roundNormSql("macd", 4)} AS macd,
                 ${GraftQuery.roundNormSql("signal", 4)} AS signal,
                 ${GraftQuery.roundNormSql("macd - signal", 4)} AS hist
          FROM sg ORDER BY event_type, d"""
    }
  )

  /** Lo–MacKinlay variance-ratio test over the daily revenue diffs — the
    * random-walk diagnostic ("do day-over-day changes compound
    * independently?"): VR(k) = Var(k-day summed diffs)/(k·Var(diffs));
    * VR ≈ 1 under a random walk, < 1 under mean reversion, > 1 under
    * momentum. Emitted for k = 2 and 4 per event type.
    *
    * Determinism: diffs and their k-sums are exact BIGINT window folds;
    * each variance is one (n, Σ, Σ²) sufficient-statistic aggregate over
    * exact ints (Σ² overflow-gated off the same row), so every VR is a
    * fixed scalar chain over identical integers. Full k-windows only.
    *
    * Scale shape: ts_drawdown's — one hash aggregate onto the bounded
    * (type, day) domain, one lag+rolling window pass, three bounded
    * variance aggregates joined back broadcast. */
  val varRatio: GraftQuery = GraftQuery(
    "ts_var_ratio",
    (s, dir) => {
      import s.implicits._
      val wl = Window.partitionBy($"event_type").orderBy($"d")
      val diffs = changepointDaily(s, dir)
        .withColumn("r", $"v" - lag($"v", 1).over(wl))
        .withColumn("r2", $"r" + lag($"r", 1).over(wl))
        .withColumn("r4", $"r" + lag($"r", 1).over(wl)
          + lag($"r", 2).over(wl) + lag($"r", 3).over(wl))
      def varAgg(c: String, tag: String) = Seq(
        count(col(c)).as(s"n_$tag"), sum(col(c)).as(s"s_$tag"),
        GraftQuery.guarded(sum(col(c) * col(c)),
          count(col(c)).cast("double")
            * max(abs(col(c))).cast("double") * max(abs(col(c))).cast("double")
            < lit(9e18),
          s"ts_var_ratio: \u03a3r\u00b2 ($tag) fold past BIGINT headroom "
            + "\u2014 rescale to a coarser unit").as(s"q_$tag"))
      val aggs = varAgg("r", "1") ++ varAgg("r2", "2") ++ varAgg("r4", "4")
      def v(tag: String): Column =
        (col(s"n_$tag").cast("double") * col(s"q_$tag").cast("double")
          - col(s"s_$tag").cast("double") * col(s"s_$tag").cast("double")) /
          (col(s"n_$tag").cast("double") * col(s"n_$tag").cast("double"))
      diffs.groupBy($"event_type")
        .agg(aggs.head, aggs.tail: _*)
        .select($"event_type", $"n_1".as("n_diffs"),
          round(v("2") / (lit(2.0) * v("1")), 6).as("vr2"),
          round(v("4") / (lit(4.0) * v("1")), 6).as("vr4"))
        .orderBy($"event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            df AS (SELECT event_type, d,
                          v - lag(v, 1) OVER w AS r,
                          (v - lag(v, 1) OVER w) + (lag(v, 1) OVER w - lag(v, 2) OVER w) AS r2,
                          (v - lag(v, 1) OVER w) + (lag(v, 1) OVER w - lag(v, 2) OVER w)
                            + (lag(v, 2) OVER w - lag(v, 3) OVER w)
                            + (lag(v, 3) OVER w - lag(v, 4) OVER w) AS r4
                   FROM daily
                   WINDOW w AS (PARTITION BY event_type ORDER BY d)),
            a AS (SELECT event_type,
                         count(r) AS n_1, CAST(sum(r) AS BIGINT) AS s_1,
                         CAST(sum(r * r) AS BIGINT) AS q_1,
                         count(r2) AS n_2, CAST(sum(r2) AS BIGINT) AS s_2,
                         CAST(sum(r2 * r2) AS BIGINT) AS q_2,
                         count(r4) AS n_4, CAST(sum(r4) AS BIGINT) AS s_4,
                         CAST(sum(r4 * r4) AS BIGINT) AS q_4
                  FROM df GROUP BY 1)
            SELECT event_type, n_1 AS n_diffs,
                   (round(((CAST(n_2 AS DOUBLE) * q_2 - CAST(s_2 AS DOUBLE) * s_2)
                          / (CAST(n_2 AS DOUBLE) * n_2))
                         / (2.0 * ((CAST(n_1 AS DOUBLE) * q_1 - CAST(s_1 AS DOUBLE) * s_1)
                                   / (CAST(n_1 AS DOUBLE) * n_1))), 6) + 0.0) AS vr2,
                   (round(((CAST(n_4 AS DOUBLE) * q_4 - CAST(s_4 AS DOUBLE) * s_4)
                          / (CAST(n_4 AS DOUBLE) * n_4))
                         / (4.0 * ((CAST(n_1 AS DOUBLE) * q_1 - CAST(s_1 AS DOUBLE) * s_1)
                                   / (CAST(n_1 AS DOUBLE) * n_1))), 6) + 0.0) AS vr4
            FROM a ORDER BY event_type""")
  )

  /** Difference-in-differences on daily revenue — THE quasi-experimental
    * readout when you can't randomize: purchase days (treated) vs view
    * days (control), pre vs post the calendar midpoint; DiD = the
    * treated post-pre change net of the control's, with a pooled SE and
    * t-statistic. (In production the treated/control split is a real
    * rollout flag; the fixed type pair here exercises the full
    * machinery.)
    *
    * Determinism: the 2×2 cell statistics (n, Σ, Σ²) are exact BIGINT
    * folds (Σ² gated); the midpoint derives from the min/max day (1-row
    * broadcast, SF-independent); DiD/SE/t are a fixed scalar chain over
    * the 4 exact cells.
    *
    * Scale shape: one hash aggregate onto the bounded (type, day)
    * domain, one 4-cell aggregate — nothing global ever materializes. */
  val did: GraftQuery = GraftQuery(
    "ts_did",
    (s, dir) => {
      import s.implicits._
      val daily = changepointDaily(s, dir)
        .filter($"event_type".isin("purchase", "view"))
      val bounds = daily.agg(min($"d").as("d0"), max($"d").as("d1"))
      val cells = daily.crossJoin(broadcast(bounds))
        .withColumn("treat", when($"event_type" === "purchase", 1L).otherwise(0L))
        .withColumn("post",
          when(datediff($"d", $"d0") * 2 > datediff($"d1", $"d0"), 1L)
            .otherwise(0L))
        .groupBy($"treat", $"post")
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"),
          GraftQuery.guarded(sum($"v" * $"v"),
            count(lit(1)).cast("double") * max(abs($"v")).cast("double")
              * max(abs($"v")).cast("double") < lit(9e18),
            "ts_did: \u03a3v\u00b2 cell fold past BIGINT headroom \u2014 "
              + "rescale to a coarser unit").as("qv"))
        .withColumn("mean", $"sv".cast("double") / $"n".cast("double"))
        .withColumn("varm", // variance of the cell MEAN: s\u00b2/n
          ($"n".cast("double") * $"qv".cast("double")
            - $"sv".cast("double") * $"sv".cast("double"))
            / ($"n".cast("double") * $"n".cast("double")
              * ($"n".cast("double") - 1.0)))
      cells.agg(
          sum(when($"treat" === 1L && $"post" === 1L, $"n")).as("n_t_post"),
          sum(when($"treat" === 1L && $"post" === 0L, $"n")).as("n_t_pre"),
          sum(when($"treat" === 0L && $"post" === 1L, $"n")).as("n_c_post"),
          sum(when($"treat" === 0L && $"post" === 0L, $"n")).as("n_c_pre"),
          sum(when($"treat" === 1L && $"post" === 1L, $"mean")).as("m_t_post"),
          sum(when($"treat" === 1L && $"post" === 0L, $"mean")).as("m_t_pre"),
          sum(when($"treat" === 0L && $"post" === 1L, $"mean")).as("m_c_post"),
          sum(when($"treat" === 0L && $"post" === 0L, $"mean")).as("m_c_pre"),
          sum($"varm").as("var_did"))
        .select($"n_t_post", $"n_t_pre", $"n_c_post", $"n_c_pre",
          round($"m_t_post", 4).as("m_t_post"),
          round($"m_t_pre", 4).as("m_t_pre"),
          round($"m_c_post", 4).as("m_c_post"),
          round($"m_c_pre", 4).as("m_c_pre"),
          round(($"m_t_post" - $"m_t_pre") - ($"m_c_post" - $"m_c_pre"), 4)
            .as("did_cents"),
          round(sqrt($"var_did"), 4).as("se"),
          round((($"m_t_post" - $"m_t_pre") - ($"m_c_post" - $"m_c_pre"))
            / sqrt($"var_did"), 6).as("t_stat"))
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events
              WHERE event_type IN ('purchase', 'view')
              GROUP BY 1, 2),
            b AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
            t AS (SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS treat,
                         CASE WHEN date_diff('day', b.d0, d) * 2
                                   > date_diff('day', b.d0, b.d1)
                              THEN 1 ELSE 0 END AS post,
                         v
                  FROM daily CROSS JOIN b),
            c AS (SELECT treat, post, count(*) AS n,
                         CAST(sum(v) AS BIGINT) AS sv,
                         CAST(sum(v * v) AS BIGINT) AS qv
                  FROM t GROUP BY 1, 2),
            m AS (SELECT treat, post, n,
                         CAST(sv AS DOUBLE) / n AS mean,
                         (CAST(n AS DOUBLE) * qv - CAST(sv AS DOUBLE) * sv)
                           / (CAST(n AS DOUBLE) * n * (n - 1.0)) AS varm
                  FROM c),
            a AS (SELECT
                    CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN n END) AS BIGINT) AS n_t_post,
                    CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN n END) AS BIGINT) AS n_t_pre,
                    CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN n END) AS BIGINT) AS n_c_post,
                    CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN n END) AS BIGINT) AS n_c_pre,
                    sum(CASE WHEN treat = 1 AND post = 1 THEN mean END) AS m_t_post,
                    sum(CASE WHEN treat = 1 AND post = 0 THEN mean END) AS m_t_pre,
                    sum(CASE WHEN treat = 0 AND post = 1 THEN mean END) AS m_c_post,
                    sum(CASE WHEN treat = 0 AND post = 0 THEN mean END) AS m_c_pre,
                    sum(varm) AS var_did
                  FROM m)
            SELECT n_t_post, n_t_pre, n_c_post, n_c_pre,
                   (round(m_t_post, 4) + 0.0) AS m_t_post,
                   (round(m_t_pre, 4) + 0.0) AS m_t_pre,
                   (round(m_c_post, 4) + 0.0) AS m_c_post,
                   (round(m_c_pre, 4) + 0.0) AS m_c_pre,
                   (round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 4) + 0.0) AS did_cents,
                   (round(sqrt(var_did), 4) + 0.0) AS se,
                   (round(((m_t_post - m_t_pre) - (m_c_post - m_c_pre))
                         / sqrt(var_did), 6) + 0.0) AS t_stat
            FROM a""")
  )

  /** Classical additive decomposition of the daily revenue series —
    * trend (centered 7-day moving average), day-of-week seasonal
    * component (mean detrended value per weekday), and the residual:
    * the decomposition every seasonal-anomaly pipeline runs before
    * thresholding (an alert on the RAW series fires every weekend; an
    * alert on the residual fires on real anomalies).
    *
    * Determinism — exact rational detrending: the centered-window sum
    * t7 is an exact BIGINT, so the detrended numerator 7·v − t7 is too;
    * the seasonal component is a ratio of exact integer folds
    * (Σ(7v−t7) / (7·n_dow)); trend/seasonal/residual are then fixed
    * scalar chains over exact ints, rounded at the projection. Only
    * full 7-day centered windows emit (the textbook edge rule).
    *
    * Scale shape: one hash aggregate onto the bounded (type, day)
    * domain, one centered window, one ≤|types|·7-row seasonal aggregate
    * broadcast back. */
  val decompose: GraftQuery = GraftQuery(
    "ts_decompose",
    (s, dir) => {
      import s.implicits._
      val w7 = Window.partitionBy($"event_type").orderBy($"d").rowsBetween(-3, 3)
      val base = changepointDaily(s, dir)
        .withColumn("n7", count(lit(1)).over(w7))
        .withColumn("t7", sum($"v").over(w7))
        .filter($"n7" === 7L)
        .withColumn("dow", dayofweek($"d"))
        .withColumn("detr_num", $"v" * 7L - $"t7") // 7·(v − trend), exact
        .localCheckpoint() // seasonal aggregate and the readout both scan it
      val seasonal = base.groupBy($"event_type", $"dow")
        .agg(sum($"detr_num").as("sdn"), count(lit(1)).as("ndow"))
      base.join(broadcast(seasonal), Seq("event_type", "dow"))
        .select($"event_type", $"d", $"v",
          round($"t7".cast("double") / 7.0, 4).as("trend"),
          round($"sdn".cast("double") / (lit(7.0) * $"ndow".cast("double")), 4)
            .as("seasonal"),
          round($"detr_num".cast("double") / 7.0
            - $"sdn".cast("double") / (lit(7.0) * $"ndow".cast("double")), 4)
            .as("residual"))
        .orderBy($"event_type", $"d")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            r AS (SELECT event_type, d, v,
                         CAST(count(*) OVER w AS BIGINT) AS n7,
                         CAST(sum(v) OVER w AS BIGINT) AS t7
                  FROM daily
                  WINDOW w AS (PARTITION BY event_type ORDER BY d
                               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            f AS (SELECT event_type, d, v, t7,
                         CAST(dayofweek(d) AS INT) + 1 AS dow,
                         v * 7 - t7 AS detr_num
                  FROM r WHERE n7 = 7),
            se AS (SELECT event_type, dow,
                          CAST(sum(detr_num) AS BIGINT) AS sdn,
                          count(*) AS ndow
                   FROM f GROUP BY 1, 2)
            SELECT f.event_type, f.d, f.v,
                   (round(CAST(t7 AS DOUBLE) / 7.0, 4) + 0.0) AS trend,
                   (round(CAST(sdn AS DOUBLE) / (7.0 * ndow), 4) + 0.0) AS seasonal,
                   (round(CAST(detr_num AS DOUBLE) / 7.0
                         - CAST(sdn AS DOUBLE) / (7.0 * ndow), 4) + 0.0) AS residual
            FROM f JOIN se USING (event_type, dow)
            ORDER BY f.event_type, f.d""")
  )

  /** Granger-causality F-test between the click and purchase daily
    * series, both directions — "does yesterday's click volume help
    * predict today's purchases beyond purchases' own history?" (the
    * lead-lag CONFIRMATION step after ts_cross_corr's descriptive
    * lags): restricted AR(1) vs unrestricted AR(1)+cross-lag, F on the
    * RSS drop.
    *
    * Determinism: both series are exact BIGINT cents; the nine
    * sufficient-statistic folds (Σy, Σy₁, Σx₁ and all products) are
    * exact BIGINT sums (gated — a cents product reaches 9e18 only past
    * ~3e9 cents/day at the fixture's 30-day window); both regressions
    * solve in closed form (centered normal equations, a fixed scalar
    * chain over the exact sums). The two directions ride one
    * direction-partitioned window, so nothing is unpartitioned.
    *
    * Scale shape: bounded (type, day) domain, one union of two
    * direction frames, one lag window, one 2-row fold. */
  val granger: GraftQuery = GraftQuery(
    "ts_granger",
    (s, dir) => {
      import s.implicits._
      val daily = changepointDaily(s, dir)
        .filter($"event_type".isin("click", "purchase"))
        .localCheckpoint() // both direction frames read it
      val a = daily.filter($"event_type" === "click")
        .select($"d", $"v".as("va"))
      val b = daily.filter($"event_type" === "purchase")
        .select($"d", $"v".as("vb"))
      val joined = a.join(b.hint("shuffle_hash"), "d").localCheckpoint()
      val dirs = joined.select(lit("click->purchase").as("dn"),
          $"d", $"vb".as("y"), $"vb".as("own"), $"va".as("cross"))
        .unionAll(joined.select(lit("purchase->click").as("dn"),
          $"d", $"va".as("y"), $"va".as("own"), $"vb".as("cross")))
      val w = Window.partitionBy($"dn").orderBy($"d")
      val lagged = dirs
        .withColumn("y1", lag($"own", 1).over(w))
        .withColumn("x1", lag($"cross", 1).over(w))
        .filter($"y1".isNotNull)
      // Precondition on the UN-multiplied factors (guardedProdSum,
      // ADVICE r15): a per-row Long product wraps before any guard over
      // the multiplied column can see it. y/y1/x1 are raw daily totals
      // and their lags, so each factor bounds by its own max|\u00b7|.
      def g(prod: Column, bs: Seq[Column], tag: String) =
        GraftQuery.guardedProdSum(prod,
          bs.map(b => max(abs(b)).cast("double")),
          s"ts_granger: $tag fold past BIGINT headroom \u2014 rescale to a "
            + "coarser unit")
      val sums = lagged.groupBy($"dn").agg(count(lit(1)).as("n"),
        sum($"y").as("sy"), sum($"y1").as("s1"), sum($"x1").as("s2"),
        g($"y" * $"y", Seq($"y", $"y"), "\u03a3y\u00b2").as("syy"),
        g($"y" * $"y1", Seq($"y", $"y1"), "\u03a3yy\u2081").as("sy1"),
        g($"y" * $"x1", Seq($"y", $"x1"), "\u03a3yx\u2081").as("sy2"),
        g($"y1" * $"y1", Seq($"y1", $"y1"), "\u03a3y\u2081\u00b2").as("s11"),
        g($"x1" * $"x1", Seq($"x1", $"x1"), "\u03a3x\u2081\u00b2").as("s22"),
        g($"y1" * $"x1", Seq($"y1", $"x1"), "\u03a3y\u2081x\u2081").as("s12"))
      def d(c: Column) = c.cast("double")
      sums
        .withColumn("cyy", d($"syy") - d($"sy") * d($"sy") / d($"n"))
        .withColumn("c1y", d($"sy1") - d($"s1") * d($"sy") / d($"n"))
        .withColumn("c2y", d($"sy2") - d($"s2") * d($"sy") / d($"n"))
        .withColumn("c11", d($"s11") - d($"s1") * d($"s1") / d($"n"))
        .withColumn("c22", d($"s22") - d($"s2") * d($"s2") / d($"n"))
        .withColumn("c12", d($"s12") - d($"s1") * d($"s2") / d($"n"))
        .withColumn("rss_r", $"cyy" - $"c1y" * $"c1y" / $"c11")
        .withColumn("det", $"c11" * $"c22" - $"c12" * $"c12")
        .withColumn("b1", ($"c1y" * $"c22" - $"c2y" * $"c12") / $"det")
        .withColumn("b2", ($"c2y" * $"c11" - $"c1y" * $"c12") / $"det")
        .withColumn("rss_u", $"cyy" - $"b1" * $"c1y" - $"b2" * $"c2y")
        .select($"dn".as("direction"), $"n".as("n_days"),
          round($"b2", 6).as("b_cross"),
          round((($"rss_r" - $"rss_u") * (d($"n") - lit(3.0))) / $"rss_u", 4)
            .as("f_stat"))
        .orderBy($"direction")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events
              WHERE event_type IN ('click', 'purchase')
              GROUP BY 1, 2),
            j AS (SELECT a.d, a.v AS va, b.v AS vb
                  FROM daily a JOIN daily b ON a.d = b.d
                  WHERE a.event_type = 'click' AND b.event_type = 'purchase'),
            dirs AS (
              SELECT 'click->purchase' AS dn, d, vb AS y, vb AS own, va AS crs FROM j
              UNION ALL
              SELECT 'purchase->click' AS dn, d, va AS y, va AS own, vb AS crs FROM j),
            lagged AS (
              SELECT dn, y,
                     lag(own, 1) OVER (PARTITION BY dn ORDER BY d) AS y1,
                     lag(crs, 1) OVER (PARTITION BY dn ORDER BY d) AS x1
              FROM dirs QUALIFY y1 IS NOT NULL),
            a AS (SELECT dn, count(*) AS n,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(y1) AS BIGINT) AS s1,
                         CAST(sum(x1) AS BIGINT) AS s2,
                         CAST(sum(y * y) AS BIGINT) AS syy,
                         CAST(sum(y * y1) AS BIGINT) AS sy1,
                         CAST(sum(y * x1) AS BIGINT) AS sy2,
                         CAST(sum(y1 * y1) AS BIGINT) AS s11,
                         CAST(sum(x1 * x1) AS BIGINT) AS s22,
                         CAST(sum(y1 * x1) AS BIGINT) AS s12
                  FROM lagged GROUP BY 1),
            c AS (SELECT dn, n,
                         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy,
                         CAST(sy1 AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n AS c1y,
                         CAST(sy2 AS DOUBLE) - CAST(s2 AS DOUBLE) * sy / n AS c2y,
                         CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n AS c11,
                         CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n AS c22,
                         CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n AS c12
                  FROM a),
            f AS (SELECT dn, n, cyy, c1y, c2y,
                         cyy - c1y * c1y / c11 AS rss_r,
                         c11 * c22 - c12 * c12 AS det,
                         (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
                         (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
                  FROM c)
            SELECT dn AS direction, n AS n_days,
                   (round(b2, 6) + 0.0) AS b_cross,
                   (round(((rss_r - (cyy - b1 * c1y - b2 * c2y))
                          * (CAST(n AS DOUBLE) - 3.0))
                         / (cyy - b1 * c1y - b2 * c2y), 4) + 0.0) AS f_stat
            FROM f ORDER BY direction""")
  )

  /** Engle–Granger COINTEGRATION test on the daily click/purchase cent
    * series — "do the two series share a common stochastic trend?", the
    * pairs-relationship diagnostic run before building any ratio/spread
    * feature on two drifting metrics (correlation on nonstationary
    * series is spurious; cointegration is the defensible statement).
    *
    * Two-step EG: (1) OLS y~x on exact BIGINT cent sums — beta/alpha
    * are exact-rational-derived doubles (the ts_ols discipline); (2) a
    * Dickey–Fuller t-test on the residuals, Δu_t = ρ·u_{t−1} + ε.
    *
    * THE QUANTIZED-RESIDUAL DESIGN (the determinism risk that had this
    * operator cut in r14): the stage-2 sums Σu_{t−1}Δu_t, Σu², ΣΔu²
    * over raw double residuals would be order-dependent double folds —
    * DuckDB's sum association ≠ Spark's (the ts_cusum trap). Instead
    * the residuals QUANTIZE to integer cents first: u_t is the same
    * IEEE expression on both engines (identical alpha/beta doubles,
    * integer inputs → bit-identical per-row doubles), floor() of
    * identical doubles is an identical BIGINT, and every stage-2 fold
    * is then exact integer arithmetic at any association. SSE expands
    * through the sufficient statistics (Syy − 2ρSxy + ρ²Sxx), never a
    * per-row double fold. The cointegrated flag compares the ROUNDED t
    * against the 5% EG critical value (−3.34, coefficients-estimated
    * case) — the llm_sim_range boundary rule.
    *
    * Scale shape: one hash aggregate to the day domain, a 1-row OLS
    * broadcast back onto the day table, one unpartitioned lag over the
    * REDUCED day-domain series (bounded by calendar days — the
    * ts_cumulative_users precedent), two guarded integer folds. */
  /** The Engle–Granger fold over a merged (event_type, d, v) daily-cents
    * table — shared verbatim by ts_cointegration (one-pass daily
    * aggregate) and stream_cointegration (waves of day-domain integer
    * partials merged by sum): identical input rows → identical OLS,
    * identical IEEE residuals, identical floors, identical BIGINT
    * stage-2 folds — which is why the streaming twin grades against the
    * batch oracle verbatim. */
  private[graft] def cointegrationFold(s: SparkSession,
                                       daily: DataFrame): DataFrame = {
    import s.implicits._
    val xs = daily.filter($"event_type" === "click").select($"d", $"v".as("x"))
      val ys = daily.filter($"event_type" === "purchase").select($"d", $"v".as("y"))
      val j = xs.join(ys.hint("shuffle_hash"), "d").localCheckpoint()
      // Guards state the precondition on the UN-multiplied factors
      // (GraftQuery.guardedProdSum, ADVICE r15): the per-row Long
      // product x·x itself wraps at daily sums ≥ ~3.04e9 cents, before
      // any guard over the multiplied column could see it.
      def g(prod: Column, bs: Seq[Column], tag: String) =
        graft.GraftQuery.guardedProdSum(prod, bs.map(_.cast("double")),
          s"ts_cointegration: $tag fold past BIGINT headroom — rescale to a " +
            "coarser unit")
      def d(c: Column) = c.cast("double")
      val ab = j.agg(count(lit(1)).as("n"),
          sum($"x").as("sx"), sum($"y").as("sy"),
          g($"x" * $"x", Seq(max(abs($"x")), max(abs($"x"))), "Σx²").as("sxx"),
          g($"x" * $"y", Seq(max(abs($"x")), max(abs($"y"))), "Σxy").as("sxy"))
        .withColumn("cxx", d($"sxx") - d($"sx") * d($"sx") / d($"n"))
        .withColumn("cxy", d($"sxy") - d($"sx") * d($"sy") / d($"n"))
        .withColumn("beta", $"cxy" / $"cxx")
        .withColumn("alpha", (d($"sy") - $"beta" * d($"sx")) / d($"n"))
        .select($"n", $"beta", $"alpha")
      val resid = j.crossJoin(broadcast(ab))
        .withColumn("ru",
          floor(d($"y") - $"alpha" - $"beta" * d($"x")).cast("long"))
        .select($"d", $"ru")
      val w = Window.orderBy($"d")
      val lagged = resid
        .withColumn("ru1", lag($"ru", 1).over(w))
        .filter($"ru1".isNotNull)
        .withColumn("du", $"ru" - $"ru1")
      // Δu = ru − ru1 is itself a derived Long; bound it by
      // max|ru| + max|ru1| from the un-multiplied inputs so neither the
      // per-row subtraction nor the products can have wrapped unseen.
      val duBound = max(abs($"ru")) + max(abs($"ru1"))
      lagged.agg(count(lit(1)).as("n2"),
          g($"ru1" * $"ru1", Seq(max(abs($"ru1")), max(abs($"ru1"))), "Σu²").as("sxx2"),
          g($"ru1" * $"du", Seq(max(abs($"ru1")), duBound), "Σu·Δu").as("sxy2"),
          g($"du" * $"du", Seq(duBound, duBound), "ΣΔu²").as("syy2"))
        .crossJoin(broadcast(ab))
        .withColumn("rho", d($"sxy2") / d($"sxx2"))
        .withColumn("sse",
          d($"syy2") - lit(2.0) * $"rho" * d($"sxy2")
            + $"rho" * $"rho" * d($"sxx2"))
        .withColumn("adf_t", graft.GraftQuery.roundNorm(
          $"rho" / sqrt(($"sse" / (d($"n2") - lit(1.0))) / d($"sxx2")), 4))
        .select($"n".as("n_days"),
          graft.GraftQuery.roundNorm($"beta", 6).as("beta"),
          graft.GraftQuery.roundNorm($"alpha", 4).as("alpha_cents"),
          $"adf_t",
          ($"adf_t" < lit(-3.34)).as("cointegrated"))
  }

  /** The one-pass daily-cents aggregate feeding [[cointegrationFold]]. */
  private[graft] def cointegrationDaily(s: SparkSession,
                                        dir: String): DataFrame = {
    import s.implicits._
    val cents = expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    Tables.events(s, dir)
      .filter($"event_type".isin("click", "purchase"))
      .select($"event_type", to_date($"ts").as("d"), cents.as("c"))
      .groupBy($"event_type", $"d").agg(sum($"c").as("v"))
  }

  val cointegration: GraftQuery = GraftQuery(
    "ts_cointegration",
    (s, dir) => cointegrationFold(s, cointegrationDaily(s, dir)),
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events
              WHERE event_type IN ('click', 'purchase')
              GROUP BY 1, 2),
            j AS (SELECT a.d, a.v AS x, b.v AS y
                  FROM daily a JOIN daily b ON a.d = b.d
                  WHERE a.event_type = 'click' AND b.event_type = 'purchase'),
            s1 AS (SELECT count(*) AS n,
                          CAST(sum(x) AS BIGINT) AS sx,
                          CAST(sum(y) AS BIGINT) AS sy,
                          CAST(sum(x * x) AS BIGINT) AS sxx,
                          CAST(sum(x * y) AS BIGINT) AS sxy
                   FROM j),
            ab AS (SELECT n,
                          (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                            / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                            AS beta
                   FROM s1),
            ab2 AS (SELECT s1.n, ab.beta,
                           (CAST(s1.sy AS DOUBLE) - ab.beta * CAST(s1.sx AS DOUBLE)) / CAST(s1.n AS DOUBLE) AS alpha
                    FROM s1, ab),
            resid AS (
              SELECT j.d,
                     CAST(floor(CAST(j.y AS DOUBLE) - ab2.alpha
                                - ab2.beta * CAST(j.x AS DOUBLE)) AS BIGINT) AS ru
              FROM j, ab2),
            lagged AS (
              SELECT ru, lag(ru) OVER (ORDER BY d) AS ru1
              FROM resid QUALIFY ru1 IS NOT NULL),
            s2 AS (SELECT count(*) AS n2,
                          CAST(sum(ru1 * ru1) AS BIGINT) AS sxx2,
                          CAST(sum(ru1 * (ru - ru1)) AS BIGINT) AS sxy2,
                          CAST(sum((ru - ru1) * (ru - ru1)) AS BIGINT) AS syy2
                   FROM lagged),
            fin AS (
              SELECT ab2.n, ab2.beta, ab2.alpha, s2.n2,
                     CAST(s2.sxy2 AS DOUBLE) / CAST(s2.sxx2 AS DOUBLE) AS rho,
                     s2.sxx2, s2.sxy2, s2.syy2
              FROM s2, ab2),
            tst AS (
              SELECT n, beta, alpha, n2, rho, sxx2,
                     CAST(syy2 AS DOUBLE) - 2.0 * rho * CAST(sxy2 AS DOUBLE)
                       + rho * rho * CAST(sxx2 AS DOUBLE) AS sse
              FROM fin)
            SELECT n AS n_days,
                   (round(beta, 6) + 0.0) AS beta,
                   (round(alpha, 4) + 0.0) AS alpha_cents,
                   (round(rho / sqrt((sse / (CAST(n2 AS DOUBLE) - 1.0))
                                     / CAST(sxx2 AS DOUBLE)), 4) + 0.0) AS adf_t,
                   (round(rho / sqrt((sse / (CAST(n2 AS DOUBLE) - 1.0))
                                     / CAST(sxx2 AS DOUBLE)), 4) + 0.0) < -3.34
                     AS cointegrated
            FROM tst""")
  )

  /** Per-day session concurrency via the SWEEP-LINE device — peak
    * simultaneous sessions and the exact count of overlapping session
    * pairs per calendar day, off the ts_sessionize session table: the
    * capacity-planning readout ("how many concurrent sessions must the
    * serving tier hold?") and the interval-overlap operator Spark lacks
    * natively, done scale-correctly.
    *
    * The scale point: a pairwise interval join is QUADRATIC in
    * concurrent sessions; the sweep line is linear — each session emits
    * a +1/−1 boundary event, a day-partitioned ordered cumsum is the
    * live concurrency, the peak is its max, and overlapping PAIRS fall
    * out exactly as Σ(concurrency − 1) over start events (each pair
    * counted once, at the later start; ties pinned by a total order).
    * Sessions crossing midnight split into per-day clips (sequence over
    * the span), so the window partitions by DAY — never a global sort.
    * All arithmetic is exact epoch-second BIGINTs.
    *
    * Sessions come from the shared two-level [[sessionFrame]] (r14):
    * no single-level per-user window anywhere in this plan, so a 4M-row
    * bot user costs one user-DAY sort, not one user-history sort. The
    * sweep itself is two-leveled by (day, hour) since r15: the in-day
    * cumsum over boundary events is an integer prefix sum, so it
    * reassembles exactly from within-hour running sums plus the carry
    * of previous hour-bucket totals — a hyper-hot day spreads over its
    * ~24 hour tasks instead of funneling into one. */
  val concurrency: GraftQuery = GraftQuery(
    "ts_concurrency",
    (s, dir) => {
      import s.implicits._
      // Sessions come from the shared two-level sessionFrame (r14: this
      // query previously re-derived them with the single-level per-user
      // window the r13 skew ladder measured at 3.4× under a 4M-row bot).
      val sessions = sessionFrame(s, dir).groupBy($"user_id", $"session_seq")
        .agg(min($"ts").cast("long").as("t0"), max($"ts").cast("long").as("t1"))
      val clips = sessions
        .withColumn("day", explode(sequence(
          to_date(from_unixtime($"t0")), to_date(from_unixtime($"t1")))))
        .withColumn("d0", $"day".cast("timestamp").cast("long"))
        .withColumn("cs", greatest($"t0", $"d0"))
        .withColumn("ce", least($"t1" + 1L, $"d0" + 86400L))
      val events = clips.select($"user_id", $"session_seq", $"day",
          explode(array(
            struct($"cs".as("t"), lit(1L).as("dl")),
            struct($"ce".as("t"), lit(-1L).as("dl")))).as("e"))
        .select($"user_id", $"session_seq", $"day",
          $"e.t".as("t"), $"e.dl".as("dl"))
      // TWO-LEVEL (day, hour) sweep (r15, closing the Scaladoc's own
      // escalation note): the in-day cumulative sum is an INTEGER prefix
      // sum over (t, dl, user_id, session_seq) order, and hour(t) is
      // monotone in t (ties share an hour), so cum = carry(previous
      // hour-buckets' +/-1 totals within the day) + within-bucket
      // running sum — bit-identical to the single-DAY window
      // (TwoLevelParitySpec pins it), with a hyper-hot day now spread
      // over its 24-25 hour tasks instead of one.
      val ev2 = events.withColumn("hr", ($"t" / 3600L).cast("long"))
      val wh = Window.partitionBy($"day", $"hr")
        .orderBy($"t", $"dl", $"user_id", $"session_seq")
        .rowsBetween(Window.unboundedPreceding, 0)
      val local = ev2.withColumn("lcum", sum($"dl").over(wh))
      val wdh = Window.partitionBy($"day").orderBy($"hr")
        .rowsBetween(Window.unboundedPreceding, -1)
      val carried = ev2.groupBy($"day", $"hr").agg(sum($"dl").as("htot"))
        .withColumn("carry", coalesce(sum($"htot").over(wdh), lit(0L)))
        .select($"day", $"hr", $"carry")
      local.join(carried.hint("shuffle_hash"), Seq("day", "hr"))
        .withColumn("cum", $"carry" + $"lcum")
        .groupBy($"day")
        .agg(sum(when($"dl" === 1L, 1L).otherwise(0L)).as("n_sessions"),
          max($"cum").as("peak_concurrency"),
          sum(when($"dl" === 1L, $"cum" - 1L).otherwise(0L)).as("overlap_pairs"))
        .orderBy($"day")
    },
    Some("""WITH flagged AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR date_diff('second', lag(ts) OVER w, ts) > 43200
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT user_id,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_seq,
                     ts
              FROM flagged),
            spans AS (
              SELECT user_id, session_seq,
                     CAST(floor(epoch(min(ts))) AS BIGINT) AS t0,
                     CAST(floor(epoch(max(ts))) AS BIGINT) AS t1
              FROM sess GROUP BY 1, 2),
            clips AS (
              SELECT user_id, session_seq,
                     CAST(u.day AS DATE) AS day,
                     greatest(t0, CAST(epoch(CAST(CAST(u.day AS DATE) AS TIMESTAMP)) AS BIGINT)) AS cs,
                     least(t1 + 1, CAST(epoch(CAST(CAST(u.day AS DATE) AS TIMESTAMP)) AS BIGINT) + 86400) AS ce
              FROM spans,
                   unnest(generate_series(CAST(to_timestamp(t0) AS DATE),
                                          CAST(to_timestamp(t1) AS DATE),
                                          INTERVAL 1 DAY)) u(day)),
            ev AS (
              SELECT user_id, session_seq, day, cs AS t, CAST(1 AS BIGINT) AS dl FROM clips
              UNION ALL
              SELECT user_id, session_seq, day, ce AS t, CAST(-1 AS BIGINT) AS dl FROM clips),
            c AS (
              SELECT day, dl,
                     CAST(sum(dl) OVER (PARTITION BY day
                       ORDER BY t, dl, user_id, session_seq
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
              FROM ev)
            SELECT day,
                   CAST(sum(CASE WHEN dl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                   CAST(max(cum) AS BIGINT) AS peak_concurrency,
                   CAST(sum(CASE WHEN dl = 1 THEN cum - 1 ELSE 0 END) AS BIGINT) AS overlap_pairs
            FROM c GROUP BY day ORDER BY day""")
  )

  def all: Seq[GraftQuery] =
    Seq(asofJoin, asofTolerance, gapFill, ntileRanks, skewSalted, resample, funnel,
      funnelWindowed, sessionize, attribution, pathsTopK, calendarProrate, cumulativeUsers, retention, anomaly, interpolate, ewma,
      crossCorr, outlierMad, rollingMedian, cusum, seasonality, mkTrend,
      theilSen, acf, changepoint, pacf, peaks, streaks, holt, ols, holtWinters,
      asofNearest, rollingOls, forecastEval, activeUsers, wowGrowth, holtDamped,
      holtWintersDamped, croston, intermittency, drawdown, bollinger, rsi,
      smaCross, macd, varRatio, did, decompose, granger, concurrency,
      adf, hurst, cointegration)

  /** AUGMENTED DICKEY–FULLER unit-root test per event type over the
    * daily revenue series — "is this metric a random walk or does it
    * mean-revert?", the stationarity precondition every forecasting
    * operator in this family (holt, ols, var_ratio) implicitly assumes;
    * ADF is the standard formal check. Model: Δv_t = α + β·v_{t−1} +
    * γ·Δv_{t−1} + ε (one augmentation lag), test β = 0; t(β) below the
    * 5% critical value (−2.89, constant-only asymptotic) rejects the
    * unit root.
    *
    * Determinism — the ts_granger discipline verbatim: the centered
    * two-regressor normal equations need only (n, Σ, pairwise ΣXY)
    * sufficient statistics, each an exact guarded BIGINT fold over
    * cents; β̂, RSS, se(β̂) = √(s²·c22/det) are then fixed scalar chains
    * over identical doubles; the critical value interpolates as one
    * shared literal.
    *
    * Scale shape: one hash aggregate onto the bounded (type, day)
    * domain, one lag window pass partitioned by event_type, one bounded
    * aggregate to the 5-row type domain. */
  val adf: GraftQuery = GraftQuery(
    "ts_adf",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"d")
      val lagged = changepointDaily(s, dir)
        .withColumn("v1", lag($"v", 1).over(w))
        .withColumn("v2", lag($"v", 2).over(w))
        .filter($"v2".isNotNull)
        .select($"event_type", $"v", $"v2", // raw terms kept for the bounds
          ($"v" - $"v1").as("y"),    // Δv_t
          $"v1".as("x1"),            // v_{t-1}
          ($"v1" - $"v2").as("x2"))  // Δv_{t-1}
      // Precondition on the UN-multiplied factors (guardedProdSum,
      // ADVICE r15): y and x2 are derived Long differences, so they
      // bound by the sum of their raw terms' maxima — computed from v /
      // v1 / v2 directly, before any subtraction or product can wrap.
      def g(prod: Column, bs: Seq[Column], tag: String) =
        GraftQuery.guardedProdSum(prod, bs.map(_.cast("double")),
          s"ts_adf: $tag fold past BIGINT headroom — rescale to a coarser unit")
      val by = max(abs($"v")) + max(abs($"x1"))   // |Δv_t| ≤ max|v| + max|v₁|
      val b1 = max(abs($"x1"))
      val b2 = max(abs($"x1")) + max(abs($"v2"))  // |Δv_{t-1}| bound
      val sums = lagged.groupBy($"event_type").agg(count(lit(1)).as("n"),
        sum($"y").as("sy"), sum($"x1").as("s1"), sum($"x2").as("s2"),
        g($"y" * $"y", Seq(by, by), "Σy²").as("syy"),
        g($"y" * $"x1", Seq(by, b1), "Σyx₁").as("sy1"),
        g($"y" * $"x2", Seq(by, b2), "Σyx₂").as("sy2"),
        g($"x1" * $"x1", Seq(b1, b1), "Σx₁²").as("s11"),
        g($"x2" * $"x2", Seq(b2, b2), "Σx₂²").as("s22"),
        g($"x1" * $"x2", Seq(b1, b2), "Σx₁x₂").as("s12"))
      def d(c: Column) = c.cast("double")
      sums
        .withColumn("c1y", d($"sy1") - d($"s1") * d($"sy") / d($"n"))
        .withColumn("c2y", d($"sy2") - d($"s2") * d($"sy") / d($"n"))
        .withColumn("cyy", d($"syy") - d($"sy") * d($"sy") / d($"n"))
        .withColumn("c11", d($"s11") - d($"s1") * d($"s1") / d($"n"))
        .withColumn("c22", d($"s22") - d($"s2") * d($"s2") / d($"n"))
        .withColumn("c12", d($"s12") - d($"s1") * d($"s2") / d($"n"))
        .withColumn("det", $"c11" * $"c22" - $"c12" * $"c12")
        .withColumn("beta", ($"c1y" * $"c22" - $"c2y" * $"c12") / $"det")
        .withColumn("gamma", ($"c2y" * $"c11" - $"c1y" * $"c12") / $"det")
        .withColumn("rss", $"cyy" - $"beta" * $"c1y" - $"gamma" * $"c2y")
        .withColumn("s2e", $"rss" / (d($"n") - lit(3.0)))
        .withColumn("adf_t", $"beta" / sqrt($"s2e" * $"c22" / $"det"))
        .select($"event_type", $"n".as("n_obs"),
          GraftQuery.roundNorm($"beta" * 1e6, 6).as("beta_ppm"),
          GraftQuery.roundNorm($"adf_t", 4).as("adf_t"),
          when($"adf_t" < -2.89, 1L).otherwise(0L).as("stationary"))
        .orderBy($"event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            lagged AS (
              SELECT event_type,
                     v - v1 AS y, v1 AS x1, v1 - v2 AS x2
              FROM (SELECT event_type, v,
                           lag(v, 1) OVER w AS v1, lag(v, 2) OVER w AS v2
                    FROM daily
                    WINDOW w AS (PARTITION BY event_type ORDER BY d))
              WHERE v2 IS NOT NULL),
            sums AS (
              SELECT event_type, count(*) AS n,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x1) AS BIGINT) AS s1,
                     CAST(sum(x2) AS BIGINT) AS s2,
                     CAST(sum(y * y) AS BIGINT) AS syy,
                     CAST(sum(y * x1) AS BIGINT) AS sy1,
                     CAST(sum(y * x2) AS BIGINT) AS sy2,
                     CAST(sum(x1 * x1) AS BIGINT) AS s11,
                     CAST(sum(x2 * x2) AS BIGINT) AS s22,
                     CAST(sum(x1 * x2) AS BIGINT) AS s12
              FROM lagged GROUP BY 1),
            c AS (
              SELECT event_type, n,
                     CAST(sy1 AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n AS c1y,
                     CAST(sy2 AS DOUBLE) - CAST(s2 AS DOUBLE) * sy / n AS c2y,
                     CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy,
                     CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n AS c11,
                     CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n AS c22,
                     CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n AS c12
              FROM sums),
            f AS (
              SELECT event_type, n,
                     c11 * c22 - c12 * c12 AS det,
                     (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS beta,
                     (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS gamma,
                     cyy, c1y, c2y, c22
              FROM c),
            t AS (
              SELECT event_type, n, beta, det, c22,
                     (cyy - beta * c1y - gamma * c2y) / (CAST(n AS DOUBLE) - 3.0) AS s2e
              FROM f)
            SELECT event_type, n AS n_obs,
                   (round(beta * 1e6, 6) + 0.0) AS beta_ppm,
                   (round(beta / sqrt(s2e * c22 / det), 4) + 0.0) AS adf_t,
                   CAST(CASE WHEN beta / sqrt(s2e * c22 / det) < -2.89
                        THEN 1 ELSE 0 END AS BIGINT) AS stationary
            FROM t ORDER BY event_type""")
  )

  /** HURST EXPONENT via rescaled-range analysis per event type — the
    * long-memory diagnostic on the daily revenue series (H ≈ 0.5
    * random walk, > 0.5 persistent/trending, < 0.5 mean-reverting):
    * finance's complement to ts_var_ratio, estimated as the log-log
    * slope of the mean R/S statistic across block sizes m = 5 and 10.
    *
    * Determinism — EXACT-INTEGER R/S: within a full m-day block the
    * cumulative deviations scale to integers (m·P_i − i·S is exact
    * BIGINT, P the running prefix, S the block total), so the range
    * max−min is integer-exact, and R/S = (max−min)/√(m·Σv² − S²) is
    * one sqrt of identical integers. Block means over the bounded
    * block domain carry final rounding; H = (ln R̄S₁₀ − ln R̄S₅)/ln 2.
    *
    * Scale shape: one hash aggregate onto the (type, day) domain; the
    * block windows partition by (type, block) — everything after the
    * daily aggregate is O(days). */
  val hurst: GraftQuery = GraftQuery(
    "ts_hurst",
    (s, dir) => {
      import s.implicits._
      val daily = changepointDaily(s, dir).localCheckpoint()
      def rsFor(m: Int): DataFrame = {
        val wt = Window.partitionBy($"event_type").orderBy($"d")
        val blk = daily
          .withColumn("i", row_number().over(wt).cast("long"))
          .withColumn("g", expr(s"(i - 1) div $m"))
        val wb = Window.partitionBy($"event_type", $"g").orderBy($"d")
        val wbAll = wb.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        blk
          .withColumn("j", row_number().over(wb).cast("long"))
          .withColumn("p", sum($"v").over(
            wb.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("sblk", sum($"v").over(wbAll))
          .withColumn("cnt", count(lit(1)).over(wbAll))
          .withColumn("dev", lit(m.toLong) * $"p" - $"j" * $"sblk")
          .filter($"cnt" === m.toLong)
          .groupBy($"event_type", $"g")
          .agg(max($"dev").as("dmax"), min($"dev").as("dmin"),
            GraftQuery.guarded(sum($"v" * $"v"),
              count(lit(1)).cast("double") * max(abs($"v")).cast("double")
                * max(abs($"v")).cast("double") < lit(9e18),
              "ts_hurst: Σv² past BIGINT headroom").as("svv"),
            sum($"v").as("s"))
          .withColumn("disc",
            lit(m.toLong) * $"svv" - $"s" * $"s")
          .filter($"disc" > 0L)
          .withColumn("rs",
            ($"dmax" - $"dmin").cast("double") / sqrt($"disc".cast("double")))
          .groupBy($"event_type")
          .agg(count(lit(1)).as(s"nblk_$m"),
            avg($"rs").as(s"rs_$m"))
      }
      rsFor(5).join(rsFor(10).hint("shuffle_hash"), Seq("event_type"))
        .select($"event_type", $"nblk_5", $"nblk_10",
          GraftQuery.roundNorm($"rs_5", 4).as("rs_5"),
          GraftQuery.roundNorm($"rs_10", 4).as("rs_10"),
          GraftQuery.roundNorm(
            (log($"rs_10") - log($"rs_5")) / log(lit(2.0)), 4).as("hurst"))
        .orderBy($"event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            idx AS (
              SELECT event_type, d, v,
                     CAST(row_number() OVER (PARTITION BY event_type ORDER BY d) AS BIGINT) AS i
              FROM daily),
            b5 AS (
              SELECT event_type, (i - 1) // 5 AS g, d, v,
                     CAST(row_number() OVER wb AS BIGINT) AS j,
                     CAST(sum(v) OVER (wb ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p,
                     CAST(sum(v) OVER (wb ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS sblk,
                     count(*) OVER (wb ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cnt
              FROM idx
              WINDOW wb AS (PARTITION BY event_type, (i - 1) // 5 ORDER BY d)),
            g5 AS (
              SELECT event_type, g,
                     CAST(max(5 * p - j * sblk) AS BIGINT) AS dmax,
                     CAST(min(5 * p - j * sblk) AS BIGINT) AS dmin,
                     CAST(sum(v * v) AS BIGINT) AS svv,
                     CAST(sum(v) AS BIGINT) AS s
              FROM b5 WHERE cnt = 5 GROUP BY 1, 2),
            r5 AS (
              SELECT event_type, count(*) AS nblk_5,
                     avg(CAST(dmax - dmin AS DOUBLE) / sqrt(CAST(5 * svv - s * s AS DOUBLE))) AS rs_5
              FROM g5 WHERE 5 * svv - s * s > 0 GROUP BY 1),
            b10 AS (
              SELECT event_type, (i - 1) // 10 AS g, d, v,
                     CAST(row_number() OVER wb AS BIGINT) AS j,
                     CAST(sum(v) OVER (wb ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p,
                     CAST(sum(v) OVER (wb ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS sblk,
                     count(*) OVER (wb ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cnt
              FROM idx
              WINDOW wb AS (PARTITION BY event_type, (i - 1) // 10 ORDER BY d)),
            g10 AS (
              SELECT event_type, g,
                     CAST(max(10 * p - j * sblk) AS BIGINT) AS dmax,
                     CAST(min(10 * p - j * sblk) AS BIGINT) AS dmin,
                     CAST(sum(v * v) AS BIGINT) AS svv,
                     CAST(sum(v) AS BIGINT) AS s
              FROM b10 WHERE cnt = 10 GROUP BY 1, 2),
            r10 AS (
              SELECT event_type, count(*) AS nblk_10,
                     avg(CAST(dmax - dmin AS DOUBLE) / sqrt(CAST(10 * svv - s * s AS DOUBLE))) AS rs_10
              FROM g10 WHERE 10 * svv - s * s > 0 GROUP BY 1)
            SELECT event_type, nblk_5, nblk_10,
                   (round(rs_5, 4) + 0.0) AS rs_5,
                   (round(rs_10, 4) + 0.0) AS rs_10,
                   (round((ln(rs_10) - ln(rs_5)) / ln(2.0), 4) + 0.0) AS hurst
            FROM r5 JOIN r10 USING (event_type)
            ORDER BY event_type""")
  )
}
