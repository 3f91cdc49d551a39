package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One graded engine capability: a named DataFrame pipeline plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query.
  *
  * Determinism contract (FIXTURES.md "Oracle-determinism rule"): every
  * oracled query ends in a total-order sort and rounds floating aggregates
  * at the final projection, and column names match the oracle exactly.
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    /** Plan-audit surrogates (ADVICE r15): for SessionMemo-memoized
      * queries, `run`'s steady-state physical plan is a localCheckpoint
      * scan — auditing it would let pipeline-plan regressions escape
      * PlanAuditSpec/PlanSnapshot entirely. Queries whose served plan
      * hides the real pipeline register the UN-memoized, UN-checkpointed
      * build forms here; the plan gates audit every returned frame
      * INSTEAD of `run`'s plan. Builders must be construction-pure
      * (no eager localCheckpoint inside) so audits stay plan-only. */
    auditPlans: Option[(SparkSession, String) => Seq[DataFrame]] = None)

object GraftQuery {
  /** Build the driver-contract maps from a collection of queries. */
  def toQueryMap(qs: Seq[GraftQuery]): Map[String, (SparkSession, String) => DataFrame] =
    qs.map(q => q.name -> q.run).toMap
  def toOracleMap(qs: Seq[GraftQuery]): Map[String, String] =
    qs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** localCheckpoint + origin-STATISTICS severance, for iterative
    * algorithms that SELF-JOIN a checkpointed frame.
    *
    * localCheckpoint cuts lineage but carries the origin plan's
    * Statistics onto the resulting LogicalRDD, and Catalyst's
    * size-only join estimate is the PRODUCT of child sizes — so a
    * self-join doubles the carried sizeInBytes BIT LENGTH every round.
    * Across Borůvka's pointer-doubling rounds that is a
    * double-exponential BigInt tower: planning time becomes minutes of
    * driver-side Toom-Cook multiplication on numbers with millions of
    * bits (measured: graph_mst at sf0.01 went from >600 s to seconds
    * with the severance; a probe showed 22 → 2620 stats bits in 8
    * self-join rounds unsevered vs flat 63 severed). Rebuilding the
    * frame from the checkpointed RDD drops the carried stats back to
    * the bounded default. Linear join chains (PageRank, CC, BFS) only
    * ADD bits per round and don't need this; use it wherever a
    * checkpointed frame joins itself. */
  def cutStats(df: DataFrame): DataFrame = severStats(df.localCheckpoint())

  /** The statistics-severance half of [[cutStats]] alone — zero jobs —
    * for frames that are ALREADY materialized checkpoints (r17: wrapping
    * a fresh localCheckpoint in cutStats re-materialized the RDD into a
    * second copy, one wasted blocking job per closure round). */
  def severStats(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** localCheckpoint + a convergence statistic riding the SAME
    * materializing job (r17, guide §1.2/§2.4: the fixpoint ladders'
    * per-round cost is blocking JOBS, not data — every loop here paid a
    * separate isEmpty/count probe job per round on the frame it had just
    * materialized). `Dataset.observe` plants a CollectMetrics node whose
    * aggregate is folded DURING the checkpoint's own job and delivered
    * through the query-execution listener, so the probe costs zero extra
    * jobs. `probe` must be a single aggregate Column yielding a numeric
    * (count/sum); null (e.g. sum over zero rows) reads as 0. Values are
    * unchanged by construction: the observed plan computes the identical
    * rows, and R17OptSpec pins probe==separate-job-count equality. */
  def checkpointCounted(df: DataFrame,
                        probe: org.apache.spark.sql.Column): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val ck = df.observe(obs, probe.as("p")).localCheckpoint()
    val v = obs.get("p") match {
      case null => 0L
      case n: java.lang.Number => n.longValue()
    }
    (ck, v)
  }

  /** [[checkpointCounted]] composed with [[cutStats]]'s statistics
    * severance — for counted rounds whose frame then SELF-JOINS. */
  def cutStatsCounted(df: DataFrame,
                      probe: org.apache.spark.sql.Column): (DataFrame, Long) = {
    val (ck, n) = checkpointCounted(df, probe)
    (ck.sparkSession.createDataFrame(ck.rdd, ck.schema), n)
  }

  /** Signed-zero-safe final-projection rounding (the round-13 ts_macd
    * lesson): when a tiny NEGATIVE double rounds to zero, Spark's
    * `round` (BigDecimal HALF_UP — BigDecimal has no -0.0) emits +0.0
    * while DuckDB's emits -0.0, so the driver's string hash diverges on
    * numerically identical results. IEEE `-0.0 + 0.0 = +0.0` (and is a
    * no-op on every nonzero value), so appending `+ 0.0` on BOTH engines
    * pins the zero sign. Use this — with [[roundNormSql]] on the oracle
    * side — for every rounded final projection whose value can be a tiny
    * negative (differences, slopes, correlations, residuals). */
  def roundNorm(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, round}
    round(c, scale) + lit(0.0)
  }

  /** DuckDB twin of [[roundNorm]] — interpolate into the oracle SQL. */
  def roundNormSql(expr: String, scale: Int): String =
    s"(round($expr, $scale) + 0.0)"

  /** Overflow guard for exact BIGINT sufficient-statistic folds (Σc²,
    * Σc³, u², …): non-ANSI Spark WRAPS a silently overflowing BIGINT sum
    * while DuckDB errors, so past the documented ~100×-sf0.1 headroom the
    * Spark side alone would emit silently wrong statistics. `cond` states
    * the no-overflow precondition from the SAME aggregate row (e.g.
    * n · max|c|ᵏ < 9e18, computed in DOUBLE so the check itself can't
    * wrap); the guarded output column evaluates unchanged while the
    * precondition holds and RAISES instead of wrapping when it doesn't.
    * Wrapping the value (rather than a dropped side column) keeps the
    * assertion un-prunable by the optimizer. */
  def guarded(value: org.apache.spark.sql.Column,
              cond: org.apache.spark.sql.Column,
              msg: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{assert_true, lit, when}
    when(assert_true(cond, lit(msg)).isNull, value)
  }

  /** Guarded Σ(a·b·…) fold whose no-overflow precondition is stated on
    * the UN-multiplied factors (ADVICE r15): a guard of the form
    * n·max|a·b| < 9e18 evaluates max over the already-multiplied column,
    * so a PER-ROW Long product wrap (|a·b| ≥ 2⁶³) has already happened
    * before the guard sees it — non-ANSI Spark wraps silently where
    * DuckDB raises, which is exactly the divergence the guard exists to
    * surface. Here `bounds` are caller-supplied DOUBLE upper bounds on
    * each factor's |max| (e.g. `max(abs(x)).cast("double")`, or
    * `max(abs(ru)) + max(abs(ru1))` for a derived difference factor),
    * and the condition n·Πbounds < 9e18 implies BOTH that every per-row
    * product fits a Long and that the summed fold cannot wrap — all
    * checked in double arithmetic that itself cannot overflow. */
  def guardedProdSum(prod: org.apache.spark.sql.Column,
                     bounds: Seq[org.apache.spark.sql.Column],
                     msg: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val cond =
      bounds.foldLeft(count(lit(1)).cast("double"))(_ * _) < lit(9e18)
    guarded(sum(prod), cond, msg)
  }
}
