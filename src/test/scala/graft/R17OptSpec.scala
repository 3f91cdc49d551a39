package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r17 optimization gates.
  *
  * (1) The observe-riding convergence probes (GraftQuery.checkpointCounted
  * / cutStatsCounted) replaced every fixpoint loop's separate
  * isEmpty/count job — the probe value must equal the count a separate
  * job would have produced, on non-empty, empty, and filtered-aggregate
  * probes, and the checkpointed rows must be the identical frame.
  *
  * (2) The r16-ADVICE robustness fixes in the PCA kernel family: the
  * LongVecSum zero-buffer sentinel as identity on BOTH merge sides, and
  * PcaPowerDeflate's sign scan on a degenerate (rank-deficient → NaN)
  * matrix.
  *
  * (3) The agg_rfm anchor removal rests on one fact: ranking by
  * (recency asc, id asc) with recency = datediff(d0, last_d) for the
  * fixed anchor d0 IS ranking by (last_d desc, id asc) — pinned here on
  * a tie-heavy synthetic.
  */
class R17OptSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("checkpointCounted: probe rides the checkpoint and equals count") {
    import spark.implicits._
    val df = (1L to 257L).toDF("x")
    val (ck, n) = GraftQuery.checkpointCounted(df, count(lit(1)))
    assert(n === 257L)
    assert(ck.as[Long].collect().sorted === (1L to 257L).toArray)
  }

  test("checkpointCounted: empty frame probes 0, conditional count probes the condition") {
    import spark.implicits._
    val empty = (1L to 10L).toDF("x").filter($"x" > 100L)
    val (ckE, nE) = GraftQuery.checkpointCounted(empty, count(lit(1)))
    assert(nE === 0L)
    assert(ckE.count() === 0L)
    val (ck, nOdd) = GraftQuery.checkpointCounted(
      (1L to 9L).toDF("x"), count(when($"x" % 2 === 1, lit(1))))
    assert(nOdd === 5L)
    assert(ck.count() === 9L)
    // sum over zero matching rows yields a NULL metric — must read as 0
    val (_, nNone) = GraftQuery.checkpointCounted(
      (1L to 9L).toDF("x"), sum(when($"x" > 100L, lit(1L))))
    assert(nNone === 0L)
  }

  test("cutStatsCounted: severed frame self-joins and keeps the counted rows") {
    import spark.implicits._
    val (df, n) = GraftQuery.cutStatsCounted(
      (1L to 64L).toDF("x"), count(lit(1)))
    assert(n === 64L)
    // the severed frame must be usable on BOTH sides of a self-join
    val j = df.as("a").join(df.as("b"), $"a.x" === $"b.x").count()
    assert(j === 64L)
  }

  test("severStats: values pass through a checkpointed frame unchanged") {
    import spark.implicits._
    val ck = (1L to 33L).toDF("x").localCheckpoint()
    val s2 = GraftQuery.severStats(ck)
    assert(s2.as[Long].collect().sorted === (1L to 33L).toArray)
  }

  test("LongVecSum: the empty zero() sentinel is identity on BOTH merge sides") {
    val a = Array(1L, 2L, 3L)
    // b empty (ADVICE r16: global partials emit one zero-buffer per
    // partition; empty scan partitions are routine) — was a 'ragged
    // input (3 vs 0)' crash
    assert(functions.LongVecSum.merge(a.clone(), Array.emptyLongArray).toSeq
      === Seq(1L, 2L, 3L))
    assert(functions.LongVecSum.merge(Array.emptyLongArray, a.clone()).toSeq
      === Seq(1L, 2L, 3L))
    // reduce with an empty (zero-length-embedding) row is also identity
    assert(functions.LongVecSum.reduce(a.clone(), Array.emptyLongArray).toSeq
      === Seq(1L, 2L, 3L))
    assert(functions.LongVecSum.reduce(a.clone(), null).toSeq === Seq(1L, 2L, 3L))
  }

  test("PcaPowerDeflate: degenerate zero matrix degrades to sgn 1.0, no crash") {
    import spark.implicits._
    // 4×4 zero covariance: matvec = 0, ‖v‖ = 0, v = 0/0 = NaN — the r16
    // equality re-scan walked off the array end here (ADVICE r16); the
    // r15 HOF form degraded to sgn = 1.0, which this pins.
    val df = Seq(Tuple1(Array.fill(16)(0.0))).toDF("cm")
    val rows = df.select(
      functions.VectorFunctions.pcaPowerDeflate(spark, $"cm", 4, 2).as("c"))
      .selectExpr("inline(c)")
      .collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getDouble(1) === 1.0, "sgn must default to 1.0 on NaN")
    }
  }

  test("llm_embed_pca: empty corpus yields 0 rows (the r15 join-form behavior)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pca_empty").toString
    spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
      .limit(0)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("llm_embed_pca")(spark, dir)
    assert(out.count() === 0L)
  }

  test("rank by (last_d desc, id) == rank by (recency asc, id) for a fixed anchor") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // tie-heavy: 40 users over 7 distinct days
    val users = (1L to 40L).map(i => (i, java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i % 7)))).toDF("id", "last_d")
    val d0 = users.agg(max($"last_d").as("d0"))
    val byRecency = users.crossJoin(d0)
      .withColumn("recency", expr("CAST(datediff(d0, last_d) AS BIGINT)"))
      .withColumn("r", row_number().over(
        Window.orderBy($"recency".asc, $"id".asc)))
      .select($"id", $"r")
    val byLastD = users
      .withColumn("r", row_number().over(
        Window.orderBy($"last_d".desc, $"id".asc)))
      .select($"id", $"r")
    assert(byRecency.collect().map(r => (r.getLong(0), r.getInt(1))).sorted
      === byLastD.collect().map(r => (r.getLong(0), r.getInt(1))).sorted)
  }
}
