package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions

/** r16 optimization gate: the PCA family's native kernels must agree
  * BIT-FOR-BIT with the r15 declarative forms they replaced.
  *
  *  - covariance: PcaQuantGram + LongVecSum single-scan fold vs the r15
  *    posexplode²-self-join Gram pass (`pcaCovFrameJoinForm`) — exact
  *    BIGINT sums are association-free, so every cm cell and n_vecs must
  *    be identical doubles;
  *  - iterations: PcaPowerDeflate vs the r15 HOF fold tower
  *    (`pcaDeflateFoldForm`) — same IEEE op sequence, so every lam / sgn
  *    / v element must be identical doubles (not approximately: ==). */
class PcaParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Same n_vecs and bit-identical cm cells. */
  private def assertSameCov(fast: Row, slow: Row): Unit = {
    assert(fast.getAs[Long]("n_vecs") === slow.getAs[Long]("n_vecs"))
    val fc = fast.getSeq[Double](fast.fieldIndex("cm"))
    val sc = slow.getSeq[Double](slow.fieldIndex("cm"))
    assert(fc.length === sc.length)
    fc.indices.foreach { i =>
      assert(java.lang.Double.doubleToRawLongBits(fc(i)) ===
        java.lang.Double.doubleToRawLongBits(sc(i)),
        s"cm[$i]: ${fc(i)} vs ${sc(i)}")
    }
  }

  test("pcaCovFrame (single-scan fold) == r15 join form, bit-exact") {
    assertSameCov(llm.Similarity.pcaCovFrame(spark, TestSpark.Sf).head(),
      llm.Similarity.pcaCovFrameJoinForm(spark, TestSpark.Sf).head())
  }

  test("zero-length embedding rows count for nothing: same covariance as without them, and as the join form") {
    import spark.implicits._
    val base = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val dir = Files.createTempDirectory("graft_pca_empty").toString
    val empty = spark.range(3).select(($"id" + 1000000L).as("vec_id"),
      array().cast(base.schema("embedding").dataType).as("embedding"), lit(0).as("label"))
    base.unionByName(empty).write.parquet(s"$dir/embeddings.parquet")
    assert(spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(size($"embedding") === 0).count() === 3)
    val withEmpty = llm.Similarity.pcaCovFrame(spark, dir).head()
    assertSameCov(withEmpty, llm.Similarity.pcaCovFrame(spark, TestSpark.Sf).head())
    assertSameCov(withEmpty, llm.Similarity.pcaCovFrameJoinForm(spark, dir).head())
  }

  test("PcaPowerDeflate == r15 HOF fold tower, 4 components, bit-exact") {
    import spark.implicits._
    val cov = llm.Similarity.pcaCovFrame(spark, TestSpark.Sf)
    val K = 4
    val native = cov
      .select(posexplode(
        VectorFunctions.pcaPowerDeflate(spark, $"cm",
          llm.Similarity.PcaIters, K)).as(Seq("pos", "r")))
      .select($"pos", $"r.lam", $"r.sgn", $"r.v")
      .collect().sortBy(_.getInt(0))
    val fold = llm.Similarity.pcaDeflateFoldForm(cov, K).head()
    (1 to K).foreach { c =>
      val n = native(c - 1)
      def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
      assert(bits(n.getDouble(1)) === bits(fold.getAs[Double](s"lam$c")),
        s"lam$c: ${n.getDouble(1)} vs ${fold.getAs[Double](s"lam$c")}")
      assert(bits(n.getDouble(2)) === bits(fold.getAs[Double](s"sgn$c")),
        s"sgn$c")
      val nv = n.getSeq[Double](3)
      val fv = fold.getSeq[Double](fold.fieldIndex(s"v$c"))
      assert(nv.length === fv.length)
      nv.indices.foreach { i =>
        assert(bits(nv(i)) === bits(fv(i)), s"v$c[$i]: ${nv(i)} vs ${fv(i)}")
      }
    }
  }

  test("two pcaQuantGram columns compile in one generated projection") {
    import spark.implicits._
    // A non-nullable child puts the kernel body unbraced in the enclosing
    // method, so both kernels share one Java scope; with fallback off a
    // clash of generated local names fails the query instead of silently
    // running interpreted.
    val key = "spark.sql.codegen.fallback"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val emb = array(($"id" + 1).cast("float"), ($"id" - 2).cast("float"))
      val df = spark.range(3).select(
        VectorFunctions.pcaQuantGram(spark, emb).as("g"),
        VectorFunctions.pcaQuantGram(spark, reverse(emb)).as("r"))
      assert(!df.schema("g").nullable && !df.schema("r").nullable,
        "the test needs non-nullable kernel inputs")
      def gram(x: Seq[Double]): Seq[Long] =
        (for (a <- x; b <- x) yield math.floor(a * b * 1e4).toLong) ++
          x.map(a => math.floor(a * 1e6).toLong)
      val rows = df.collect()
      assert(rows.length === 3)
      rows.zipWithIndex.foreach { case (r, id) =>
        val x = Seq((id + 1).toDouble, (id - 2).toDouble)
        assert(r.getSeq[Long](0) === gram(x))
        assert(r.getSeq[Long](1) === gram(x.reverse))
      }
    } finally spark.conf.set(key, prior)
  }
}
