package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two float vectors.
  *
  * Why a custom Expression and not `aggregate(zip_with(...))`: higher-order
  * functions evaluate one interpreted lambda call per element — for
  * all-pairs similarity at 100 TB that is billions of virtual calls. This
  * expression emits a tight primitive loop via `doGenCode`, stays inside
  * WholeStageCodegen, and reads the float arrays without boxing.
  * Accumulation is in double, sequentially — bit-compatible with DuckDB's
  * `list_cosine_similarity` for oracle comparison after round().
  */
case class FloatVecCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv; i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int graftN = java.lang.Math.min($a.numElements(), $b.numElements());
         |double graftDot = 0.0; double graftNx = 0.0; double graftNy = 0.0;
         |for (int graftI = 0; graftI < graftN; graftI++) {
         |  double graftX = (double) $a.getFloat(graftI);
         |  double graftY = (double) $b.getFloat(graftI);
         |  graftDot += graftX * graftY; graftNx += graftX * graftX; graftNy += graftY * graftY;
         |}
         |double graftDenom = java.lang.Math.sqrt(graftNx) * java.lang.Math.sqrt(graftNy);
         |${ev.value} = graftDenom == 0.0 ? 0.0 : graftDot / graftDenom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two float vectors (same codegen rationale as above). */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int graftN = java.lang.Math.min($a.numElements(), $b.numElements());
         |double graftDot = 0.0;
         |for (int graftI = 0; graftI < graftN; graftI++) {
         |  graftDot += (double) $a.getFloat(graftI) * (double) $b.getFloat(graftI);
         |}
         |${ev.value} = graftDot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Per-row quantized Gram + mean contributions for the PCA family: from
  * one array<float> embedding of length D, the length-(D²+D) array<long>
  *
  *   out[i·D + j] = floor(x_i · x_j · 1e4)   (0 ≤ i, j < D)
  *   out[D² + i]  = floor(x_i · 1e6)
  *
  * with every x read as `getFloat(i).toDouble` — the same IEEE sequence
  * as the posexplode² form's `xi.cast("double") * xj.cast("double") * 1e4`
  * per cell, so summing these rows (exact BIGINT, association-free)
  * reproduces the r15 join-form Gram/means bit-for-bit (PcaParitySpec).
  *
  * Why a custom Expression: the r15 form self-joined the table on vec_id
  * and posexploded both sides — N·D² generated rows through two exchanges
  * and a hash aggregate probing D² keys per row. This kernel emits the
  * whole per-row contribution in one tight loop; the enclosing aggregate
  * (LongVecSum) folds rows map-side, so the covariance pass is one scan,
  * one 1-row exchange, zero joins at any corpus size. */
case class PcaQuantGram(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  import org.apache.spark.sql.types.{ArrayType, LongType}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val d = x.numElements()
    val out = new Array[Long](d * d + d)
    var i = 0
    while (i < d) {
      val xi = x.getFloat(i).toDouble
      var j = 0
      while (j < d) {
        out(i * d + j) = math.floor(xi * x.getFloat(j).toDouble * 1e4).toLong
        j += 1
      }
      out(d * d + i) = math.floor(xi * 1e6).toLong
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  // r17 (r16 verdict item 6/8): this runs PER INPUT ROW — as a
  // CodegenFallback it broke the scan stage out of WholeStageCodegen and
  // paid interpreted dispatch per row. The generated loop is the same
  // IEEE op sequence as nullSafeEval (Java `(long) Math.floor(x)` ==
  // Scala `math.floor(x).toLong`, including the saturating cast), so
  // PcaParitySpec's bit-parity pins carry over unchanged.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // Fresh local names: with a non-nullable child the body lands
      // unbraced in the enclosing method, so two kernels in one
      // projection would otherwise redeclare the same locals.
      val d = ctx.freshName("d")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val xi = ctx.freshName("xi")
      s"""
         |int $d = $c.numElements();
         |long[] $out = new long[$d * $d + $d];
         |for (int $i = 0; $i < $d; $i++) {
         |  double $xi = (double) $c.getFloat($i);
         |  for (int $j = 0; $j < $d; $j++) {
         |    $out[$i * $d + $j] =
         |      (long) java.lang.Math.floor($xi * (double) $c.getFloat($j) * 1e4);
         |  }
         |  $out[$d * $d + $i] = (long) java.lang.Math.floor($xi * 1e6);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Power iteration with Hotelling deflation over a row-major D×D matrix —
  * the 1-row iteration kernel under llm_embed_pca / llm_embed_pca_topk.
  * Returns array<struct<lam, sgn, v>> of the first `k` eigenpairs, each
  * from `iters` fixed power steps off v₀ = 1/√D.
  *
  * Bit-parity contract (PcaParitySpec pins it against the r15 HOF fold
  * tower): every op is the same IEEE double sequence in the same order —
  *   matvec_i  = fold_j (acc + cm[i·D+j] · v_j), acc₀ = 0.0, j ascending
  *   ‖vr‖      = sqrt(fold_i (acc + vr_i · vr_i))
  *   v_i       = vr_i / ‖vr‖
  *   λ         = fold_i (acc + v_i · matvec(v)_i)
  *   sgn       = −1 iff the FIRST v_i with |v_i| = max|v| is negative
  *   deflation = cm_e − (λ · v_{e div D}) · v_{e mod D}
  *
  * Why a custom Expression: the r15 form unrolled k × iters matvec steps
  * as nested higher-order-function Projects — a plan tower Catalyst
  * re-analyzes on EVERY run (measured: ~8 s of pure driver time at
  * sf0.001 where the data work is milliseconds, and per-component
  * localCheckpoints existed only to bound the tower). The data is one
  * row of D² doubles at any corpus size; this kernel runs the loop where
  * it belongs and the checkpoints disappear. */
case class PcaPowerDeflate(child: Expression, iters: Int, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("lam", DoubleType, nullable = false),
      StructField("sgn", DoubleType, nullable = false),
      StructField("v", ArrayType(DoubleType, containsNull = false),
        nullable = false))),
    containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val cmIn = input.asInstanceOf[ArrayData]
    val n = cmIn.numElements()
    val d = math.round(math.sqrt(n.toDouble)).toInt
    require(d * d == n, s"graft_pca_power: cm length $n is not a square")
    val cm = cmIn.toDoubleArray()
    def matvec(v: Array[Double]): Array[Double] = {
      val r = new Array[Double](d)
      var i = 0
      while (i < d) {
        var acc = 0.0
        var j = 0
        while (j < d) { acc = acc + cm(i * d + j) * v(j); j += 1 }
        r(i) = acc
        i += 1
      }
      r
    }
    val comps = new Array[Any](k)
    var c = 0
    while (c < k) {
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      var it = 0
      while (it < iters) {
        val vr = matvec(v)
        var acc = 0.0
        var i = 0
        while (i < d) { acc = acc + vr(i) * vr(i); i += 1 }
        val norm = math.sqrt(acc)
        val nv = new Array[Double](d)
        i = 0
        while (i < d) { nv(i) = vr(i) / norm; i += 1 }
        v = nv
        it += 1
      }
      val mv = matvec(v)
      var lam = 0.0
      var i = 0
      while (i < d) { lam = lam + v(i) * mv(i); i += 1 }
      // Track the FIRST argmax during the max scan itself (strict `>`
      // keeps the first index on ties — same element the r15 equality
      // re-scan found). The re-scan form walked past the array end when
      // v contained NaN (degenerate rank-deficient covariance: 0/0
      // normalization; NaN != NaN is always true — ADVICE r16). With
      // NaN anywhere, comparisons are false, fst stays at a finite-or-
      // first slot and `NaN < 0.0` is false, so sgn degrades to 1.0 —
      // the r15 HOF form's behavior (its NaN filter was empty → sgn 1.0).
      var mx = math.abs(v(0))
      var fst = 0
      i = 1
      while (i < d) { val a = math.abs(v(i)); if (a > mx) { mx = a; fst = i }; i += 1 }
      val sgn = if (v(fst) < 0.0) -1.0 else 1.0
      if (c < k - 1) { // deflate for the next component
        var e = 0
        while (e < n) {
          cm(e) = cm(e) - (lam * v(e / d)) * v(e % d)
          e += 1
        }
      }
      comps(c) = org.apache.spark.sql.catalyst.InternalRow(
        lam, sgn,
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(v))
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(comps)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Registration + Column-level API for the custom expressions. */
object VectorFunctions {
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "graft_cosine", exprs => FloatVecCosine(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_dot", exprs => FloatVecDot(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_pca_quant_gram", exprs => PcaQuantGram(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_pca_power",
      exprs => PcaPowerDeflate(exprs(0),
        exprs(1).eval().asInstanceOf[Int],
        exprs(2).eval().asInstanceOf[Int]), "built-in")
  }

  /** Cosine similarity Column over two array<float> columns. */
  def cosine(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_cosine", a, b)
  }

  def dot(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_dot", a, b)
  }

  /** Per-row quantized Gram+means contribution of an array<float> column
    * (length D²+D array<long>; see [[PcaQuantGram]]). */
  def pcaQuantGram(spark: SparkSession, emb: Column): Column = {
    register(spark)
    call_function("graft_pca_quant_gram", emb)
  }

  /** First k eigenpairs of a row-major array<double> matrix column by
    * fixed-step power iteration + deflation (see [[PcaPowerDeflate]]). */
  def pcaPowerDeflate(spark: SparkSession, cm: Column, iters: Int,
                      k: Int): Column = {
    register(spark)
    call_function("graft_pca_power", cm,
      org.apache.spark.sql.functions.lit(iters),
      org.apache.spark.sql.functions.lit(k))
  }
}
