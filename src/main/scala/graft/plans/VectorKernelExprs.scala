package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused per-row vector kernels for the clustering / PCA / LSH hot paths
  * (optimization round 19, guide §4).
  *
  * The composable forms these replace — `aggregate(zip_with(...))` chains
  * over `array<float>` columns — are higher-order functions, which Spark
  * evaluates INTERPRETED (CodegenFallback): one lambda-variable eval per
  * element per pass, with boxing. Profiled on the sf0.1 bench in round
  * 19 (commit fd1e282): s17's 3-round k-means fit spent ~19 s of task
  * CPU on 2 000 rows — ~0.4 ms per nearest-centroid eval, k·dim lambda
  * steps each — and s18's 8 power-iteration rounds ~10 s. Each kernel
  * here is one tight loop over the raw array slots, whole-stage-codegen
  * inline (eval fallback kept bit-identical), the same treatment
  * [[CosineSimilarityExpr]] already gives the cosine scan.
  *
  * BIT-EQUALITY CONTRACT: every kernel reproduces its HOF form exactly —
  * same float→double casts, same left-to-right accumulation order, same
  * `round` semantics (Spark's RoundBase on DoubleType is
  * `BigDecimal(d).setScale(s, HALF_UP).toDouble`, replicated in
  * [[VectorKernels.roundD]]), same null/length-mismatch behavior (a
  * zip_with over mismatched lengths pads with nulls and the `acc + v`
  * fold is null-sticky, so any null element or length mismatch nulls the
  * result; lshBucket's `when(proj >= 0, ...).otherwise(0)` maps a null
  * projection to bit 0, so a null/ragged vector lands in bucket 0).
  * VectorKernelSpec law-pins kernel == HOF bit-for-bit on randomized
  * fixtures including the null/mismatch edges; the s17/s18/s14 oracle
  * gates pin the integrated results at three scale factors.
  */
object VectorKernels {
  /** Spark's Round-on-double semantics, shared by eval and codegen.
    * NaN/±Inf pass through unchanged — RoundBase returns non-finite
    * doubles as-is, while BigDecimal(x) would throw
    * NumberFormatException (ADVICE r19: a NaN element in one vector
    * must not crash the whole query where the HOF `round()` it
    * replaces returned NaN). */
  def roundD(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** xxhash64(i: int, plane: int) with Spark's seed-chaining (seed 42). */
  def hashIntPlane(i: Int, plane: Int): Long =
    XXH64.hashInt(plane, XXH64.hashInt(i, 42L))

  /** Spark's `<` over doubles for the argmin fold (shared by eval and
    * codegen): NaN orders ABOVE every value (and equal to itself), so a
    * NaN distance never beats a finite one and a finite one always
    * beats NaN — exactly how the replaced `array_min` treats NaN
    * (ADVICE r19: Java's raw `<` is false on any NaN operand, which
    * would pin the argmin to index 0 when centroid 0's distance is
    * NaN while the HOF picks the finite minimum). */
  def ltSpark(a: Double, b: Double): Boolean =
    if (java.lang.Double.isNaN(a)) false
    else java.lang.Double.isNaN(b) || a < b
}

private[plans] trait VectorKernelInput { self: UnaryExpression =>
  protected def elementType: Option[DataType] = child.dataType match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }
  protected def kernelName: String

  override def checkInputDataTypes(): TypeCheckResult =
    if (elementType.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$kernelName requires an array<float> or array<double> argument, " +
        s"got ${child.dataType.catalogString}")

  @transient protected lazy val isFloat: Boolean = elementType.contains(FloatType)

  @inline protected final def elem(a: ArrayData, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Codegen accessor for element i of the child array. */
  protected final def elemCode(arr: String, i: String): String =
    if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
}

/** Σ_i (x_i − mean_i) · dir_i — the centered-projection score of the
  * power-iteration rounds ([[graft.operators.Clustering.pcaFit]]) in one
  * codegen loop. Null iff the input is null, ragged vs `mean`, or
  * carries a null element (the zip_with/fold semantics — see the
  * bit-equality contract above). */
case class CenteredDotExpr(child: Expression,
                           mean: Seq[Double], dir: Seq[Double])
    extends UnaryExpression with VectorKernelInput {
  require(mean.length == dir.length,
    s"mean/dir dimensionality mismatch: ${mean.length} vs ${dir.length}")

  override protected def kernelName: String = "centered_dot"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val m: Array[Double] = mean.toArray
  @transient private lazy val v: Array[Double] = dir.toArray

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != m.length) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      acc += (elem(x, i) - m(i)) * v(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val mRef = ctx.addReferenceObj("mean", m, "double[]")
      val vRef = ctx.addReferenceObj("dir", v, "double[]")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($arr.numElements() != $mRef.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $mRef.length; $i++) {
         |    if ($arr.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (${elemCode(arr, i)} - $mRef[$i]) * $vRef[$i];
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Argmin-by-rounded-squared-L2 against a literal centroid set: one loop
  * computing, per centroid, `round(Σ (x_i − c_i)², distDecimals)` with the
  * float→double left fold, then the FIRST minimum (ties to the smallest
  * centroid id — `array_position`'s first-occurrence semantics). Returns
  * `struct(cluster: long, dist: double)`, the pair
  * [[graft.operators.Clustering.centroidDistances]] publishes; the
  * assignment paths project `cluster`. Null under the same conditions as
  * [[CenteredDotExpr]] (all per-centroid distances null together when
  * centroid dims are uniform, which the fit guarantees — so
  * cluster/dist null exactly when array_min over all-null dists was). */
case class NearestCentroidExpr(child: Expression,
                               cents: Seq[Seq[Double]], distDecimals: Int)
    extends UnaryExpression with VectorKernelInput {
  require(cents.nonEmpty, "nearest_centroid needs at least one centroid")
  require(cents.forall(_.length == cents.head.length),
    "nearest_centroid requires uniform centroid dimensionality")

  override protected def kernelName: String = "nearest_centroid"
  override def dataType: DataType = StructType(Seq(
    StructField("cluster", LongType, nullable = true),
    StructField("dist", DoubleType, nullable = true)))
  override def nullable: Boolean = true

  @transient private lazy val cMat: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val dim = cMat(0).length
    if (n != dim) return null
    var i = 0
    while (i < n) { if (x.isNullAt(i)) return null; i += 1 }
    var bestIdx = 0L
    var best = Double.NaN
    var c = 0
    while (c < cMat.length) {
      val cv = cMat(c)
      var acc = 0.0
      var j = 0
      while (j < dim) {
        val d = elem(x, j) - cv(j)
        acc += d * d
        j += 1
      }
      val dist = VectorKernels.roundD(acc, distDecimals)
      if (c == 0 || VectorKernels.ltSpark(dist, best)) { best = dist; bestIdx = c.toLong }
      c += 1
    }
    InternalRow(bestIdx, best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val cRef = ctx.addReferenceObj("cents", cMat, "double[][]")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val dist = ctx.freshName("dist")
      val best = ctx.freshName("best")
      val bestIdx = ctx.freshName("bestIdx")
      val dim = ctx.freshName("dim")
      val rowClass = classOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow].getName
      s"""
         |int $dim = $cRef[0].length;
         |if ($arr.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if ($arr.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  }
         |  if (!${ev.isNull}) {
         |    long $bestIdx = 0L;
         |    double $best = Double.NaN;
         |    for (int $c = 0; $c < $cRef.length; $c++) {
         |      double $acc = 0.0;
         |      for (int $j = 0; $j < $dim; $j++) {
         |        double $d = ${elemCode(arr, j)} - $cRef[$c][$j];
         |        $acc += $d * $d;
         |      }
         |      double $dist = graft.plans.VectorKernels.roundD($acc, $distDecimals);
         |      if ($c == 0 || graft.plans.VectorKernels.ltSpark($dist, $best)) { $best = $dist; $bestIdx = (long) $c; }
         |    }
         |    ${ev.value} = new $rowClass(new Object[]{$bestIdx, $best});
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** LSH bucket id from `nPlanes` hyperplane sign bits in ONE pass over the
  * vector — the fused form of [[graft.functions.VectorFunctions.lshBucket]]
  * (which evaluates one interpreted zip_with-over-sequence fold PER PLANE,
  * with an xxhash64 expression eval per element per plane). Coefficients,
  * accumulation order and null semantics are replicated exactly:
  * coef(i, plane) = xxhash64(i, planeOffset + p) / Long.MaxValue (seed-42
  * chained int hashing, [[VectorKernels.hashIntPlane]]), per-plane fold
  * left-to-right, and a null/ragged/empty input yields bucket 0 — in the
  * HOF form a null projection falls through `when(proj >= 0, …)` to the
  * `otherwise(0)` arm for every plane (an EMPTY vector also lands at 0:
  * `sequence(0, size-1)` becomes the descending [0,-1] pair, zip_with
  * pads the empty side with nulls, and the fold goes null). Never null;
  * `nPlanes == 0` is the caller's degenerate single bucket (handled in
  * the Column wrapper, not here). */
case class LshBucketExpr(child: Expression, nPlanes: Int, planeOffset: Int)
    extends UnaryExpression with VectorKernelInput {
  require(nPlanes >= 1 && nPlanes <= 30, s"nPlanes out of range: $nPlanes")

  override protected def kernelName: String = "lsh_bucket"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val a = child.eval(input)
    if (a == null) return 0
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n == 0) return 0
    var i = 0
    while (i < n) { if (x.isNullAt(i)) return 0; i += 1 }
    var bucket = 0
    var p = 0
    while (p < nPlanes) {
      val plane = planeOffset + p
      var proj = 0.0
      var j = 0
      while (j < n) {
        proj += elem(x, j) *
          (VectorKernels.hashIntPlane(j, plane).toDouble / Long.MaxValue.toDouble)
        j += 1
      }
      // Spark's `proj >= 0` is TRUE for NaN (NaN orders above every
      // number), Java's is false — mirror Spark so a NaN projection
      // sets the bit exactly as the HOF form did (ADVICE r19)
      if (proj >= 0 || java.lang.Double.isNaN(proj)) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.{FalseLiteral, JavaCode}
    val childGen = child.genCode(ctx)
    val arr = childGen.value.toString
    val i = ctx.freshName("i")
    val p = ctx.freshName("p")
    val j = ctx.freshName("j")
    val n = ctx.freshName("n")
    val ok = ctx.freshName("ok")
    val proj = ctx.freshName("proj")
    val bucket = ctx.freshName("bucket")
    val body =
      s"""
         |int $bucket = 0;
         |if (!${childGen.isNull} && $arr.numElements() > 0) {
         |  int $n = $arr.numElements();
         |  boolean $ok = true;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($arr.isNullAt($i)) { $ok = false; break; }
         |  }
         |  if ($ok) {
         |    for (int $p = 0; $p < $nPlanes; $p++) {
         |      double $proj = 0.0;
         |      for (int $j = 0; $j < $n; $j++) {
         |        $proj += ${elemCode(arr, j)} *
         |          ((double) graft.plans.VectorKernels.hashIntPlane($j, $planeOffset + $p)
         |            / (double) Long.MAX_VALUE);
         |      }
         |      if ($proj >= 0 || Double.isNaN($proj)) $bucket |= (1 << $p);
         |    }
         |  }
         |}
       """.stripMargin
    ev.copy(code = code"${childGen.code}\n$body",
      isNull = FalseLiteral,
      value = JavaCode.variable(bucket, IntegerType))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorKernelExprs {
  import GraftColumnBridge.{column, expression}

  /** Column wrapper: Σ (x_i − m_i)·v_i. */
  def centeredDot(vec: Column, mean: Seq[Double], dir: Seq[Double]): Column =
    column(CenteredDotExpr(expression(vec), mean, dir))

  /** Column wrapper: struct(cluster, dist) of the nearest centroid. */
  def nearestCentroid(vec: Column, cents: Seq[Seq[Double]],
                      distDecimals: Int): Column =
    column(NearestCentroidExpr(expression(vec), cents, distDecimals))

  /** Column wrapper: fused LSH bucket (0 planes = single bucket). */
  def lshBucket(vec: Column, nPlanes: Int, planeOffset: Int = 0): Column =
    if (nPlanes == 0) org.apache.spark.sql.functions.lit(0)
    else column(LshBucketExpr(expression(vec), nPlanes, planeOffset))
}
