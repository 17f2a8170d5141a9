package graft.ann

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** JVM kernels for embedding math. Fold order matches the declarative
  * formulation exactly (((0 + a₀·b₀) + a₁·b₁) + …, floats widened to double
  * per element) so results are bit-identical to the zip_with/aggregate
  * chain AND to the DuckDB oracle's list_reduce. */
object SimilarityKernel {
  /** Any null element? (zip_with's fold null-poisons; the kernel must too.) */
  def hasNull(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s = s + a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }
  def dotD(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s = s + a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Random-hyperplane LSH bucket: bit p of the result is the sign of the
    * projection of `a` onto the p-th pseudo-random hyperplane. Plane weights
    * are ENGINE-PORTABLE integer arithmetic (the TextHash affine family over
    * 2³¹−1, mapped to [−0.5, 0.5)), so the DuckDB oracle reproduces buckets
    * bit-for-bit — unlike the earlier xxhash64-seeded planes. Per-plane fold
    * order is element-ascending, matching the HOF formulation
    * (`SimilarityReference` in the tests) and the SQL list_reduce mirror
    * exactly.
    * Arrays containing a null element hash to bucket 0 (the HOF's
    * null-poisoned sums fail every `> 0` test). */
  /** Per-plane affine multipliers/offsets — derived once per expression
    * (plan reference objects), not per row. */
  def lshPlaneAs(planes: Int): Array[Long] =
    Array.tabulate(planes)(p => 506952114L * (2 * p + 1) % 2147483647L)
  def lshPlaneBs(planes: Int): Array[Long] =
    Array.tabulate(planes)(p => (40503L * (p + 1)) % 2147483647L)

  def lshBucket(a: ArrayData, as: Array[Long], bs: Array[Long], isFloat: Boolean): Long = {
    val P = 2147483647L
    if (hasNull(a)) return 0L
    val planes = as.length
    val acc = new Array[Double](planes)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val x = (i + 1).toLong * 506952114L % P
      val v = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      var p = 0
      while (p < planes) {
        val h = (x * as(p) % P + bs(p)) % P
        acc(p) = acc(p) + v * (h.toDouble / 2147483647.0 - 0.5)
        p += 1
      }
      i += 1
    }
    var bucket = 0L
    var p = 0
    while (p < planes) {
      // Spark SQL and DuckDB order NaN ABOVE every value, so `s > 0.0` is
      // TRUE for a NaN projection there — Java's `>` is false on NaN, so the
      // kernel must special-case it to keep bit parity (KernelEdgeSpec law)
      val s = acc(p)
      if (s > 0.0 || java.lang.Double.isNaN(s)) bucket |= 1L << p
      p += 1
    }
    bucket
  }
}

/** `lshBucket(vec, planes)` as a native codegen'd expression — one pass over
  * the array computing all plane projections, replacing `planes` interpreted
  * aggregate/zip_with lambda chains (~1 µs/element each, an UnsafeArrayData
  * materialized per step — the measured 6–36× anti-pattern). */
case class LshBucketExpr(child: Expression, planes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private def elemType: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = child.dataType.isInstanceOf[ArrayType] &&
      (elemType == FloatType || elemType == DoubleType) && planes >= 1 && planes <= 62
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"lshBucket expects array<float|double> and 1..62 planes, got ${child.dataType} / $planes")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  private def isFloat: Boolean = elemType == FloatType

  @transient private lazy val planeAs = SimilarityKernel.lshPlaneAs(planes)
  @transient private lazy val planeBs = SimilarityKernel.lshPlaneBs(planes)

  override protected def nullSafeEval(a: Any): Any =
    SimilarityKernel.lshBucket(a.asInstanceOf[ArrayData], planeAs, planeBs, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("lshPlaneAs", planeAs, "long[]")
    val bsRef = ctx.addReferenceObj("lshPlaneBs", planeBs, "long[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.ann.SimilarityKernel.lshBucket($a, $asRef, $bsRef, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucketExpr =
    copy(child = newChild)
}

/** `dot(a, b)` over array<float>/array<double> as a native codegen'd
  * expression — replaces zip_with + aggregate (interpreted lambda per
  * element, an UnsafeArrayData materialized per row). Null on length
  * mismatch (zip_with's null-pad + null-poisoned fold semantics). */
case class DotProductExpr(left: Expression, right: Expression) extends BinaryExpression {

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall { e =>
      e.dataType.isInstanceOf[ArrayType] &&
        (elemType(e) == FloatType || elemType(e) == DoubleType)
    } && elemType(left) == elemType(right)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot expects two arrays of the same float/double element type, got (${left.dataType}, ${right.dataType})")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def kernel: String =
    if (elemType(left) == FloatType) "dotF" else "dotD"

  // null-element scan only when the schema admits nulls (cheap flag check)
  private def mayHaveNulls: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]; val bb = b.asInstanceOf[ArrayData]
    if (aa.numElements() != bb.numElements()) null
    else if (mayHaveNulls && (SimilarityKernel.hasNull(aa) || SimilarityKernel.hasNull(bb))) null
    else if (elemType(left) == FloatType) SimilarityKernel.dotF(aa, bb)
    else SimilarityKernel.dotD(aa, bb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nullScan =
      if (mayHaveNulls)
        (a: String, b: String) =>
          s" || graft.ann.SimilarityKernel.hasNull($a) || graft.ann.SimilarityKernel.hasNull($b)"
      else (_: String, _: String) => ""
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() != $b.numElements()${nullScan(a, b)}) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.ann.SimilarityKernel.$kernel($a, $b);
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}
