package graft.kernels

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Geodesic scalar kernels. Formulas match the reference exactly:
  * ptrail/utilities/DistanceCalculator.py:17-75, RADIUS_OF_EARTH=6371 km
  * (ptrail/utilities/constants.py:27).
  *
  * Each formula is defined ONCE, as a scalar function over doubles. The
  * Column API, the SQL functions ([[graft.extensions.GraftExtensions]]),
  * the per-document kernel ([[graft.features.TokenKernel]]) and
  * [[nearPoi]] all call it: Catalyst plans it as one codegen'd static call
  * ([[invoke]]), so the plan and the typed kernels run the same bytecode.
  */
object Geo {

  val EarthRadiusMeters: Double = 6371.0 * 1000.0

  /** Great-circle (haversine) distance in metres.
    * `d = 2·atan2(√a, √(1−a)) · R` with
    * `a = sin²(Δφ/2) + cos φ1 · cos φ2 · sin²(Δλ/2)`
    * (DistanceCalculator.py:36-42 — note the atan2 form, not asin). */
  def haversine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val p1 = math.toRadians(lat1); val p2 = math.toRadians(lat2)
    val sdLat = math.sin((p2 - p1) / 2.0)
    val sdLon = math.sin((math.toRadians(lon2) - math.toRadians(lon1)) / 2.0)
    val a = sdLat * sdLat + math.cos(p1) * math.cos(p2) * sdLon * sdLon
    2.0 * atan2(math.sqrt(a), math.sqrt(1.0 - a)) * EarthRadiusMeters
  }

  /** Initial bearing p1→p2 in degrees in [0, 360).
    * `atan2(cos φ2 sin Δλ, cos φ1 sin φ2 − sin φ1 cos φ2 cos Δλ)` then
    * floored-mod 360 (numpy `% 360.0` ⇒ sign of divisor ⇒ Spark `pmod`:
    * `(r + 360) % 360` for a negative `r`, so a tiny negative angle wraps
    * to 0, never to 360) (DistanceCalculator.py:66-75). */
  def bearing(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val p1 = math.toRadians(lat1); val p2 = math.toRadians(lat2)
    val dLon = math.toRadians(lon2) - math.toRadians(lon1)
    val y = math.cos(p2) * math.sin(dLon)
    val x = math.cos(p1) * math.sin(p2) - math.sin(p1) * math.cos(p2) * math.cos(dLon)
    val r = math.toDegrees(atan2(y, x)) % 360.0
    if (r < 0) {
      // r ∈ (−360, 0) ⇒ r + 360 ∈ (0, 360]; `% 360` only maps 360 to 0
      val s = r + 360.0
      if (s == 360.0) 0.0 else s
    } else r
  }

  /** Catalyst's `atan2`: `+ 0.0` folds −0.0 into 0.0 on both arguments. */
  @inline private def atan2(y: Double, x: Double): Double = math.atan2(y + 0.0, x + 0.0)

  /** `Geo.<fn>(…)` as one Catalyst expression: a codegen'd static call with
    * implicit double casts on every argument, null if any argument is null,
    * never null otherwise. */
  def invoke(fn: String, args: Seq[Expression]): Expression =
    StaticInvoke(getClass, DoubleType, fn, args, args.map(_ => DoubleType),
      propagateNull = true, returnNullable = false)

  private def invokeCol(fn: String, args: Column*): Column =
    GraftSqlBridge.column(invoke(fn, args.map(GraftSqlBridge.expression)))

  /** [[haversine]] over columns. */
  def haversine(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    invokeCol("haversine", lat1, lon1, lat2, lon2)

  /** [[bearing]] over columns. */
  def bearing(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    invokeCol("bearing", lat1, lon1, lat2, lon2)

  /** Driver-side bounding box for a radius around a point:
    * Δlat = r/R, Δlon = asin(sin Δlat / cos lat)
    * (ptrail/preprocessing/filters.py:86-125; golden vector in
    * ptrail/preprocessing/tests/filters_test.py:42-45). Returns
    * (latMin, lonMin, latMax, lonMax); r in metres. */
  def boundingBoxByRadius(lat: Double, lon: Double, radiusM: Double): (Double, Double, Double, Double) = {
    val latRad = math.toRadians(lat)
    val dLat = radiusM / EarthRadiusMeters
    val dLon = math.asin(math.sin(dLat) / math.cos(latRad))
    (
      math.toDegrees(latRad - dLat),
      math.toDegrees(math.toRadians(lon) - dLon),
      math.toDegrees(latRad + dLat),
      math.toDegrees(math.toRadians(lon) + dLon)
    )
  }

  /** ±Infinity → null, mirroring the reference's `replace([inf, -inf], nan)`
    * after every division (ptrail/features/kinematic_features.py:456 etc.).
    * Null-in → null-out (Spark semantics match pandas NaN chains). */
  def infToNull(c: Column): Column =
    when(c === Double.PositiveInfinity || c === Double.NegativeInfinity, lit(null)).otherwise(c)

  /** Scalar kernel for [[graft.features.Contextual.visitedPoi]]: ∃ layer row
    * r with |haversine(point, r) − r.dist| ≤ thr, over the collected layer
    * arrays. Returns 1 = true, 0 = false, −1 = null (three-valued OR: no hit
    * but the layer had a null-field row the declarative chain would null
    * on). */
  def nearPoi(lat: Double, lon: Double,
      slat: Array[Double], slon: Array[Double], sdist: Array[Double],
      thr: Double, hasNullRow: Boolean): Byte = {
    var i = 0
    while (i < slat.length) {
      if (math.abs(haversine(lat, lon, slat(i), slon(i)) - sdist(i)) <= thr) return 1
      i += 1
    }
    if (hasNullRow) -1 else 0
  }
}

/** `nearPoi(lat, lon)` over a driver-collected POI layer as ONE native
  * codegen'd expression: a single loop over primitive arrays per row instead
  * of a per-layer-row OR-chain (codegen blow-up past a few hundred terms) or
  * a second NLJ pass. The layer ships as plan reference objects — the same
  * bytes a broadcast would carry, with zero join machinery. */
case class NearPoiExpr(
    lat: org.apache.spark.sql.catalyst.expressions.Expression,
    lon: org.apache.spark.sql.catalyst.expressions.Expression,
    slat: Array[Double],
    slon: Array[Double],
    sdist: Array[Double],
    thresholdM: Double,
    hasNullRow: Boolean
) extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType}

  override def left: Expression = lat
  override def right: Expression = lon
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (lat.dataType == DoubleType && lon.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"nearPoi expects double coordinates, got (${lat.dataType}, ${lon.dataType})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Geo.nearPoi(a.asInstanceOf[Double], b.asInstanceOf[Double],
      slat, slon, sdist, thresholdM, hasNullRow) match {
      case 1  => true
      case 0  => false
      case _  => null
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val slatRef = ctx.addReferenceObj("slat", slat, "double[]")
    val slonRef = ctx.addReferenceObj("slon", slon, "double[]")
    val sdistRef = ctx.addReferenceObj("sdist", sdist, "double[]")
    val r = ctx.freshName("nearPoi")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |byte $r = graft.kernels.Geo.nearPoi($a, $b, $slatRef, $slonRef, $sdistRef,
         |  $thresholdM, $hasNullRow);
         |${ev.isNull} = $r < 0;
         |${ev.value} = $r == 1;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: org.apache.spark.sql.catalyst.expressions.Expression,
      newRight: org.apache.spark.sql.catalyst.expressions.Expression): NearPoiExpr =
    copy(lat = newLeft, lon = newRight)

  // value equality over the layer arrays (case-class equality compares
  // Array[Double] by reference, which would make two semantically identical
  // expressions never compare equal — defeating subexpression elimination
  // and plan canonicalization)
  override def equals(o: Any): Boolean = o match {
    case that: NearPoiExpr =>
      lat == that.lat && lon == that.lon &&
        thresholdM == that.thresholdM && hasNullRow == that.hasNullRow &&
        java.util.Arrays.equals(slat, that.slat) &&
        java.util.Arrays.equals(slon, that.slon) &&
        java.util.Arrays.equals(sdist, that.sdist)
    case _ => false
  }

  override def hashCode(): Int =
    java.util.Objects.hash(lat, lon, java.lang.Double.valueOf(thresholdM),
      java.lang.Boolean.valueOf(hasNullRow),
      Integer.valueOf(java.util.Arrays.hashCode(slat)),
      Integer.valueOf(java.util.Arrays.hashCode(slon)),
      Integer.valueOf(java.util.Arrays.hashCode(sdist)))
}
