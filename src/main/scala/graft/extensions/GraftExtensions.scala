package graft.extensions

import graft.kernels.Geo
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._

/** SQL-surface registration for the engine's scalar kernels via
  * `SparkSessionExtensions` — the standard injection seam, enabled with
  *
  *   spark.sql.extensions=graft.extensions.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)` on the builder). The builders
  * produce catalyst expression trees with EXACTLY the operation order of
  * [[graft.kernels.Geo]]'s Column kernels (ExtensionsSpec asserts bit
  * equality between the SQL and Column surfaces), so SQL callers get
  * whole-stage codegen, constant folding, and null propagation for free —
  * no custom Expression subclass, no UDF.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, "", name, usage, "",
      "", "", "", "", "", "built-in")

  /** Geo.haversine as a raw catalyst tree (same op order ⇒ same bits). */
  def haversineExpr(lat1: Expression, lon1: Expression, lat2: Expression, lon2: Expression): Expression = {
    val two = Literal(2.0)
    val sdLat = Sin(Divide(Subtract(ToRadians(lat2), ToRadians(lat1)), two))
    val sdLon = Sin(Divide(Subtract(ToRadians(lon2), ToRadians(lon1)), two))
    val a = Add(
      Multiply(sdLat, sdLat),
      Multiply(Multiply(Cos(ToRadians(lat1)), Cos(ToRadians(lat2))), Multiply(sdLon, sdLon))
    )
    Multiply(
      Multiply(two, Atan2(Sqrt(a), Sqrt(Subtract(Literal(1.0), a)))),
      Literal(Geo.EarthRadiusMeters)
    )
  }

  /** Geo.bearing as a raw catalyst tree. */
  def bearingExpr(lat1: Expression, lon1: Expression, lat2: Expression, lon2: Expression): Expression = {
    val dLon = Subtract(ToRadians(lon2), ToRadians(lon1))
    val y = Multiply(Cos(ToRadians(lat2)), Sin(dLon))
    val x = Subtract(
      Multiply(Cos(ToRadians(lat1)), Sin(ToRadians(lat2))),
      Multiply(Multiply(Sin(ToRadians(lat1)), Cos(ToRadians(lat2))), Cos(dLon))
    )
    Pmod(ToDegrees(Atan2(y, x)), Literal(360.0))
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("haversine_m"),
      info("haversine_m", "haversine_m(lat1, lon1, lat2, lon2) - great-circle distance in metres (R=6371 km)"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "haversine_m(lat1, lon1, lat2, lon2)")
        haversineExpr(args(0), args(1), args(2), args(3))
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("bearing_deg"),
      info("bearing_deg", "bearing_deg(lat1, lon1, lat2, lon2) - initial bearing in [0, 360)"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "bearing_deg(lat1, lon1, lat2, lon2)")
        bearingExpr(args(0), args(1), args(2), args(3))
      }
    ))
  }
}
