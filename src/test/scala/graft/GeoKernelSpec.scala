package graft

import graft.features.Kinematic
import graft.kernels.Geo
import org.apache.spark.sql.functions._

/** One geodesic kernel behind every surface: the scalar, the Column API, the
  * SQL function and the kinematic chain all wrap a tiny negative bearing the
  * way Spark's `pmod` does, `(r + 360) % 360`, to 0.0 and never to 360.0. */
class GeoKernelSpec extends SparkSpec {

  // atan2 gives about −1.47e-14° for this step, and r + 360 rounds to 360.0
  private val (lat1, lon1, lat2, lon2) = (0.0, 116.0, 60.0, Math.nextDown(116.0))

  test("bearing wraps a tiny negative angle to 0.0 on every surface") {
    assert(Geo.bearing(lat1, lon1, lat2, lon2) == 0.0)

    // a range source keeps the expressions in generated code instead of
    // constant-folding them on the driver
    val pts = spark.range(1).select(
      (col("id") * 0.0 + lat1).as("plat"), (col("id") * 0.0 + lon1).as("plon"),
      (col("id") * 0.0 + lat2).as("lat"), (col("id") * 0.0 + lon2).as("lon"))
    pts.createOrReplaceTempView("wrap_pts")
    val (p1, p2) = (radians(col("plat")), radians(col("lat")))
    val dLon = radians(col("lon")) - radians(col("plon"))
    // Spark's own pmod over the same atan2: the semantics the kernel follows
    val sparkPmod = pmod(degrees(atan2(cos(p2) * sin(dLon),
      cos(p1) * sin(p2) - sin(p1) * cos(p2) * cos(dLon))), lit(360.0))
    val row = pts.select(
      Geo.bearing(col("plat"), col("plon"), col("lat"), col("lon")), sparkPmod).head()
    assert(row.getDouble(0) == 0.0 && row.getDouble(1) == 0.0, row.toString)
    assert(spark.sql("SELECT bearing_deg(plat, plon, lat, lon) FROM wrap_pts").head().getDouble(0) == 0.0)

    import spark.implicits._
    val traj = Seq(("w", "2008-10-23 05:53:05", lat1, lon1), ("w", "2008-10-23 05:53:06", lat2, lon2))
      .toDF("traj_id", "ts_s", "lat", "lon")
      .selectExpr("traj_id", "cast(ts_s as timestamp) as ts", "lat", "lon")
    assert(col1(Kinematic.withBearing(traj, S), Kinematic.Bearing) == Seq(None, Some(0.0)))
  }
}
