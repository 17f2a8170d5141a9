package graft

import graft.kernels.Geo
import org.apache.spark.sql.functions._

/** The SparkSessionExtensions-injected SQL functions (registered via
  * spark.sql.extensions in TestSpark) build the same `Geo.invoke` static
  * call as the Column API — bit equality between the SQL and Column
  * surfaces, inside whole-stage codegen. */
class ExtensionsSpec extends SparkSpec {

  test("haversine_m / bearing_deg SQL functions match the Column kernels bitwise") {
    val df = fixture.select(
      col("lat"), col("lon"),
      lag(col("lat"), 1).over(S.w).as("plat"),
      lag(col("lon"), 1).over(S.w).as("plon")
    ).where(col("plat").isNotNull)
    df.createOrReplaceTempView("pts")

    val sql = spark.sql(
      "SELECT haversine_m(plat, plon, lat, lon) AS d, bearing_deg(plat, plon, lat, lon) AS b FROM pts")
    val api = df.select(
      Geo.haversine(col("plat"), col("plon"), col("lat"), col("lon")).as("d"),
      Geo.bearing(col("plat"), col("plon"), col("lat"), col("lon")).as("b"))

    assert(sql.exceptAll(api).count() == 0 && api.exceptAll(sql).count() == 0)
    assert(sql.count() > 0)
  }

  test("injected functions stay inside whole-stage codegen") {
    // non-local source: a local relation would be constant-folded away
    SparkEntry.traj(spark, "/root/testdata/sf0.001").createOrReplaceTempView("pts2")
    val plan = spark.sql("SELECT haversine_m(lat, lon, 39.0, 116.0) FROM pts2")
      .queryExecution.executedPlan
    val hasCodegen = plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasCodegen, s"no codegen span in:\n$plan")
  }
}
