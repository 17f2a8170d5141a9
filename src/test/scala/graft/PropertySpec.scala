package graft

import java.sql.Timestamp

import graft.asof.{AsOfJoin, AsOfMerge}
import graft.core.TrajSchema
import graft.kernels.Geo
import graft.session.Sessionize
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based invariants (SURVEY.md §5) via raw scalacheck: geodesic
  * kernel laws on the shipped scalar kernel, and engine-level laws
  * (session monotonicity, as-of anti-leakage, v1 ≡ v2) on randomized small
  * frames. */
class PropertySpec extends SparkSpec {

  private def check(prop: Prop, tests: Int = 20): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(tests), prop)
    assert(res.passed, res.status.toString)
  }

  private val genLat = Gen.choose(-89.0, 89.0)
  private val genLon = Gen.choose(-179.0, 179.0)

  test("haversine: symmetric, zero at identity, bounded by half circumference") {
    check(Prop.forAll(genLat, genLon, genLat, genLon) { (la1, lo1, la2, lo2) =>
      val d = Geo.haversine(la1, lo1, la2, lo2)
      d >= 0.0 &&
        math.abs(d - Geo.haversine(la2, lo2, la1, lo1)) <= 1e-6 &&
        d <= math.Pi * Geo.EarthRadiusMeters + 1.0 &&
        Geo.haversine(la1, lo1, la1, lo1) == 0.0
    }, tests = 200)
  }

  test("gap sessions: ids dense, 0-based, non-decreasing in time per entity") {
    import spark.implicits._
    check(Prop.forAll(Gen.listOfN(40, Gen.choose(0L, 500L)), Gen.choose(5.0, 60.0)) {
      (offsets, gap) =>
        val rows = offsets.zipWithIndex.map { case (off, i) =>
          (if (i % 3 == 0) "a" else "b", new Timestamp(1700000000000L + off * 1000L))
        }
        val df = rows.toDF("traj_id", "ts")
          .withColumn("lat", lit(0.0)).withColumn("lon", lit(0.0))
          .dropDuplicates("traj_id", "ts")
        val ses = Sessionize.byGap(df, TrajSchema(orderCols = Nil), gap)
          .select(col("traj_id"), col("ts"), col("session_id"))
          .orderBy(col("traj_id"), col("ts")).collect()
        ses.groupBy(_.getString(0)).forall { case (_, pts) =>
          val ids = pts.map(_.getLong(2)).toSeq
          ids.head == 0L &&
            ids.sliding(2).forall(w => w.length < 2 || w(1) == w(0) || w(1) == w(0) + 1)
        }
    }, tests = 10)
  }

  test("as-of: v1 ≡ v2 and zero leakage on random frames") {
    import spark.implicits._
    val genProbe = Gen.listOfN(12, Gen.zip(Gen.oneOf("x", "y"), Gen.choose(0L, 1000L)))
    val genBuild = Gen.listOfN(12, Gen.zip(Gen.oneOf("x", "y"), Gen.choose(0L, 1000L), Gen.choose(0L, 99L)))
    check(Prop.forAll(genProbe, genBuild) { (probes, builds) =>
      val probe = probes.zipWithIndex
        .map { case ((e, s), i) => (e, new Timestamp(1700000000000L + s * 1000L), i.toLong) }
        .toDF("entity", "ts", "pid")
      val build = builds.zipWithIndex
        .map { case ((e, s, v), i) => (e, new Timestamp(1700000000000L + s * 1000L), v, i.toLong) }
        .toDF("entity", "ts", "v", "bid")
      val v1 = AsOfJoin.backward(probe, build, "entity", "ts", Seq("v"), buildOrder = Seq("bid"))
      val v2 = AsOfMerge.backward(probe, build, "entity", "ts", Seq("v"), buildOrder = Seq("bid"))
      val equal = v1.exceptAll(v2).count() == 0 && v2.exceptAll(v1).count() == 0

      // leakage: dropping all build rows after the median probe ts must not
      // change matches of probes at or before that ts
      val cut = new Timestamp(1700000000000L + probes.map(_._2).sorted.apply(probes.size / 2) * 1000L)
      val past = v2.where(col("ts") <= cut)
      val trimmed = AsOfMerge
        .backward(probe, build.where(col("ts") <= cut), "entity", "ts", Seq("v"), buildOrder = Seq("bid"))
        .where(col("ts") <= cut)
      val noLeak = past.exceptAll(trimmed).count() == 0 && trimmed.exceptAll(past).count() == 0
      equal && noLeak
    }, tests = 8)
  }

  test("as-of directions: v1 ≡ v2 and order laws on random frames") {
    import spark.implicits._
    val genProbe = Gen.listOfN(10, Gen.zip(Gen.oneOf("x", "y"), Gen.choose(0L, 600L)))
    val genBuild = Gen.listOfN(10, Gen.zip(Gen.oneOf("x", "y"), Gen.choose(0L, 600L), Gen.choose(0L, 99L)))
    check(Prop.forAll(genProbe, genBuild, Gen.choose(30.0, 400.0)) { (probes, builds, tol) =>
      val probe = probes.zipWithIndex
        .map { case ((e, s), i) => (e, new Timestamp(1700000000000L + s * 1000L), i.toLong) }
        .toDF("entity", "ts", "pid")
      val build = builds.zipWithIndex
        .map { case ((e, s, v), i) => (e, new Timestamp(1700000000000L + s * 1000L), v, i.toLong) }
        .toDF("entity", "ts", "v", "bid")
      def eq(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0

      val f1 = AsOfJoin.forward(probe, build, "entity", "ts", Seq("v"), buildOrder = Seq("bid"))
      val f2 = AsOfMerge.forward(probe, build, "entity", "ts", Seq("v"), buildOrder = Seq("bid"))
      val n1 = AsOfJoin.nearest(probe, build, "entity", "ts", Seq("v"), tol, Seq("bid"))
      val n2 = AsOfMerge.nearest(probe, build, "entity", "ts", Seq("v"), tol, Seq("bid"))

      // order law: every forward match is at or after its probe ts
      val fwdOrdered = f2.where(col("asof_ts") < col("ts")).count() == 0
      // nearest law: the match is within tolerance on whichever side it sits
      val nearBounded = n2.where(col("asof_ts").isNotNull &&
        abs(unix_micros(col("asof_ts")) - unix_micros(col("ts"))) > (tol * 1e6).toLong).count() == 0
      // nearest dominance: |dt| never exceeds the backward candidate's |dt|
      val b2 = AsOfMerge.backward(probe, build, "entity", "ts", Seq("v"), tol, Seq("bid"))
        .select(col("pid"), col("asof_ts").as("b_ts"))
      val dominated = n2.join(b2, Seq("pid"))
        .where(col("b_ts").isNotNull &&
          (col("asof_ts").isNull ||
            abs(unix_micros(col("asof_ts")) - unix_micros(col("ts"))) >
              abs(unix_micros(col("b_ts")) - unix_micros(col("ts")))))
        .count() == 0
      eq(f1, f2) && eq(n1, n2) && fwdOrdered && nearBounded && dominated
    }, tests = 8)
  }
}
