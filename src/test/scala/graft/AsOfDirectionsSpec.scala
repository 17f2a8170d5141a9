package graft

import java.sql.Timestamp

import graft.asof.AsOfJoin
import org.apache.spark.sql.functions._

/** Hand-computed forward / nearest as-of semantics, incl. tie rules:
  * forward = earliest build with ts >= probe (smallest buildOrder at the
  * matched ts); nearest = min |Δt| with backward winning distance ties. */
class AsOfDirectionsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def fix = {
    val sq = spark
    import sq.implicits._
    val probe = Seq(
      ("a", ts("2024-01-01 10:00:00"), 1L), // exact build at 10:00
      ("a", ts("2024-01-01 10:30:00"), 2L), // 10:00 past, 11:00 future: both 30m -> tie -> backward
      ("a", ts("2024-01-01 10:40:00"), 3L), // 11:00 closer (20m vs 40m) -> forward
      ("a", ts("2024-01-01 12:00:00"), 4L), // nothing after -> forward null, nearest=11:00
      ("b", ts("2024-01-01 09:00:00"), 5L)  // entity with no builds
    ).toDF("entity", "ts", "probe_id")
    val build = Seq(
      ("a", ts("2024-01-01 10:00:00"), 100L, 1.0),
      ("a", ts("2024-01-01 10:00:00"), 101L, 2.0), // equal-ts pair: order tie-break
      ("a", ts("2024-01-01 11:00:00"), 200L, 3.0)
    ).toDF("entity", "ts", "k", "v")
    (probe, build)
  }

  test("forward: earliest future-or-equal; smallest buildOrder on ties; null past the last build") {
    val (probe, build) = fix
    val got = AsOfJoin.forward(probe, build, "entity", "ts", Seq("k", "v"), buildOrder = Seq("k"))
      .select(col("probe_id"), col("asof_ts"), col("k")).collect()
      .map(r => r.getLong(0) -> (Option(r.getTimestamp(1)).map(_.toString).orNull, if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(got(1L) == (("2024-01-01 10:00:00.0", 100L))) // exact match, smallest k
    assert(got(2L) == (("2024-01-01 11:00:00.0", 200L)))
    assert(got(3L) == (("2024-01-01 11:00:00.0", 200L)))
    assert(got(4L) == ((null, -1L)))
    assert(got(5L) == ((null, -1L)))
  }

  test("nearest: min |dt|, backward wins ties, exact match wins outright") {
    val (probe, build) = fix
    val got = AsOfJoin.nearest(probe, build, "entity", "ts", Seq("k", "v"), buildOrder = Seq("k"))
      .select(col("probe_id"), col("asof_ts"), col("k")).collect()
      .map(r => r.getLong(0) -> (Option(r.getTimestamp(1)).map(_.toString).orNull, if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(got(1L) == (("2024-01-01 10:00:00.0", 101L))) // distance 0; backward pick = largest k
    assert(got(2L) == (("2024-01-01 10:00:00.0", 101L))) // 30m tie -> backward
    assert(got(3L) == (("2024-01-01 11:00:00.0", 200L))) // 20m future beats 40m past
    assert(got(4L) == (("2024-01-01 11:00:00.0", 200L))) // only past remains
    assert(got(5L) == ((null, -1L)))
  }

  test("null probe ts never matches, in any direction") {
    val sq = spark
    import sq.implicits._
    val probe = Seq(("a", Option.empty[Timestamp], 9L))
      .toDF("entity", "ts", "probe_id")
    val build = Seq(("a", ts("2024-01-01 10:00:00"), 100L, 1.0)).toDF("entity", "ts", "k", "v")
    for (
      out <- Seq(
        AsOfJoin.backward(probe, build, "entity", "ts", Seq("k", "v")),
        AsOfJoin.forward(probe, build, "entity", "ts", Seq("k", "v")),
        AsOfJoin.nearest(probe, build, "entity", "ts", Seq("k", "v")))
    ) {
      val r = out.select(col("asof_ts"), col("k")).collect()
      assert(r.length == 1 && r(0).isNullAt(0) && r(0).isNullAt(1))
    }
  }

  test("tolerance bounds both directions of nearest") {
    val (probe, build) = fix
    val got = AsOfJoin.nearest(probe, build, "entity", "ts", Seq("k", "v"),
        toleranceSec = 25 * 60.0, buildOrder = Seq("k"))
      .select(col("probe_id"), col("asof_ts")).collect()
      .map(r => r.getLong(0) -> Option(r.getTimestamp(1)).map(_.toString).orNull).toMap
    assert(got(2L) == null)                         // both 30m away > 25m tolerance
    assert(got(3L) == "2024-01-01 11:00:00.0")      // 20m future within tolerance
  }

  // the window formulation's plan shape: one hash exchange over the tagged
  // union, cumulative frames only
  private def windowPlans = {
    val (probe, build) = fix
    Seq("backward" -> AsOfJoin.backward _, "forward" -> AsOfJoin.forward _, "nearest" -> AsOfJoin.nearest _)
      .map { case (dir, join) =>
        dir -> join(probe, build, "entity", "ts", Seq("k", "v"), -1.0, Seq("k"))
          .queryExecution.executedPlan.toString
      }.toMap
  }

  test("window formulation plans ONE exchange over the union in every direction, no nested loop") {
    for ((dir, plan) <- windowPlans) {
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"$dir: expected a single exchange, got $exchanges:\n$plan")
      assert(!plan.contains("NestedLoop"), s"$dir: nested loop in:\n$plan")
    }
  }

  test("window formulation nearest: exactly two cumulative Windows, no following-frame aggregate") {
    val plan = windowPlans("nearest")
    val windows = "\\bWindow \\[".r.findAllIn(plan).length
    assert(windows == 2, s"expected TWO cumulative WindowExecs, got $windows:\n$plan")
    assert(!plan.contains("unboundedfollowing$()"), plan)
  }
}
