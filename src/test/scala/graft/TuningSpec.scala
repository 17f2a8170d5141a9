package graft

import graft.core.Tuning

/** The engine is a guest in the host's session: its cached-plan tuning
  * fills in an unset conf and never overrides one the host set. */
class TuningSpec extends SparkSpec {

  test("ensureAdaptiveCachedPlans keeps an explicit host setting of false") {
    spark.conf.set(Tuning.Key, "false")
    try {
      Tuning.ensureAdaptiveCachedPlans(spark)
      assert(spark.conf.get(Tuning.Key) == "false")
    } finally spark.conf.unset(Tuning.Key)
  }
}
