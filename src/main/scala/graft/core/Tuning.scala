package graft.core

import org.apache.spark.sql.SparkSession

/** Session-level engine tuning applied at query-construction time (the
  * harness mains build their own sessions and are frozen, so engine policy
  * that must hold in ANY host session lands here, idempotently).
  *
  * One policy so far: let AQE size the stages of PERSISTED plans.
  * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` defaults to
  * false, which disables adaptive partition coalescing for every plan that
  * materializes into the block-manager cache — so each small persisted
  * intermediate (banded-dedup pair results, minhash signature caches,
  * stream-as-of compacted histories, cluster-propagation frontiers) is
  * written, and then RE-READ by every consumer, at the session's raw
  * shuffle-partition count. Measured at sf0.1/local[32] (per-stage task
  * log): the dedup/stream queries each spend 1–6 task-s in 128-task stages
  * moving <6 MB — pure per-task scheduling overhead — and the stream-as-of
  * replay re-reads its 128-partition cached histories once per micro-batch
  * broadcast rebuild. Flipping the flag is the scale-adaptive fix (guide
  * §2.2 "fewer, larger partitions" via AQE, not a tuned constant): the
  * same cached frames coalesce to size-derived partition counts locally
  * AND on a cluster, where the flag's only cost — a cached plan's output
  * partitioning becoming size-dependent — is irrelevant to this engine
  * (no operator relies on a cached frame's partitioning; every persisted
  * intermediate is consumed through joins/aggregates that re-establish
  * their own distribution).
  *
  * The engine sets the flag only when the host session has not set it: an
  * explicit host setting, `false` included, always wins. */
object Tuning {

  private[graft] val Key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  def ensureAdaptiveCachedPlans(spark: SparkSession): Unit =
    if (!spark.conf.getAll.contains(Key)) spark.conf.set(Key, "true")
}
