package graft.pipeline

import graft.core.TokenAdapter
import graft.features.Kinematic
import graft.pipeline.FlagshipJob.GapSeconds
import graft.session.Sessionize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The flagship's window formulation, kept as the semantics reference that
  * FlagshipParitySpec compares [[FlagshipJob]] against. It is built only
  * from operators the oracle checks (explode, the fused kinematic window
  * chain, gap sessionize, a per-doc aggregate), independent of the per-doc
  * kernel under test.
  *
  * `preShuffleCompact` hash-clusters the SEQUENCE rows before the explode
  * (~4 B/token through the exchange instead of ~28 B; GenerateExec
  * preserves the partitioning so the window plans no second exchange). */
object FlagshipReference {

  /** Round-1 window formulation, unchanged: explode → one exchange + sort →
    * fused 8-feature window chain → gap sessionize → consume-all agg. */
  def windowReferenceConsumeAll(corpus: DataFrame, preShuffleCompact: Boolean = true): DataFrame = {
    val clustered = if (preShuffleCompact) corpus.repartition(col("doc_id")) else corpus
    val (grid, ts) = TokenAdapter.explodeTokens(clustered)
    val ses = Sessionize.byGap(Kinematic.withKinematics(grid, ts), ts, GapSeconds)
    val aggs = Kinematic.AllFeatures.map(f => sum(col(f)).as(s"sum_$f")) :+
      max(col("session_id")).as("n_sessions") :+ count(lit(1)).as("n")
    ses.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }
}
