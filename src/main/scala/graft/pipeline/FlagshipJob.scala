package graft.pipeline

import graft.core.TokenAdapter
import org.apache.spark.sql.DataFrame

/** THE flagship job, defined once (Bench times it, Explain audits its plan,
  * RunPipeline ships it): tokenized sequences → 8 kinematic features → gap
  * sessionize → consume-all per-doc vector (every feature summed so column
  * pruning cannot drop any of the work).
  *
  * The semantics are those of the window formulation (explode → fused
  * kinematic window chain → `Sessionize.byGap` → per-doc aggregate), which
  * lives in the test tree as the parity reference: FlagshipParitySpec
  * asserts both entry points below produce its rows. */
object FlagshipJob {

  val GapSeconds = 1.5

  /** The flagship consume-all job over the pre-grouped tokenized-sequence
    * table (one entity per row, observations in order). The optimal plan
    * is the zero-shuffle typed kernel
    * ([[graft.features.TokenKernel.docVectors]]) — re-grouping what the
    * storage layout already groups is pure overhead (optimization guide
    * §2.4/§8: use what you know that the optimizer does not). */
  def groupedConsumeAll(corpus: DataFrame): DataFrame =
    graft.features.TokenKernel.docVectors(corpus, stepSec = 1L, gapSeconds = GapSeconds).toDF()

  /** Same result over the UNGROUPED grid through the re-group route
    * (VERDICT r4 #1): explode (narrow) → one exchange on doc_id, key-only
    * sort → per-doc kernel. No window frames — the general-path
    * replacement when the input is not pre-grouped. `numPartitions` pins
    * the exchange width (see `TokenKernel.regroupDocVectorsSorted`). */
  def regroupConsumeAll(corpus: DataFrame, numPartitions: Option[Int] = None): DataFrame = {
    val (grid, _) = TokenAdapter.explodeTokens(corpus)
    graft.features.TokenKernel.regroupDocVectorsSorted(
      grid, stepSec = 1L, gapSeconds = GapSeconds, numPartitions = numPartitions).toDF()
  }
}
