package graft.features

import graft.core.{Times, TrajSchema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trailing rolling-window aggregates per entity — the generic form of the
  * windowed feature family the kinematic chain special-cases (lag-1 diffs)
  * and Hampel fences (centered median window): smoothed signals a
  * downstream model consumes as features at each (entity, ts). The
  * reference reaches these through pandas `rolling` on its per-trajectory
  * frames; here one operator serves any numeric column.
  *
  * Laws: the frame is the TRAILING k rows (current row inclusive), so
  * zero temporal leakage holds by the frame bound; rows earlier than k−1
  * slots into their entity aggregate over what exists (pandas
  * `min_periods=1` semantics); `roll_n` reports the actual slot count so
  * callers can mask warm-up rows. `roll_rate_hz` is the local event rate:
  * (roll_n − 1) / (timespan of the frame in seconds) — null for
  * single-row frames or zero span (duplicate timestamps).
  *
  * Scale shape: ONE hash exchange on the entity, ONE sort; all frames are
  * row-bounded sliding windows over the same window spec (one WindowExec,
  * buffer bounded by k — no whole-partition frames); every aggregate here
  * is whole-stage-friendly and the projection prunes to (keys, value)
  * before the exchange. */
object Rolling {

  /** Adds `roll_n`, `roll_min`, `roll_max`, `roll_mean`, `roll_rate_hz`
    * over the trailing `k` rows of `valueCol` (ordered by `s.ordering`,
    * per `s.id`). */
  def withRolling(df: DataFrame, s: TrajSchema, valueCol: String, k: Int): DataFrame = {
    require(k >= 1, s"rolling window must be >= 1 row, got $k")
    val w = Window.partitionBy(s.idCol).orderBy(s.ordering: _*)
      .rowsBetween(-(k - 1).toLong, Window.currentRow)
    val v = col(valueCol)
    val m = Times.micros(s.tsCol)
    // every window expression in ONE projection → the optimizer plans a
    // single WindowExec (chained withColumns re-derive the count/first
    // frames in a second Window node — Explain-gated against)
    val windowed = df.select(col("*"),
      count(v).over(w).as("roll_n"),
      min(v).over(w).as("roll_min"),
      max(v).over(w).as("roll_max"),
      avg(v).over(w).as("roll_mean"),
      first(m).over(w).as("_roll_first_m"))
    val span = (m - col("_roll_first_m")).cast("double") / 1e6
    windowed
      .withColumn("roll_rate_hz",
        when(col("roll_n") > 1 && span > 0.0, (col("roll_n") - 1).cast("double") / span))
      .drop("_roll_first_m")
  }

  /** Rolling z-score anomaly channel over the trailing `k` rows: adds
    * `zroll_n`, `zroll_mean`, `zroll_std` (sample std) and `zroll_z` — how
    * many trailing-window standard deviations the CURRENT value sits from
    * the trailing mean. The streaming-friendly cousin of the Hampel fence
    * (mean/std where Hampel uses median/MAD): cheap, leakage-free by the
    * trailing frame bound, and the standard first-line sensor-glitch flag.
    *
    * Variance is computed EXPLICITLY from (Σx, Σx²) —
    * `(Σx² − (Σx)²/n) / (n−1)`, clamped at 0 — rather than through the
    * built-in `stddev` so the oracle can replay the identical IEEE op
    * order (engine-native stddev implementations differ in accumulation
    * scheme). `zroll_std`/`zroll_z` are null for single-row frames;
    * `zroll_z` is additionally null when the window is constant (std 0).
    *
    * Scale shape: same ONE exchange + ONE sort + ONE row-bounded
    * WindowExec as [[withRolling]] — the two sums ride the same frame. */
  def withRollingZ(df: DataFrame, s: TrajSchema, valueCol: String, k: Int): DataFrame = {
    require(k >= 2, s"z-score window must be >= 2 rows, got $k")
    val w = Window.partitionBy(s.idCol).orderBy(s.ordering: _*)
      .rowsBetween(-(k - 1).toLong, Window.currentRow)
    val v = col(valueCol)
    val windowed = df.select(col("*"),
      count(v).over(w).as("zroll_n"),
      sum(v).over(w).as("_z_s1"),
      sum(v * v).over(w).as("_z_s2"))
    val n = col("zroll_n").cast("double")
    val mean = col("_z_s1") / n
    val varS = (col("_z_s2") - col("_z_s1") * col("_z_s1") / n) / (n - 1.0)
    val std = sqrt(greatest(varS, lit(0.0)))
    windowed
      .withColumn("zroll_mean", mean)
      .withColumn("zroll_std", when(col("zroll_n") > 1, std))
      .withColumn("zroll_z", when(col("zroll_n") > 1 && std > 0.0, (v - mean) / std))
      .drop("_z_s1", "_z_s2")
  }

  /** Time-based sibling of [[withRolling]]: aggregates over the trailing
    * `windowSec` seconds (inclusive of the current row's instant) — the
    * pandas `rolling("5min")` shape. Adds `troll_n`, `troll_min`,
    * `troll_max`, `troll_mean`, `troll_sum`.
    *
    * Laws: the frame is a RANGE frame over epoch micros, so rows sharing a
    * timestamp are frame PEERS — every peer sees the identical frame and
    * the output is deterministic without a tie-break column (a row-bounded
    * frame can't promise that). Zero temporal leakage by the frame bound.
    *
    * Scale shape: same single exchange + sort as [[withRolling]]; the
    * frame is value-bounded so per-row state is the rows inside the span
    * (bounded by data rate × windowSec), never the whole partition. */
  def withRollingTime(df: DataFrame, s: TrajSchema, valueCol: String, windowSec: Double): DataFrame = {
    require(windowSec > 0, s"rolling time window must be positive, got $windowSec")
    val m = Times.micros(s.tsCol)
    val w = Window.partitionBy(s.idCol).orderBy(m)
      .rangeBetween(-(windowSec * 1e6).toLong, Window.currentRow)
    val v = col(valueCol)
    df.select(col("*"),
      count(v).over(w).as("troll_n"),
      min(v).over(w).as("troll_min"),
      max(v).over(w).as("troll_max"),
      avg(v).over(w).as("troll_mean"),
      sum(v).over(w).as("troll_sum"))
  }
}
