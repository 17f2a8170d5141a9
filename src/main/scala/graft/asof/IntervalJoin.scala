package graft.asof

import graft.core.Times
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-interval join (north-rule family): for every probe row
  * (entity, ts) attach the covering build-side interval [start, end) of the
  * same entity — events → validity windows, tokens → document spans,
  * measurements → calibration epochs. "Covering" is half-open
  * (start ≤ ts < end); among several covering intervals the LATEST start
  * wins (the most specific / most recently opened window — pandas
  * `IntervalIndex.get_indexer`-style), ties at equal start broken by the
  * LARGEST `buildOrder` (matching [[AsOfMerge.backward]]'s last-wins rule,
  * so the two formulations agree row-for-row wherever both match).
  *
  * Two formulations, both value-checked against the same DuckDB oracle
  * semantics:
  *
  *   - [[align]] — the as-of REDUCTION: backward as-of on interval start,
  *     then null out matches whose interval had already closed
  *     (end ≤ ts). One exchange + one sort, O(n) frames — but it can only
  *     see the LATEST-STARTED interval, so when intervals overlap and the
  *     latest-started one closes before `ts` while an earlier one still
  *     covers, align reports no match. EXACT for non-overlapping-per-entity
  *     intervals (the common validity-window contract); the divergence on
  *     overlap is the formulation's documented semantics ("latest start ≤
  *     ts, if still open"), not an approximation error.
  *   - [[banded]] — the general range join: intervals are exploded across
  *     fixed time bands, probes join their single band, the cover
  *     predicate rides the join, a per-probe window elects the winner.
  *     Exact under arbitrary overlap; fan-out = interval span in bands
  *     (capped LOUDLY by `maxSpanBands` — a mis-sized band is an error,
  *     never silent row loss).
  *
  * At 100 TB the banded form is the scale path for overlapping interval
  * sets (band fan-out is bounded and the join is an equi-join on
  * (entity, band) — AQE-skew-splittable, unlike an inequality-only range
  * join which Spark can only plan as BNLJ); align is the scale path for
  * the non-overlapping contract (one exchange, reusable across as-of
  * stages, zero over bucketed inputs via [[AsOfMerge]]).
  */
object IntervalJoin {

  /** As-of reduction: latest interval with start ≤ ts; match only while it
    * is still open (ts < end). Output: probe columns +
    * `interval_start`, `interval_end` + `valueCols` (nulls when no match).
    *
    * @param buildOrder extra interval-side tie-break columns at equal start
    */
  def align(
      probe: DataFrame,
      intervals: DataFrame,
      entity: String,
      ts: String,
      startCol: String,
      endCol: String,
      valueCols: Seq[String],
      buildOrder: Seq[String] = Nil
  ): DataFrame = {
    val probeCols = probe.columns.toSeq
    require(!probeCols.contains("_iv_end"), "probe column '_iv_end' collides with the internal end marker")
    val build = intervals.select(
      Seq(col(entity), col(startCol).as(ts), col(endCol).as("_iv_end")) ++
        (valueCols ++ buildOrder).distinct.map(col): _*)
    // through the Catalyst-native merge exec (the engine's one as-of join:
    // exchange-free over bucketed inputs)
    val merged = AsOfMerge.backward(probe, build, entity, ts, valueCols :+ "_iv_end", buildOrder = buildOrder)
    val covered = col("asof_ts").isNotNull && Times.micros(col(ts)) < Times.micros(col("_iv_end"))
    merged.select(
      probeCols.map(col) ++
        Seq(when(covered, col("asof_ts")).as("interval_start"),
          when(covered, col("_iv_end")).as("interval_end")) ++
        valueCols.map(c => when(covered, col(c)).as(c)): _*)
  }

  /** General banded range join, exact under overlapping intervals.
    *
    * Each interval is replicated to every `bandSec`-wide time band it
    * touches (`sequence(⌊start/band⌋, ⌊(end−1)/band⌋)` — half-open, so an
    * interval ending exactly on a band boundary does not enter the next
    * band); each probe row carries its single band; the join is an
    * EQUI-join on (entity, band) with the cover predicate riding it, left
    * outer so probes with no covering interval survive with nulls. A
    * (probe, interval) pair can meet only in the probe's one band — no
    * duplicate candidates, no post-dedup. The winner window partitions by
    * `probeKey` (unique per probe row), groups bounded by the per-probe
    * overlap degree.
    *
    * `maxSpanBands` bounds the replication fan-out: an interval spanning
    * more bands RAISES (band mis-sized for the data — at 10⁹ intervals a
    * silent 10⁶-band straggler would detonate the explode). Size `bandSec`
    * near the typical interval length: fan-out ≈ 2 while a probe band
    * scans only its own band's intervals. */
  def banded(
      probe: DataFrame,
      intervals: DataFrame,
      entity: String,
      ts: String,
      startCol: String,
      endCol: String,
      valueCols: Seq[String],
      probeKey: String,
      bandSec: Double,
      buildOrder: Seq[String] = Nil,
      maxSpanBands: Int = 1 << 16
  ): DataFrame = {
    require(bandSec > 0, s"bandSec must be positive, got $bandSec")
    require(maxSpanBands > 0, s"maxSpanBands must be positive, got $maxSpanBands")
    val probeCols = probe.columns.toSeq
    val bandLen = (bandSec * 1e6).toLong
    // sub-microsecond bandSec truncates to 0 and the band index becomes a
    // division by zero (Infinity → all bands collapse) — fail loudly instead
    require(bandLen > 0, s"bandSec = $bandSec is below 1 microsecond — band length truncates to 0")
    val sMic = Times.micros(col(startCol))
    val eMic = Times.micros(col(endCol))
    val bLo = floor(sMic.cast("double") / bandLen).cast("long")
    val bHi = floor((eMic - 1).cast("double") / bandLen).cast("long")
    val span = bHi - bLo + 1
    // the raise_error sits INSIDE the exploded value so column pruning can
    // never silently drop the guard
    val bandsArr = when(sMic.isNull || eMic.isNull || eMic <= sMic, array().cast("array<long>"))
      .when(span > maxSpanBands, raise_error(concat(
        lit(s"IntervalJoin.banded: interval spans > $maxSpanBands bands of ${bandSec}s (entity "),
        col(entity).cast("string"), lit(", start "), col(startCol).cast("string"),
        lit(") — raise bandSec or maxSpanBands"))).cast("array<long>"))
      .otherwise(sequence(bLo, bHi))
    val iv = intervals.select(
      Seq(col(entity).as("_i_entity"), explode(bandsArr).as("_i_band"),
        sMic.as("_i_start_mic"), col(startCol).as("_i_start"), col(endCol).as("_i_end"),
        eMic.as("_i_end_mic")) ++
        (valueCols ++ buildOrder).distinct.map(c => col(c).as(s"_i_$c")): _*)
    val pMic = Times.micros(col(ts))
    val pBand = floor(pMic.cast("double") / bandLen).cast("long")
    val cond = col(entity) === col("_i_entity") && pBand === col("_i_band") &&
      col("_i_start_mic") <= pMic && pMic < col("_i_end_mic")
    val joined = probe.join(iv, cond, "left")
    // winner per probe row via max_by, NOT a row_number window: the
    // hash-aggregate gets map-side partial aggregation, so overlapping
    // candidates collapse BEFORE the exchange and nothing is sorted
    // (candidate groups are homogeneous — the left join emits the
    // null-candidate row only when there is no match at all). Struct
    // ordering is field-lexicographic, so max(start, buildOrder…) is
    // exactly the latest-start / largest-tie-break winner; callers must
    // pass a unique buildOrder for full determinism under exact ties
    // (same contract as the window formulation).
    val payload = struct(
      probeCols.map(col) ++
        Seq(col("_i_start").as("interval_start"), col("_i_end").as("interval_end")) ++
        valueCols.map(c => col(s"_i_$c").as(c)): _*)
    val ord = struct(col("_i_start_mic") +: buildOrder.map(c => col(s"_i_$c")): _*)
    // LOUD probe-key-uniqueness guard (module law: guards raise, never
    // silently drop): the winner election emits ONE row per probeKey, so
    // two DISTINCT probe rows sharing a key would silently collapse. The
    // min/max of an 8-byte xxhash64 over the probe payload ride the same
    // hash aggregate (partial-aggregable, no extra pass, and — unlike
    // min/max of the full payload struct — no ~3× widening of per-group
    // aggregate state on an operator whose design brief is minimal
    // exchange bytes); min ≠ max ⇒ distinct rows shared the key ⇒ raise.
    // Bit-identical duplicate rows remain undetectable (they would have
    // produced identical output anyway), and a 64-bit hash collision
    // between two distinct same-key rows (~2⁻⁶⁴) would miss the raise —
    // the guard is a tripwire, not the correctness mechanism. The isnull
    // markers are hashed alongside because xxhash64 SKIPS null inputs
    // (rows differing only in which column is null would otherwise
    // collide structurally, not probabilistically).
    val probeHash = xxhash64(
      probeCols.map(col) ++ probeCols.map(c => isnull(col(c)).cast("int")): _*)
    joined
      .groupBy(col(probeKey).as("_pk"))
      .agg(
        max_by(payload, ord).as("_w"),
        min(probeHash).as("_hmin"),
        max(probeHash).as("_hmax"))
      .select(
        when(col("_hmin") =!= col("_hmax"), raise_error(concat(
          lit("IntervalJoin.banded: probeKey "), col("_pk").cast("string"),
          lit(s" is shared by distinct probe rows — banded() emits one row per '$probeKey'; pass a unique probe key"))))
          .otherwise(col("_w")).as("_w"))
      .select(col("_w.*"))
  }
}
