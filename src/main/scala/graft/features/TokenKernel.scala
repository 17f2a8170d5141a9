package graft.features

import graft.core.TokenAdapter
import graft.kernels.Geo
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{col, lit, shiftleft}

/** Shuffle-free kinematic+session feature kernel for PRE-GROUPED sequences.
  *
  * The graft's authoritative input (`doc_id, tokens array<int32>, n_tok,
  * source` — BASELINE.json input_hint) already holds one entity per row with
  * its observations in order. The general engine path
  * ([[graft.core.TokenAdapter.explodeTokens]] → [[Kinematic.withKinematics]]
  * → [[graft.session.Sessionize.byGap]]) re-groups via an
  * Exchange(hashpartitioning(doc_id)) + Sort — work that is pure overhead
  * when the grouping already exists in the storage layout. This kernel is
  * the physical fast path: a typed `Dataset.map` (Dataset API, not RDD) that
  * runs the whole per-entity chain as one JIT-compiled loop — the idiomatic
  * Spark analogue of the reference's per-trajectory vectorized numpy kernel
  * (ptrail/features/helper_functions.py:144-190), but embarrassingly
  * parallel over input splits with ZERO shuffle, zero sort, and no
  * multiprocessing IPC (kinematic_features.py:201-222).
  *
  * Exactness contract: every arithmetic step mirrors the declarative plan
  * op-for-op — `xxhash64` via catalyst's XXH64 with Spark's literal-fold
  * order, haversine/bearing through [[graft.kernels.Geo]]'s scalars (the
  * functions the declarative plan calls), Δt through the same
  * micros-long → double division. TokenKernelSpec asserts BIT-EQUALITY of
  * every feature against the window path on the synthetic corpus.
  *
  * At 100 TB: this path scans Iceberg/parquet splits and emits per-doc
  * vectors with no exchange at all — the scaling-efficiency headline in
  * BENCH.md. The window path remains the semantics reference and covers
  * inputs that are NOT pre-grouped (event streams, as-of merge outputs).
  */
object TokenKernel {

  case class SeqRow(doc_id: String, tokens: Array[Int])

  /** Per-document consumed feature vector (same aggregates as the bench
    * flagship's consume-all groupBy: null-skipping sums over every feature,
    * max session id, row count). Sums are Options: a SQL sum over an
    * all-null column is NULL (short docs — e.g. sum_Jerk of a 3-token doc),
    * and the kernel must agree with the window path there too. */
  case class DocVector(
      doc_id: String,
      n: Long,
      n_sessions: Long,
      sum_Distance: Option[Double],
      sum_Distance_from_start: Option[Double],
      sum_Speed: Option[Double],
      sum_Acceleration: Option[Double],
      sum_Jerk: Option[Double],
      sum_Bearing: Option[Double],
      sum_Bearing_Rate: Option[Double],
      sum_Rate_of_bearing_rate: Option[Double]
  )

  /** Per-token row for parity testing against the window path. */
  case class TokenRow(
      doc_id: String,
      pos: Int,
      token: Int,
      lat: Double,
      lon: Double,
      Distance: Option[Double],
      Distance_from_start: Option[Double],
      Speed: Option[Double],
      Acceleration: Option[Double],
      Jerk: Option[Double],
      Bearing: Option[Double],
      Bearing_Rate: Option[Double],
      Rate_of_bearing_rate: Option[Double],
      session_id: Long
  )

  private val SparkHashSeed = 42L

  /** Spark's `xxhash64(lit(seed), token, pos)` for int columns: left fold of
    * XXH64.hashInt starting at seed 42 (catalyst XxHash64 semantics). */
  @inline private def hash3(seedLit: Int, token: Int, pos: Int): Long = {
    var h = XXH64.hashInt(seedLit, SparkHashSeed)
    h = XXH64.hashInt(token, h)
    XXH64.hashInt(pos, h)
  }

  /** TokenAdapter.hashFrac mirror: hash → double in [0, 1). */
  @inline private def hashFrac(seedLit: Int, token: Int, pos: Int): Double =
    hash3(seedLit, token, pos).toDouble / 1.8446744073709552e19 + 0.5

  /** Geo.infToNull mirror: a ±Inf result is "null" (undefined); genuine NaN
    * stays a defined VALUE (Spark's sum/compare treat NaN as a value). */
  @inline private def isInf(v: Double): Boolean =
    v == Double.PositiveInfinity || v == Double.NegativeInfinity

  /** The per-document loop. Returns (sums..., nSessions) via a single pass.
    * Feature f of derivative order d is undefined (NaN) for the first d
    * positions — identical to the window path's lag-null chain.
    *
    * `positions == null` means the contiguous pre-grouped case (pos ≡ i,
    * Δt constant). A non-null strictly-increasing `positions` array is the
    * SPARSE case (re-grouped from an ungrouped grid — gaps allowed): Δt per
    * step is `Δpos·stepSec` through the same integer-micros → double divide
    * as the window path's `(micros − lag(micros)).cast(double)/1e6`, and
    * the session boundary re-tests `ΔtMicros > gapMicros` per step exactly
    * like [[graft.session.Sessionize.byGap]]. */
  private final class DocState(stepSec: Long, gapSeconds: Double) extends Serializable {
    private val dtMicros: Long = stepSec * 1000000L
    private val gapMicros: Long = (gapSeconds * 1e6).toLong

    /** Per-feature sum accumulator that distinguishes SQL-null (skipped by
      * sum) from a genuine NaN VALUE (which poisons the sum, exactly like
      * Spark's Sum over a NaN double). `seen` = any defined contribution. */
    private final class SumAcc {
      var sum: Double = 0.0
      var seen: Boolean = false
      @inline def add(v: Double, defined: Boolean): Unit =
        if (defined) { sum = if (seen) sum + v else v; seen = true }
      @inline def opt: Option[Double] = if (seen) Some(sum) else None
    }

    def run(r: SeqRow, emit: TokenRow => Unit): DocVector =
      run(r.doc_id, r.tokens, null, emit)

    def run(docId: String, tokens: Array[Int], positions: Array[Int], emit: TokenRow => Unit): DocVector = {
      val n = tokens.length
      val sDist, sDistStart, sSpeed, sAcc, sJerk, sBrg, sBrate, sRobr = new SumAcc
      var pLat, pLon = 0.0
      var lat0, lon0 = 0.0
      var pSpeed, pAcc, pBrg, pBrate = 0.0
      // definedness is tracked SEPARATELY from the value: a feature can be
      // a defined genuine NaN (window path: non-null NaN) or undefined
      // (window path: null from a missing lag or from infToNull)
      var pSpeedDef, pAccDef, pBrgDef, pBrateDef = false
      var i = 0
      var sessions = 0L
      while (i < n) {
        val tok = tokens(i)
        val pos = if (positions eq null) i else positions(i)
        val lat = -90.0 + hashFrac(1, tok, pos) * 180.0
        val lon = -180.0 + hashFrac(2, tok, pos) * 360.0
        if (i == 0) { lat0 = lat; lon0 = lon }
        var dist, distStart, speed, accel, jerk, brg, brate, robr = 0.0
        var dDist, dSpeed, dAcc, dJerk, dBrg, dBrate, dRobr = false
        if (i > 0) {
          // Δt via the window path's exact op order: integer micros diff,
          // then ONE correctly-rounded divide (Kinematic.dtSeconds)
          val dtMic =
            if (positions eq null) dtMicros
            else (pos.toLong - positions(i - 1).toLong) * dtMicros
          val dt = dtMic.toDouble / 1e6
          dist = Geo.haversine(pLat, pLon, lat, lon); dDist = true
          distStart = Geo.haversine(lat0, lon0, lat, lon)
          brg = Geo.bearing(pLat, pLon, lat, lon); dBrg = true
          // derivative defined iff BOTH the current and lagged upstream
          // values are defined (a null on either side nulls the window
          // expression) and the division didn't overflow (infToNull)
          speed = dist / dt; dSpeed = !isInf(speed)
          if (dBrg && pBrgDef) { brate = (brg - pBrg) / dt; dBrate = !isInf(brate) }
          if (dSpeed && pSpeedDef) { accel = (speed - pSpeed) / dt; dAcc = !isInf(accel) }
          if (dAcc && pAccDef) { jerk = (accel - pAcc) / dt; dJerk = !isInf(jerk) }
          if (dBrate && pBrateDef) { robr = (brate - pBrate) / dt; dRobr = !isInf(robr) }
          if (dtMic > gapMicros) sessions += 1
        }
        sDist.add(dist, dDist); sDistStart.add(distStart, dDist)
        sSpeed.add(speed, dSpeed); sAcc.add(accel, dAcc); sJerk.add(jerk, dJerk)
        sBrg.add(brg, dBrg); sBrate.add(brate, dBrate); sRobr.add(robr, dRobr)
        if (emit ne null) {
          def o(v: Double, d: Boolean): Option[Double] = if (d) Some(v) else None
          emit(TokenRow(docId, pos, tok, lat, lon, o(dist, dDist), o(distStart, dDist),
            o(speed, dSpeed), o(accel, dAcc), o(jerk, dJerk), o(brg, dBrg),
            o(brate, dBrate), o(robr, dRobr), sessions))
        }
        pLat = lat; pLon = lon
        pSpeed = speed; pSpeedDef = dSpeed
        pAcc = accel; pAccDef = dAcc
        pBrg = brg; pBrgDef = dBrg
        pBrate = brate; pBrateDef = dBrate
        i += 1
      }
      DocVector(docId, n, sessions, sDist.opt, sDistStart.opt, sSpeed.opt,
        sAcc.opt, sJerk.opt, sBrg.opt, sBrate.opt, sRobr.opt)
    }
  }

  /** Full flagship per-doc feature vectors with NO shuffle: scan → typed map.
    * `stepSec`/`gapSeconds` as in TokenAdapter.explodeTokens / Sessionize. */
  def docVectors(corpus: DataFrame, stepSec: Long = 1L, gapSeconds: Double = 1.5): Dataset[DocVector] = {
    val state = new DocState(stepSec, gapSeconds)
    corpus
      .select("doc_id", "tokens")
      // null/empty token arrays produce no grid rows in the window path
      // (posexplode emits nothing) ⇒ no output doc there either
      .where(org.apache.spark.sql.functions.size(org.apache.spark.sql.functions.col("tokens")) > 0)
      .as(Encoders.product[SeqRow])
      .map(r => state.run(r, null))(Encoders.product[DocVector])
  }

  /** Projection to `(doc_id, packed long)`: one
    * `(pos << 32) | (token & 0xFFFFFFFF)` long per observation (codegen;
    * signed packing keeps order correct for negative positions). With
    * `numPartitions` set, an EXPLICIT hash repartition on doc_id rides
    * here — the downstream groupBy/mapGroups reuses the partitioning
    * (still exactly one exchange), and the explicit count
    * (REPARTITION_BY_NUM origin) is exempt from AQE partition coalescing.
    * Measured (BENCH.md §regroup): AQE's 64 MB advisory target coalesces
    * the ~1 GB regroup exchange to ~one task WAVE, serializing whale-doc
    * stragglers — pinning ~4 waves/core restored 93% task-slot
    * utilization. Leave None on real clusters unless the same one-wave
    * pattern appears. */
  private def packedGrid(
      grid: DataFrame, docCol: String, posCol: String, tokenCol: String,
      numPartitions: Option[Int]): DataFrame = {
    val packed = shiftleft(col(posCol).cast("long"), 32)
      .bitwiseOR(col(tokenCol).cast("long").bitwiseAND(lit(0xFFFFFFFFL)))
    val projected = grid.select(col(docCol).cast("string").as("doc_id"), packed.as("_pt"))
    numPartitions.map(n => projected.repartition(n, col("doc_id"))).getOrElse(projected)
  }

  /** The packed rows grouped by doc: one exchange on doc_id, then a sort by
    * the KEY ONLY (8-byte prefix comparisons). */
  private def groupedPacked(
      grid: DataFrame, docCol: String, posCol: String, tokenCol: String,
      numPartitions: Option[Int]): KeyValueGroupedDataset[String, (String, Long)] =
    packedGrid(grid, docCol, posCol, tokenCol, numPartitions)
      .groupBy(col("doc_id"))
      .as[String, (String, Long)](Encoders.STRING, Encoders.tuple(Encoders.STRING, Encoders.scalaLong))

  /** UNGROUPED-input fast path (VERDICT r4 #1): per-doc feature vectors
    * over an exploded / evented grid `(doc_id, pos, token)` that is NOT
    * pre-grouped — the general-path replacement for the exploded-grid
    * 8-frame window chain. Exchange the packed rows on doc_id, sort each
    * partition by the key only (not the window chain's multi-column sort),
    * and stream one doc at a time through the same zero-copy kernel as
    * [[docVectors]] via `groupBy(col).as[...].mapGroups`. Each doc's
    * primitive long array is sorted locally (`java.util.Arrays.sort`);
    * positions must be UNIQUE per doc (same contract as the window path's
    * total order).
    *
    * No aggregate hash map, so no session-conf sensitivity and no per-task
    * map memory — peak memory is ONE doc's packed array (whale docs bound a
    * task at O(n_doc), the same envelope as the window path's
    * per-partition frame). RegroupKernelSpec asserts the route bit-equals
    * the window path. */
  def regroupDocVectorsSorted(
      grid: DataFrame,
      stepSec: Long = 1L,
      gapSeconds: Double = 1.5,
      docCol: String = "doc_id",
      posCol: String = "pos",
      tokenCol: String = "token",
      numPartitions: Option[Int] = None
  ): Dataset[DocVector] = {
    val state = new DocState(stepSec, gapSeconds)
    groupedPacked(grid, docCol, posCol, tokenCol, numPartitions)
      .mapGroups { (doc, it) =>
        var arr = new Array[Long](64)
        var n = 0
        while (it.hasNext) {
          if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n << 1)
          arr(n) = it.next()._2
          n += 1
        }
        val (positions, tokens) = unpack(java.util.Arrays.copyOf(arr, n))
        state.run(doc, tokens, positions, null)
      }(Encoders.product[DocVector])
  }

  /** Per-token features through the re-group route (parity surface). */
  def regroupTokenRows(
      grid: DataFrame,
      stepSec: Long = 1L,
      gapSeconds: Double = 1.5,
      docCol: String = "doc_id",
      posCol: String = "pos",
      tokenCol: String = "token"
  ): Dataset[TokenRow] = {
    val state = new DocState(stepSec, gapSeconds)
    groupedPacked(grid, docCol, posCol, tokenCol, None).flatMapGroups { (doc, it) =>
      val (positions, tokens) = unpack(it.map(_._2).toArray)
      val buf = new scala.collection.mutable.ArrayBuffer[TokenRow](tokens.length)
      state.run(doc, tokens, positions, buf += _)
      buf
    }(Encoders.product[TokenRow])
  }

  /** Sort the packed array (signed long order = (pos, token-unsigned)
    * lexicographic) and split into primitive position/token arrays. */
  private def unpack(pt: Array[Long]): (Array[Int], Array[Int]) = {
    java.util.Arrays.sort(pt)
    val n = pt.length
    val positions = new Array[Int](n)
    val tokens = new Array[Int](n)
    var i = 0
    while (i < n) {
      positions(i) = (pt(i) >> 32).toInt
      tokens(i) = pt(i).toInt
      i += 1
    }
    (positions, tokens)
  }

  /** Per-token features (parity/testing surface; explodes like the grid). */
  def tokenRows(corpus: DataFrame, stepSec: Long = 1L, gapSeconds: Double = 1.5): Dataset[TokenRow] = {
    val state = new DocState(stepSec, gapSeconds)
    corpus
      .select("doc_id", "tokens")
      .where(org.apache.spark.sql.functions.size(org.apache.spark.sql.functions.col("tokens")) > 0)
      .as(Encoders.product[SeqRow])
      .flatMap { r =>
        val buf = new scala.collection.mutable.ArrayBuffer[TokenRow](r.tokens.length)
        state.run(r, buf += _)
        buf
      }(Encoders.product[TokenRow])
  }
}
