package graft.dedup

import graft.functions.TextHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines, Spark-first:
  *
  *  - exact: one hash-aggregate on md5(text) — scan-speed at 100 TB
  *  - n-gram Jaccard: inverted-index self-join on shingle hashes (pairs
  *    share ≥1 shingle) — the classic scalable pattern; no O(n²) cross join
  *  - MinHash + LSH: signatures → band buckets → candidates only from
  *    bucket collisions; estimate = matching-signature fraction
  *  - SimHash: 62-bit fingerprint via per-bit majority vote
  *
  * All hashes are engine-portable integer arithmetic (TextHash) so the
  * DuckDB oracle reproduces them bit-for-bit.
  */
object Dedup {

  /** Exact dedup on content hash; keeps the smallest id per group and
    * flags the rest. Output: (id, content_hash, keep).
    *
    * One shuffle: `min(id) over (partition by content_hash)` — the
    * groupBy+join formulation computed the same keeper set with a second
    * exchange (same output, one more corpus-wide shuffle at 100 TB). */
  def exact(df: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("content_hash"))
    df.select(col(id), md5(col(text)).as("content_hash"))
      .withColumn("keep", col(id) === min(col(id)).over(w))
      .select(col("content_hash"), col(id), col("keep"))
  }

  /** Per-doc distinct k-word shingle hash set. */
  def shingles(df: DataFrame, k: Int = 3, id: String = "doc_id", text: String = "text"): DataFrame =
    df.select(
      col(id),
      TextHash.shingleHashes(TextHash.tokenHashes(col(text)), k).as("shingles")
    ).withColumn("n_shingles", size(col("shingles")))

  /** Default document-frequency cap for [[ngramJaccardPairs]]: a shingle
    * shared by f docs contributes f² candidate rows, so ONE boilerplate
    * shingle at corpus scale detonates the join — the cap must be opt-OUT
    * (pass `maxDf = Int.MaxValue` for exact semantics on bounded inputs).
    * 10⁴ bounds any one shingle's contribution at 10⁸ narrow rows — large
    * but finite on a cluster — while binding on no realistic near-dup pair
    * (two docs sharing ONLY >10k-frequency shingles are boilerplate, not
    * duplicates). */
  val DefaultMaxDf: Int = 10000

  /** Audit view for the cap: the shingles [[ngramJaccardPairs]] would drop
    * at `maxDf`, with their document frequencies — run this (cheap: one
    * count per distinct shingle) to LOG what a capped run ignored. */
  def hotShingles(df: DataFrame, k: Int = 3, maxDf: Int = DefaultMaxDf,
      id: String = "doc_id", text: String = "text"): DataFrame =
    shingles(df, k, id, text)
      .select(explode(col("shingles")).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("doc_freq"))
      .where(col("doc_freq") > maxDf)

  /** n-gram Jaccard for all pairs sharing ≥1 surviving shingle, thresholded.
    * |A∩B| from the inverted-index join; J = c / (|A|+|B|−c). Output:
    * (id_a, id_b, jaccard) with id_a < id_b. Shingles appearing in more than
    * `maxDf` docs are dropped BEFORE the pair join (default [[DefaultMaxDf]]
    * — see there; [[hotShingles]] reports what a cap dropped), and J is the
    * TRUE Jaccard of the SURVIVING shingle sets — |A| and |B| are recounted
    * after the cap, so a pair of near-duplicates whose overlap is mostly
    * boilerplate is scored on its residual content, never diluted by
    * counting dropped shingles in the denominator only. With the cap
    * disabled (`maxDf = Int.MaxValue`) this is exact set Jaccard. */
  def ngramJaccardPairs(
      df: DataFrame,
      k: Int = 3,
      threshold: Double = 0.5,
      id: String = "doc_id",
      text: String = "text",
      maxDf: Int = DefaultMaxDf
  ): DataFrame = {
    val sh = shingles(df, k, id, text)
    val inv0 = sh.select(col(id).as("_id"), explode(col("shingles")).as("sh"))
    val inv =
      if (maxDf == Int.MaxValue) inv0
      else {
        val dfCounts = CapAudit
          .observeDrops(
            inv0.groupBy(col("sh")).agg(count(lit(1)).as("_df")),
            when(col("_df") > maxDf, col("_df")).otherwise(0L),
            "jaccard_df_cap", "Dedup.hotShingles (raise maxDf for exact semantics)")
          .where(col("_df") <= maxDf)
        inv0.join(dfCounts.select(col("sh")), Seq("sh"))
      }
    // Round-6 shape: the pair join ships NARROW (id, sh) rows and the
    // surviving-set sizes ride in as a per-id aggregate joined onto the
    // (far smaller) pair table — the old plan computed sizes as a window
    // count over the full inverted index, inserting an extra full-index
    // exchange + sort by _id between the cap and the pair join, and
    // carried na/nb through the join just to first() them back out.
    // |A| = count over the kept index per id ≡ the old window count (for
    // the uncapped path it equals n_shingles: `shingles` is the DISTINCT
    // per-doc set); Jaccard values are bit-identical (integer counts).
    val sizes = inv.groupBy(col("_id")).agg(count(lit(1)).as("_n"))
    // The candidate self-join's OUTPUT (Σ_sh df(sh)² rows, partially
    // aggregated in-stage) dwarfs its input (the narrow inverted index) —
    // and AQE sizes post-shuffle stages from MAP-OUTPUT bytes, so at small
    // index sizes it coalesces the join down to ONE serial task (measured:
    // 1.9 s single-task join stage = 60% of the query wall at sf0.1). The
    // engine knows the blow-up the optimizer cannot see (guide §8): pin the
    // join's parallelism at the session's shuffle-partition conf — an
    // explicit-count repartition is exempt from AQE coalescing, and both
    // sides derive from the SAME repartitioned frame so the second exchange
    // plans as a ReusedExchange (the index lineage still evaluates once).
    // (SHUFFLE_MERGE: at small SFs AQE demotes the pinned SMJ to a
    // broadcast join whose probe side becomes a per-MAPPER local shuffle
    // read — one upstream map task ⇒ the whole pair blow-up runs serially
    // again. The hint keeps the exchange-honoring merge join, which is the
    // only feasible strategy at corpus scale anyway: an inverted index
    // never fits a broadcast.)
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val invP = inv.repartition(nParts, col("sh"))
    val a = invP.select(col("_id").as("id_a"), col("sh"))
    val b = invP.select(col("_id").as("id_b"), col("sh"))
    a.join(b.hint("SHUFFLE_MERGE"), Seq("sh"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("c"))
      .join(sizes.select(col("_id").as("id_a"), col("_n").as("na")), Seq("id_a"))
      .join(sizes.select(col("_id").as("id_b"), col("_n").as("nb")), Seq("id_b"))
      .withColumn("jaccard", col("c").cast("double") / (col("na") + col("nb") - col("c")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Benchmark DECONTAMINATION: flag corpus docs sharing any k-word shingle
    * with a benchmark/eval set — the standard pre-training hygiene pass that
    * keeps test questions out of the training data. The benchmark's distinct
    * shingle-hash set is dimension-sized (eval suites are thousands of docs,
    * not billions) so it BROADCASTS; the corpus side is one scan + explode +
    * broadcast hash-semi-join + per-doc count — zero shuffles on the corpus
    * until the final keyed agg (map-side partial). Output: (id, n_hits) for
    * contaminated docs only; anti-join `all` against it to keep the clean
    * ones. */
  def contaminatedDocs(
      corpus: DataFrame,
      benchmark: DataFrame,
      k: Int = 3,
      id: String = "doc_id",
      text: String = "text"
  ): DataFrame = {
    val benchShingles = benchmark
      .select(explode(TextHash.shingleHashes(TextHash.tokenHashes(col(text)), k)).as("sh"))
      .distinct()
    val inv = shingles(corpus, k, id, text)
      .select(col(id), explode(col("shingles")).as("sh"))
    inv.join(broadcast(benchShingles), Seq("sh"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Bloom-prefilter decontamination — identical output to
    * [[contaminatedDocs]] (same oracle), different memory law. The exact
    * path broadcasts the FULL benchmark shingle set to every executor
    * (~16+ GB of hash table at 10⁹ shingles); this path builds ONE Bloom
    * filter over the benchmark shingles (`numBits` bits total — 4 MB
    * default, GB-scale sets fit in hundreds of MB at 1% fpp), ships it as
    * a scan-time literal, and kills ~all non-contaminated corpus shingles
    * at scan speed. The few bloom survivors (true hits + fpp·|corpus
    * shingles| false positives) then take an EXACT confirm join against
    * the benchmark set — a shuffle join whose probe side is now tiny, so
    * no broadcast of the exact set is ever needed. Two-stage
    * bloom-then-verify is the standard trick for contains-joins against
    * huge build sides; the confirm stage makes the result EXACT, so the
    * Bloom sizing only affects cost, never correctness.
    *
    * Uses Spark's own `BloomFilterAggregate` / `BloomFilterMightContain`
    * (the runtime-filter machinery, reached through the catalyst bridge —
    * they are not registered as SQL functions). The built filter is
    * collected once on the driver (it is `numBits/8` bytes, bounded by
    * construction) and embedded as a foldable literal, which is what
    * `might_contain` requires of its filter side.
    *
    * Output: (id, n_hits) — distinct contaminated shingle count per doc. */
  def contaminatedDocsBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      k: Int = 3,
      id: String = "doc_id",
      text: String = "text",
      // ≤ 0 = AUTO (round 6): size the filter from the OBSERVED distinct
      // benchmark shingle count (~9.6 bits/item ⇒ ~1% fpp), bounded by the
      // old fixed default 2^25 bits = 4 MB. The fixed 4 MB literal cost
      // ~2 s of DRIVER time per call — catalyst re-walks plan literals
      // during analysis/optimization, and a 4 MB byte-array literal makes
      // every expression-tree comparison a multi-MB scan — while the demo
      // benchmark needs only a few KB of filter. fpp only moves the COST
      // of the exact confirm join, never the result, so auto-sizing is
      // output-identical; callers with GB-scale benchmarks still pass
      // explicit sizes.
      estItems: Long = -1L,
      numBits: Long = -1L
  ): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val benchShingles = benchmark
      .select(explode(TextHash.shingleHashes(TextHash.tokenHashes(col(text)), k)).as("sh"))
      .distinct()
    val (estItemsEff, numBitsEff) =
      if (estItems > 0 && numBits > 0) (estItems, numBits)
      else {
        require(estItems <= 0 && numBits <= 0,
          "pass estItems and numBits together (or neither, for auto-sizing)")
        // one count over the (small, benchmark-side) distinct set — the
        // same frame the aggregate below scans again to build the filter
        val n = math.max(benchShingles.count(), 1L)
        (n, math.min(math.max(64L, n * 10L), 1L << 25))
      }
    val bloomAgg = GraftSqlBridge.column(
      new BloomFilterAggregate(
        GraftSqlBridge.expression(col("sh")),
        GraftSqlBridge.expression(lit(estItemsEff)),
        GraftSqlBridge.expression(lit(numBitsEff))
      ).toAggregateExpression())
    val bloomBytes = benchShingles.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    val inv = shingles(corpus, k, id, text)
      .select(col(id), explode(col("shingles")).as("sh"))
    // an empty benchmark aggregates to a null filter — nothing contaminates
    // (might_contain rejects a NullType literal at analysis, so guard here)
    if (bloomBytes == null) return inv.groupBy(col(id)).agg(count(lit(1)).as("n_hits")).limit(0)
    val prefiltered = inv.where(GraftSqlBridge.column(BloomFilterMightContain(
      GraftSqlBridge.expression(lit(bloomBytes)),
      GraftSqlBridge.expression(col("sh")))))
    prefiltered
      .join(benchShingles, Seq("sh"), "left_semi") // exact confirm — kills fpp survivors
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Span-level decontamination: the TOKEN positions (0-based start of each
    * k-token shingle) at which a corpus doc matches a benchmark shingle —
    * what a scrubbing stage needs to EXCISE contaminated spans instead of
    * dropping whole documents. Same 100-TB shape as [[contaminatedDocs]]:
    * benchmark shingle set broadcast, corpus scanned once, zero corpus
    * shuffle (the output is a filter+posexplode of the scan). Run it on the
    * [[contaminatedDocs]]-flagged slice, not the full corpus — positions
    * come from the non-distinct positioned shingle array, whose HOF cost is
    * fine on an audit slice. Output: (id, tok_pos, sh). */
  def contaminationSpans(
      corpus: DataFrame,
      benchmark: DataFrame,
      k: Int = 3,
      id: String = "doc_id",
      text: String = "text"
  ): DataFrame = {
    val benchShingles = benchmark
      .select(explode(TextHash.shingleHashes(TextHash.tokenHashes(col(text)), k)).as("sh"))
      .distinct()
    val positioned = corpus.select(
      col(id),
      posexplode(TextHash.positionedShingleHashes(TextHash.tokenHashes(col(text)), k))
        .as(Seq("tok_pos", "sh")))
    positioned.join(broadcast(benchShingles), Seq("sh"))
      .select(col(id), col("tok_pos"), col("sh"))
  }

  /** Corpus-internal BOILERPLATE spans: token positions of k-word shingles
    * whose document frequency is ≥ `minDf` — the fixed-length-n-gram
    * approximation of exact-substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): headers, footers,
    * license blocks and navigation chrome repeat VERBATIM across documents,
    * and a scrub stage excises exactly these spans instead of dropping the
    * documents that carry them. This is [[contaminationSpans]] with the
    * "benchmark" derived from the corpus itself: the hot set.
    *
    * 100-TB shape: one map-side-combinable df aggregate over the distinct
    * per-doc shingles (the only corpus shuffle, shingle-keyed); the hot set
    * is bounded by construction (|hot| ≤ total doc-shingles / minDf) and
    * guarded LOUDLY at `maxSetSize` ([[requireBroadcastable]]) so the
    * scoring join always broadcasts. Span emission is then a scan +
    * broadcast semi-join, zero further corpus shuffle.
    *
    * Output: (id, tok_pos, sh, df) — one row per boilerplate shingle SLOT
    * (0-based start token). */
  def boilerplateSpans(
      corpus: DataFrame,
      minDf: Int,
      k: Int = 3,
      id: String = "doc_id",
      text: String = "text",
      maxSetSize: Int = 1 << 20
  ): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2 (a df-1 shingle is not boilerplate), got $minDf")
    require(maxSetSize > 0, s"maxSetSize must be positive, got $maxSetSize")
    val hot = requireBroadcastable(
      shingles(corpus, k, id, text)
        .select(explode(col("shingles")).as("sh"))
        .groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .where(col("df") >= minDf),
      maxSetSize, s"boilerplateSpans(minDf=$minDf, k=$k)")
    val positioned = corpus.select(
      col(id),
      posexplode(TextHash.positionedShingleHashes(TextHash.tokenHashes(col(text)), k))
        .as(Seq("tok_pos", "sh")))
    positioned.join(broadcast(hot), Seq("sh"))
      .select(col(id), col("tok_pos"), col("sh"), col("df"))
  }

  /** Materialize a hot-set frame under a LOUD size contract (module law:
    * guards raise, never silently drop — a silently top-capped hot set
    * would under-scrub, and the former `orderBy.limit` TakeOrdered form
    * additionally merged partitions × maxSetSize rows on the driver at
    * cluster scale). `limit(max+1).collect()` bounds driver memory by
    * construction, raises with sizing advice when the set overflows, and
    * returns a local relation the join planner broadcasts without
    * re-executing the aggregate lineage. */
  private def requireBroadcastable(hot: DataFrame, maxSetSize: Int, what: String): DataFrame = {
    // maxSetSize + 1 would wrap at Int.MaxValue (callers use MaxValue as
    // "unbounded"); the probe row is only needed when a bound exists
    val probeLimit = if (maxSetSize == Int.MaxValue) maxSetSize else maxSetSize + 1
    val rows = hot.limit(probeLimit).collect()
    require(rows.length <= maxSetSize,
      s"$what: hot shingle set exceeds maxSetSize = $maxSetSize — raise the frequency floor " +
        s"(minDf/minOcc) or the shingle length k, or raise maxSetSize")
    hot.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), hot.schema)
  }

  /** SUBSTRING-level dedup (VERDICT r4 #8): exact repeated-substring
    * excision à la Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (the suffix-array ExactSubstr method), re-expressed
    * as bounded k-token shingles: a substring of ≥ k tokens repeats in
    * the corpus IFF one of its k-token shingles repeats, so slots whose
    * k-shingle OCCURS ≥ `minOcc` times corpus-wide (within-doc repeats
    * count, exactly like the suffix-array scan) are the repeated-substring
    * coverage, and merging overlapping slots yields the maximal spans a
    * scrub stage excises. k plays suffix-array ExactSubstr's min-match
    * length (their 50 BPE tokens). DOCUMENTED DEVIATION: every occurrence
    * is scrubbed (boilerplate semantics) — the reference method keeps one
    * canonical copy, which needs a per-cluster global election; pair this
    * with [[exactDedup]]/[[keepBestPerCluster]] when a surviving copy
    * matters.
    *
    * 100-TB shape: ONE shingle-keyed map-side-combined occurrence count
    * (the only corpus-wide shuffle), hot set bounded by construction
    * (≤ total slots / minOcc) and guarded LOUDLY at `maxSetSize`
    * ([[requireBroadcastable]] — an overflow raises with sizing advice
    * rather than silently under-scrubbing the least-repeated tail);
    * coverage is then a scan + broadcast semi-join, per-doc interval
    * merging is ONE `aggregate` HOF fold over each doc's sorted slot
    * array (no window, no second global sort — the regroup exchange
    * carries only covered slots).
    *
    * Output: one row per input doc — (id, n_tok, n_spans, n_removed,
    * n_kept): maximal repeated-span count, tokens excised, tokens kept. */
  def scrubRepeatedSpans(
      corpus: DataFrame,
      k: Int = 3,
      minOcc: Int = 2,
      id: String = "doc_id",
      text: String = "text",
      maxSetSize: Int = 1 << 20
  ): DataFrame = {
    require(k >= 1, s"shingle length must be >= 1, got $k")
    require(minOcc >= 2, s"minOcc must be >= 2 (a once-seen substring is not repeated), got $minOcc")
    require(maxSetSize > 0, s"maxSetSize must be positive, got $maxSetSize")
    val positioned = corpus.select(
      col(id),
      posexplode(TextHash.positionedShingleHashes(TextHash.tokenHashes(col(text)), k))
        .as(Seq("tok_pos", "sh")))
    // occurrence count (NOT doc frequency): within-doc repeats scrub too
    val hot = requireBroadcastable(
      positioned.groupBy(col("sh")).agg(count(lit(1)).as("occ"))
        .where(col("occ") >= minOcc)
        .select(col("sh")),
      maxSetSize, s"scrubRepeatedSpans(minOcc=$minOcc, k=$k)")
    val covered = positioned.join(broadcast(hot), Seq("sh"))
      .groupBy(col(id)).agg(sort_array(collect_list(col("tok_pos"))).as("_starts"))
    // fold sorted slot starts into (running end, covered tokens, span
    // count): a slot at-or-past the running end opens a NEW maximal span
    // (touching intervals stay distinct spans, coverage is exact either
    // way); an overlapping slot extends the current one
    val folded = covered.select(col(id),
      aggregate(
        col("_starts"),
        struct(lit(-1).as("e"), lit(0).as("c"), lit(0).as("s")),
        (acc, s0) => {
          val e = acc.getField("e"); val c = acc.getField("c"); val sp = acc.getField("s")
          val isNew = s0 >= e
          struct(
            (s0 + lit(k)).as("e"),
            when(isNew, c + lit(k)).otherwise(c + (s0 + lit(k) - e)).as("c"),
            when(isNew, sp + lit(1)).otherwise(sp).as("s"))
        }).as("_f"))
      .select(col(id), col("_f.c").as("_removed"), col("_f.s").as("_spans"))
    corpus.select(col(id), size(TextHash.tokenHashes(col(text))).as("n_tok"))
      .join(folded, Seq(id), "left")
      .select(col(id), col("n_tok"),
        coalesce(col("_spans"), lit(0)).as("n_spans"),
        coalesce(col("_removed"), lit(0)).as("n_removed"),
        (col("n_tok") - coalesce(col("_removed"), lit(0))).as("n_kept"))
  }

  /** MinHash signatures (numHashes affine permutations over the shingle
    * set). Output: (id, sig array<long>). */
  def minhashSignatures(
      df: DataFrame,
      k: Int = 3,
      numHashes: Int = 16,
      id: String = "doc_id",
      text: String = "text"
  ): DataFrame =
    shingles(df, k, id, text).select(col(id), TextHash.minhash(col("shingles"), numHashes).as("sig"))

  /** Hot-bucket valve for the banded joins: a (band, bucket) shared by f
    * rows contributes f² candidate rows INSIDE ONE shuffle partition, so a
    * single degenerate bucket (boilerplate text, biased fingerprint bits,
    * an LSH region of embedding space) detonates the self-join at corpus
    * scale — the same failure mode as an uncapped hot shingle, and like
    * [[DefaultMaxDf]] the cap must be opt-OUT. 10⁵ bounds any bucket's
    * contribution at 10¹⁰ narrow rows cluster-wide while binding on no
    * sane bucketing (a bucket that large means the band is mis-sized — see
    * the per-operator sizing laws). Pairs inside a dropped bucket are
    * missed unless another band catches them (documented recall loss;
    * [[bandedCandidates]]'s callers expose the knob). */
  val DefaultMaxBucket: Int = 100000

  /** Shared banded-LSH candidate generator: explode each row's per-band
    * bucket array, drop (band, bucket)s hotter than `maxBucket`
    * ([[DefaultMaxBucket]]), equality-self-join on the survivors, keep
    * NARROW ordered (id_a, id_b) pairs (the distinct dedups 2 ids, not wide
    * payloads — the wide variant measured 10× slower). Every banded dedup
    * family (MinHash bands, SimHash pigeonhole bands, hyperplane-LSH bands)
    * funnels through here so sizing/skew fixes land once. */
  private def bandedCandidates(
      df: DataFrame, idCol: Column, bandBuckets: Column,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val banded0 = df.select(idCol.as("_id"), posexplode(bandBuckets).as(Seq("_band", "_bb")))
    val (bandedA, bandedB) =
      if (maxBucket == Int.MaxValue) (banded0, banded0)
      else {
        // window count on the SAME (band, bucket) clustering the self-join
        // shuffles on — one exchange, no second evaluation of the (possibly
        // expensive) bucket lineage for a separate aggregate+join
        val counted = banded0.withColumn("_sz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("_band"), col("_bb"))))
        // the valve observation sits on the ONE shared frame BOTH join
        // sides derive from: identical subtrees keep the two exchange
        // children canonically equal, so Spark plans a ReusedExchange and
        // the banded lineage (posexplode + window count) is evaluated ONCE.
        // (A one-sided observation broke that equality and doubled the
        // whole lineage — ADVICE r3. Duplicate CollectMetrics names are
        // legal precisely because the subtrees are identical.) If exchange
        // reuse is disabled (non-default conf) the lineage evaluates twice
        // — a perf regression only: each metrics node still counts every
        // dropped row exactly once over the full input, and the CapAudit
        // listener dedups the identically-named rows, so the reported drop
        // count stays correct either way.
        val kept = CapAudit
          .observeDrops(counted, when(col("_sz") > maxBucket, 1L).otherwise(0L),
            "banded_bucket_valve", "Dedup-band bucket sizes (raise maxBucket or re-band)")
          .where(col("_sz") <= maxBucket).drop("_sz")
        (kept, kept)
      }
    bandedA.select(col("_id").as("id_a"), col("_band"), col("_bb"))
      .join(bandedB.select(col("_id").as("id_b"), col("_band"), col("_bb")), Seq("_band", "_bb"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** MinHash-LSH candidate pairs: split the signature into `bands` bands of
    * numHashes/bands rows; docs sharing any band bucket become candidates;
    * similarity estimate = fraction of matching signature positions.
    * At cluster scale the band explode keys the ONE shuffle; no cross join
    * ever materializes. */
  /** Eager-consume helper for the banded operators' signature caches: the
    * signature frame appears three times in the pair plan (band explode +
    * both re-rank joins), so it is persisted — but a lazily returned frame
    * would pin that cache for its whole lifetime (a 10⁹-row signature table
    * must not sit in executor storage after the pairs are computed). With
    * `eager = true` (default) the SMALL pair result is persisted
    * (MEMORY_AND_DISK) and materialized with a Dataset action — which also
    * fires the [[CapAudit]] observed metrics — and the signature cache is
    * released before returning: the only persisted blocks that survive are
    * the pair result itself (asserted in DedupCacheSpec; callers may
    * `unpersist()` the returned frame sooner). Repeated eager calls do NOT
    * accumulate in the cache manager: each call unpersists the previous
    * eager result (ADVICE r3 — min-of-N bench reps were pinning one cached
    * pair frame per rep), so at most ONE eager pair result is ever resident
    * and a frame returned by an earlier call lazily recomputes if re-read.
    * `eager = false` returns the fully lazy plan with NO persists at all —
    * the signature lineage recomputes per reference (3×), the audit mode
    * Explain uses. */
  private val lastEagerResult =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
  private def consumeEagerly(out: DataFrame, cached: DataFrame, eager: Boolean): DataFrame =
    if (eager) {
      val mat = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      mat.count()
      cached.unpersist(false)
      val prev = lastEagerResult.getAndSet(mat)
      if (prev != null && (prev.sparkSession eq mat.sparkSession)) prev.unpersist(false)
      mat
    } else out

  /** Persist `df` only on the eager path (the lazy path has no handle for
    * callers to evict — ADVICE r3 — so it must not pin anything). */
  private def persistIfEager(df: DataFrame, eager: Boolean): DataFrame =
    if (eager) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else df

  def minhashLshPairs(
      df: DataFrame,
      k: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      estThreshold: Double = 0.5,
      id: String = "doc_id",
      text: String = "text",
      maxBucket: Int = DefaultMaxBucket,
      eager: Boolean = true
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sigs = persistIfEager(minhashSignatures(df, k, numHashes, id, text), eager)
    val bandBuckets = transform(sequence(lit(0), lit(bands - 1)), b => slice(col("sig"), b * r + 1, lit(r)))
    val out = bandedCandidates(sigs, col(id), bandBuckets, maxBucket)
      .join(sigs.select(col(id).as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col(id).as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn(
        "est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / numHashes
      )
      .where(col("est_jaccard") >= estThreshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
    consumeEagerly(out, sigs, eager)
  }

  /** 62-bit SimHash fingerprint: token t contributes ±1 to each bit b
    * according to bit b of its 62-bit hash (two independent 31-bit affine
    * poly hashes); fingerprint bit = majority sign. Duplicate tokens weight
    * naturally by frequency. Output: (id, simhash long). */
  def simhash(df: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    // codegen'd kernel: one pass per doc over its token hashes — replaces
    // the explode(tokens) × posexplode(62 votes) + two shuffled groupBys
    // formulation (62× row blowup; 5.6 s → sub-second at sf0.1). Docs with
    // zero tokens are dropped, matching the explode formulation (and the
    // unnest-based oracle).
    val th = TextHash.tokenHashes(col(text))
    df.select(
        col(id),
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.SimHashExpr(
            org.apache.spark.sql.GraftSqlBridge.expression(th), TextHash.simhashBits)
        ).as("simhash"),
        size(th).as("_n"))
      .where(col("_n") > 0)
      .drop("_n")
  }

  /** SimHash near-duplicate pairs: docs whose 62-bit fingerprints differ in
    * at most `maxHamming` bits. Candidate generation is the PIGEONHOLE band
    * trick — split the fingerprint into `maxHamming + 1` bit-bands; any pair
    * within the hamming budget matches at least one band EXACTLY — so the
    * join is a narrow equality join on (band, bits), and recall is 1.0
    * (unlike probabilistic LSH) AS LONG AS the hot-bucket valve does not
    * bind: buckets above `maxBucket` are dropped, losing their pairs unless
    * another band catches them. Pass `maxBucket = Int.MaxValue` for the
    * strict pigeonhole guarantee — but a >10⁵-row bucket at h ≤ 3 means the
    * corpus needs an exact/minhash dedup pass first, not a bigger join.
    * Exact `bit_count(xor)` re-rank on the candidates.
    *
    * BUDGET ECONOMICS: on a homogeneous corpus every simhash bit is biased
    * the same way, so band entropy comes from band WIDTH — 62/(h+1) bits.
    * Measured on driver docs (5k): candidates = 4.7% of all pairs at h=2,
    * 22% at h=3, ~100% at h=6. Keep the budget small (the Manku-et-al
    * regime, h ≤ 3) or the equality join degenerates toward all-pairs.
    * Output: (id_a, id_b, hamming), id_a < id_b. */
  /** Bit offsets/widths distributing `totalBits` over `bands` NON-EMPTY
    * bands (first `totalBits % bands` bands get the extra bit) — a uniform
    * ceil width would give trailing bands zero bits past ~bands/2, which
    * collapses every row into one bucket and degenerates the candidate join
    * to all-pairs. */
  private[graft] def bandLayout(totalBits: Int, bands: Int): Seq[(Int, Int)] = {
    require(bands >= 1 && bands <= totalBits, s"need 1..$totalBits bands, got $bands")
    val base = totalBits / bands
    val extra = totalBits % bands
    val widths = Seq.tabulate(bands)(b => if (b < extra) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  def simhashHammingPairs(
      df: DataFrame,
      maxHamming: Int = 3,
      id: String = "doc_id",
      text: String = "text",
      maxBucket: Int = DefaultMaxBucket,
      eager: Boolean = true
  ): DataFrame = {
    require(maxHamming >= 0, "maxHamming must be non-negative")
    val bands = maxHamming + 1
    val sh = simhash(df, id, text)
    val bandBuckets = array(bandLayout(TextHash.simhashBits, bands).map { case (off, bits) =>
      shiftright(col("simhash"), off).bitwiseAND((1L << bits) - 1)
    }: _*)
    // Round-6 shape: the 8-byte fingerprint rides THROUGH the band
    // self-join and the exact `bit_count(xor) <= h` re-rank runs INLINE on
    // the join output — the Θ(Σ bucket²) candidate rows are filtered in
    // the join stage and never cross an exchange; only the (tiny) set of
    // true ≤h pairs reaches the distinct. The old shape distinct'ed ALL
    // candidates (one full pair shuffle) and re-joined the signature frame
    // twice to fetch fingerprints (which also forced persisting it).
    // hamming is a function of the pair, so distinct-on-(pair, hamming)
    // after the filter equals the old distinct-pairs-then-filter set.
    val banded0 = sh.select(
      col(id).as("_id"), col("simhash").as("_sh"),
      posexplode(bandBuckets).as(Seq("_band", "_bb")))
    val kept =
      if (maxBucket == Int.MaxValue) banded0
      else {
        // same valve as bandedCandidates: window count on the join's own
        // (band, bucket) clustering, observation on the ONE shared frame
        // both join sides derive from (ReusedExchange keeps the lineage
        // single-evaluated)
        val counted = banded0.withColumn("_sz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("_band"), col("_bb"))))
        CapAudit
          .observeDrops(counted, when(col("_sz") > maxBucket, 1L).otherwise(0L),
            "banded_bucket_valve", "Dedup-band bucket sizes (raise maxBucket or re-band)")
          .where(col("_sz") <= maxBucket).drop("_sz")
      }
    val out = kept.select(col("_id").as("id_a"), col("_sh").as("_sa"), col("_band"), col("_bb"))
      .join(kept.select(col("_id").as("id_b"), col("_sh").as("_sb"), col("_band"), col("_bb")),
        Seq("_band", "_bb"))
      .where(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("_sa").bitwiseXOR(col("_sb"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
    consumeEagerly(out, sh, eager)
  }

  /** (id, label) table → the (id, cluster_id, keep) output contract, shared
    * by both dupClusters paths so they cannot diverge. */
  private def clusterOutput(all: DataFrame, id: String, labels: DataFrame): DataFrame =
    all.select(col(id))
      .join(labels, Seq(id), "left")
      .select(
        col(id),
        coalesce(col("label"), col(id)).as("cluster_id"),
        (coalesce(col("label"), col(id)) === col(id)).as("keep"))

  /** Duplicate-cluster resolution: connected components over candidate dup
    * pairs, labels = the component's minimum id, `keep` = the canonical
    * representative. `all` supplies the id universe so singletons keep
    * themselves; null-id pairs are ignored (they cannot cluster). Output:
    * (id, cluster_id, keep).
    *
    * Two physical paths with the IDENTICAL fixpoint (DupClustersSpec
    * asserts equality):
    *   - LONG ids and pair sets ≤ `localLimit` (pairs is cached so the
    *     size probe and the collect run its pipeline once): driver-side
    *     union-find then one broadcast-join of the label table — near-dup
    *     candidate sets are tiny relative to the corpus, and the iterative
    *     path's per-round job overhead would dominate (9 s → ~1.7 s at
    *     sf0.1);
    *   - larger sets or non-long ids: distributed min-label propagation
    *     (one narrow shuffle per round, O(component diameter) rounds;
    *     `maxIters` is a stall guard, convergence is REQUIRED so the result
    *     is the true fixpoint the oracle's transitive closure computes).
    *     The returned frame's lineage holds the final label cache
    *     (evictable). */
  def dupClusters(
      pairs: DataFrame,
      all: DataFrame,
      id: String = "doc_id",
      maxIters: Int = 50,
      localLimit: Int = 1 << 20
  ): DataFrame = {
    import org.apache.spark.sql.types.LongType
    // cached lazily: the small path needs exactly ONE action (the probe
    // collect below), so caching there would be pure write overhead; the
    // distributed path materializes the cache via its first iteration
    val p2 = pairs.select(col("id_a"), col("id_b"))
      .where(col("id_a").isNotNull && col("id_b").isNotNull)
    val longIds = Seq("id_a", "id_b").forall(c => p2.schema(c).dataType == LongType)
    // probe and fetch in ONE action (round 6 — the separate limit+count
    // probe was a full extra job per call): collect at most localLimit+1
    // narrow (long, long) rows; overflow (length > localLimit) discards
    // them and falls to the distributed path. Transient driver footprint
    // is bounded by the same localLimit that already sized the local path.
    val probeLimit = if (localLimit >= Int.MaxValue) Int.MaxValue else localLimit + 1
    val probed = if (longIds) p2.limit(probeLimit).collect() else Array.empty[org.apache.spark.sql.Row]
    val small = longIds && probed.length <= localLimit
    if (small) {
      // union-find with path halving; component label = min member id
      val rows = probed
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) {
          val p = parent(r); parent(r) = parent.getOrElse(p, p); r = parent(r)
        }
        r
      }
      rows.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = rows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
        .map(n => (n, find(n)))
      val spark = all.sparkSession
      import spark.implicits._
      clusterOutput(all, id, broadcast(labels.toSeq.toDF(id, "label")))
    } else {
      val p2c = p2.cache()
      val und = p2c.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(p2c.select(col("id_b").as("src"), col("id_a").as("dst")))
        .cache()
      var labels = und.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")).cache()
      var converged = false
      var it = 0
      while (!converged && it < maxIters) {
        val prop = und.join(labels, und("src") === labels("node"))
          .select(col("dst").as("node"), col("label"))
        val next = labels.select(col("node"), col("label")).unionByName(prop)
          .groupBy(col("node")).agg(min(col("label")).as("label"))
          .cache()
        // count() (not isEmpty) so `next` materializes FULLY into its cache
        // before the parent's cache is dropped — a short-circuiting probe
        // can leave partitions uncached whose lineage then re-reads an
        // unpersisted parent (the classic iterative-caching hazard)
        val changed = next.join(labels.withColumnRenamed("label", "_old"), Seq("node"))
          .where(col("label") =!= col("_old")).count()
        converged = changed == 0
        labels.unpersist()
        labels = next
        it += 1
      }
      require(converged, s"dupClusters did not converge in $maxIters rounds")
      und.unpersist()
      p2c.unpersist()
      clusterOutput(all, id, labels.withColumnRenamed("node", id))
    }
  }

  /** Quality-aware cluster representative selection: [[dupClusters]]' keep
    * rule is "min id" (cheap, arbitrary); real pipelines keep the BEST
    * member of each duplicate cluster — longest, cleanest, highest
    * quality-score. Given the cluster table (id, cluster_id, …) and a
    * per-id score table, re-elect each cluster's representative by
    * (`scoreCol` desc, id asc — the tie-break keeps elections
    * deterministic).
    *
    * One equi-join on id + one window over cluster_id. Cluster groups are
    * duplicate sets — bounded by the dedup semantics itself (a cluster the
    * size of the corpus means everything is a duplicate), so the window
    * partitions stay small; the dominant singleton clusters collapse in
    * the partial agg of the window exchange.
    *
    * Output: (id, cluster_id, score, keep_best). Ids missing from `scores`
    * rank LAST (null score sorts after any value in the desc order, id
    * tie-break applies), so a fully unscored cluster still elects exactly
    * one representative. */
  def keepBest(
      clusters: DataFrame,
      scores: DataFrame,
      id: String = "doc_id",
      scoreCol: String = "score"
  ): DataFrame = {
    val joined = clusters.select(col(id), col("cluster_id"))
      .join(scores.select(col(id), col(scoreCol).as("_score")), Seq(id), "left")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("_score").desc_nulls_last, col(id).asc)
    joined
      .withColumn("keep_best", row_number().over(w) === 1)
      .select(col(id), col("cluster_id"), col("_score").as("score"), col("keep_best"))
  }

  /** Embedding cosine near-duplicate pairs above a threshold.
    *
    * Default path (`exact = false`): banded random-hyperplane LSH — one
    * portable codegen'd bucket per vector ([[graft.ann.Similarity.lshBucket]],
    * `bands × rowsPerBand` planes), candidates only from same-band-bucket
    * collisions (narrow (id,id) pairs, like [[minhashLshPairs]]), exact
    * cosine re-rank on the candidates. NO cross join ever materializes.
    * Recall < 1 by construction (pairs whose buckets never collide in any
    * band are missed); raise `bands` for recall, `rowsPerBand` for precision.
    *
    * SIZING LAW: a band has 2^rowsPerBand sub-buckets, and the candidate
    * join emits Θ(Σ bucket²) rows per band — so rowsPerBand MUST grow with
    * the corpus (2^rowsPerBand ≳ n / tolerable-bucket-size) or the join
    * degenerates toward all-pairs. The default 8 × 7 (a 56-plane signature —
    * the 62-bit bucket packing bounds bands × rowsPerBand ≤ 62 — with 128
    * sub-buckets per band) targets real near-dup thresholds (cosine ≥ 0.9 ⇒
    * per-plane collision 0.856 ⇒ ~96% recall over 8 bands); small/test
    * corpora probing LOW thresholds want wider buckets (e.g. rowsPerBand 2,
    * as the driver query pins explicitly).
    *
    * `exact = true` keeps the all-pairs brute force (O(n²·d) — test scale /
    * small inputs only; 3× faster than banding at 5k vectors, impossible at
    * 10⁹). Norms are computed ONCE per vector on both paths (one dot per
    * pair instead of three; identical IEEE value). */
  def embeddingNearDupPairs(
      emb: DataFrame,
      threshold: Double,
      id: String = "vec_id",
      vec: String = "embedding",
      exact: Boolean = false,
      bands: Int = 8,
      rowsPerBand: Int = 7,
      maxBucket: Int = DefaultMaxBucket
  ): DataFrame = {
    val a = emb.select(col(id).as("id_a"), col(vec).as("va"),
      graft.ann.Similarity.norm(col(vec)).as("_na"))
    val b = emb.select(col(id).as("id_b"), col(vec).as("vb"),
      graft.ann.Similarity.norm(col(vec)).as("_nb"))
    val paired =
      if (exact) a.crossJoin(b).where(col("id_a") < col("id_b"))
      else {
        val planes = bands * rowsPerBand
        val mask = (1L << rowsPerBand) - 1
        val bucket = graft.ann.Similarity.lshBucket(col(vec), planes)
        // band b's sub-bucket = bits [b·r, (b+1)·r) of the single bucket
        val bandBuckets = array((0 until bands).map(bd =>
          shiftright(bucket, bd * rowsPerBand).bitwiseAND(mask)): _*)
        bandedCandidates(emb, col(id), bandBuckets, maxBucket)
          .join(a, Seq("id_a"))
          .join(b, Seq("id_b"))
      }
    paired
      .withColumn("cosine", graft.ann.Similarity.dot(col("va"), col("vb")) / (col("_na") * col("_nb")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
