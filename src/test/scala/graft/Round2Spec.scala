package graft

import graft.ann.{Similarity, SimilarityReference}
import graft.dedup.Dedup
import graft.filters.Filters
import org.apache.spark.sql.functions._

/** Round-2 hardening: LSH kernel/HOF parity, jaccard df-cap behavior,
  * F2 raise-on-empty fidelity, visited_poi inline ≡ join-path equivalence. */
class LshBucketParitySpec extends SparkSpec {

  test("LshBucketExpr == HOF formulation bit-for-bit on driver embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Seq(2, 6, 16).foreach { planes =>
      val bad = e.select(
        (Similarity.lshBucket(col("embedding"), planes) <=>
          SimilarityReference.lshBucketHof(col("embedding"), planes)).as("ok")
      ).where(!col("ok")).count()
      assert(bad == 0, s"$planes planes: $bad rows diverge between kernel and HOF buckets")
    }
  }

  test("NaN projections set the sign bit like SQL NaN-greatest ordering (kernel == HOF)") {
    import spark.implicits._
    // a NaN element poisons every plane sum to NaN; Spark SQL and DuckDB
    // order NaN above 0.0, so all plane bits must be 1 — in kernel AND HOF
    val v = Seq(
      (1L, Array(Float.NaN, 1.0f, -2.0f)),
      (2L, Array(0.5f, -0.25f, 2.0f))
    ).toDF("vec_id", "embedding")
    val got = v.select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), 6).as("k"),
        SimilarityReference.lshBucketHof(col("embedding"), 6).as("h"))
      .orderBy("vec_id").collect()
    assert(got(0).getLong(1) == 63L && got(0).getLong(2) == 63L, s"NaN row: ${got(0)}")
    assert(got(1).getLong(1) == got(1).getLong(2))
  }

  test("banded near-dup is a subset of brute force with full-pair precision") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val approx = Dedup.embeddingNearDupPairs(e, threshold = 0.2, bands = 8, rowsPerBand = 2)
    val brute = Dedup.embeddingNearDupPairs(e, threshold = 0.2, exact = true)
    // every banded pair is a true pair (exact re-rank ⇒ no false positives)
    assert(approx.exceptAll(brute).count() == 0)
    val recall = approx.count().toDouble / brute.count().toDouble
    assert(recall >= 0.8, s"banded recall $recall below 0.8 on driver embeddings")
  }
}

class SimhashPairsSpec extends SparkSpec {

  test("pigeonhole banding finds every pair within the hamming budget (recall 1.0)") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val banded = Dedup.simhashHammingPairs(docs, maxHamming = 8)
    // brute-force reference over all simhash pairs
    val sh = Dedup.simhash(docs)
    val a = sh.select(col("doc_id").as("id_a"), col("simhash").as("sa"))
    val b = sh.select(col("doc_id").as("id_b"), col("simhash").as("sb"))
    val brute = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .where(col("hamming") <= 8)
      .select(col("id_a"), col("id_b"), col("hamming"))
    assert(banded.exceptAll(brute).count() == 0 && brute.exceptAll(banded).count() == 0,
      "banded simhash pairs must equal brute force exactly (pigeonhole guarantee)")
    // identical docs → hamming 0
    val dup = Seq((1L, "same words here exactly"), (2L, "same words here exactly")).toDF("doc_id", "text")
    assert(Dedup.simhashHammingPairs(dup, maxHamming = 0).select("hamming").first().getInt(0) == 0)
  }

  test("the hot-bucket valve binds: a degenerate bucket is dropped at maxBucket") {
    import spark.implicits._
    // 5 identical docs put 5 rows in EVERY band bucket
    val clones = (1L to 5L).map(i => (i, "identical boilerplate text body")).toDF("doc_id", "text")
    assert(Dedup.simhashHammingPairs(clones, maxHamming = 3).count() == 10, "uncapped: all C(5,2) pairs")
    assert(Dedup.simhashHammingPairs(clones, maxHamming = 3, maxBucket = 4).count() == 0,
      "every bucket holds 5 > 4 rows and must be dropped")
  }
}

class DupClustersSpec extends SparkSpec {

  test("transitive pairs collapse to one cluster keyed by the min id; singletons keep themselves") {
    import spark.implicits._
    val pairs = Seq((2L, 7L), (7L, 9L), (11L, 12L)).toDF("id_a", "id_b")
    val all = (1L to 13L).toDF("doc_id")
    // both physical paths: driver union-find (default) and the distributed
    // min-label propagation (forced via localLimit = 0) — identical fixpoint
    Seq(1 << 20, 0).foreach { limit =>
      val out = Dedup.dupClusters(pairs, all, localLimit = limit).orderBy("doc_id")
        .as[(Long, Long, Boolean)].collect()
      val m = out.map(r => r._1 -> r._2).toMap
      assert(m(2L) == 2L && m(7L) == 2L && m(9L) == 2L, s"chain 2-7-9 must share cluster 2 (limit=$limit)")
      assert(m(11L) == 11L && m(12L) == 11L)
      assert(m(1L) == 1L && m(13L) == 13L, "singletons label themselves")
      assert(out.count(_._3) == 13 - 3, "one keeper per cluster")
    }
  }
}

class DecontamPiiSpec extends SparkSpec {

  test("decontamination flags benchmark-shingle overlap and only that") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "totally unrelated training text here"),
      (2L, "prefix words the quick brown fox suffix"), // shares 2 shingles
      (3L, "quick brown dog runs away now")
    ).toDF("doc_id", "text")
    val hits = Dedup.contaminatedDocs(corpus, bench, k = 3)
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(2L -> 2L), s"expected only doc 2 with 2 shingle hits, got $hits")
  }

  test("PII counts find emails, IPv4s, and long digit runs") {
    import spark.implicits._
    val t = Seq((1L, "mail me at a.b+c@test-host.org or 10.0.0.1 ref 123456789 end"),
      (2L, "nothing sensitive 1234567 short")).toDF("doc_id", "text")
    val got = graft.text.TextFeatures.withPiiCounts(t)
      .orderBy("doc_id").select("n_emails", "n_ipv4", "n_digit_runs")
      .as[(Int, Int, Int)].collect()
    assert(got(0) == ((1, 1, 1)), s"doc 1 counts wrong: ${got(0)}")
    assert(got(1) == ((0, 0, 0)), "7 digits is below the 8+ run threshold")
  }
}

class JaccardCapSpec extends SparkSpec {

  test("a hot shingle is dropped at maxDf and surfaces in the audit view") {
    import spark.implicits._
    // every doc shares the hot boilerplate trigram; only 1&2 share a rare one
    val docs = Seq(
      (1L, "alpha beta gamma rare one two"),
      (2L, "alpha beta gamma rare one thing"),
      (3L, "alpha beta gamma other words here"),
      (4L, "alpha beta gamma more filler text")
    ).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.01, maxDf = Int.MaxValue)
    val capped = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.01, maxDf = 3)
    // uncapped: all 6 pairs share 'alpha beta gamma'; capped: that shingle
    // has df=4 > 3 and is dropped, so only pairs sharing a rarer shingle stay
    assert(uncapped.count() == 6)
    val cappedPairs = capped.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cappedPairs == Set((1L, 2L)), s"unexpected capped pairs: $cappedPairs")
    val hot = Dedup.hotShingles(docs, k = 3, maxDf = 3).count()
    assert(hot == 1, s"expected exactly the boilerplate shingle above the cap, got $hot")
    // default cap is far above any df here — default run == exact run
    assert(Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.01).count() == 6)
  }
}

class NullKeyStatsSpec extends SparkSpec {

  test("a null entity key keeps its percentile stats (null-safe recombination)") {
    import graft.stats.Stats
    val withNull = fixture.unionByName(
      fixture.where(col("traj_id") === "3").withColumn("traj_id", lit(null).cast("string")))
    val wide = Stats.kinematicStatsWide(withNull, S)
    assert(wide.count() == 3)
    val nullRow = wide.where(col("traj_id").isNull).first()
    // the null-keyed group has 3 points → Distance has 2 values → a real median
    assert(!nullRow.isNullAt(nullRow.fieldIndex("50%_Distance")),
      "null-keyed entity lost its percentiles in the pivot∪moments join")
  }
}

class FilterRaiseSpec extends SparkSpec {

  test("F2 raises on an id that selects nothing (filters.py:75-83)") {
    assert(Filters.byTrajId(fixture, S, "1").count() == 5)
    val e = intercept[IllegalArgumentException] {
      Filters.byTrajId(fixture, S, "no-such-entity")
    }
    assert(e.getMessage.contains("no-such-entity"))
  }

  test("F2 lazy variant filters without the existence probe") {
    assert(Filters.byTrajIdLazy(fixture, S, "1").count() == 5)
    // absent id: empty frame, no raise, no eager job at construction
    assert(Filters.byTrajIdLazy(fixture, S, "no-such-entity").isEmpty)
  }
}

class VisitedPoiPathsSpec extends SparkSpec {

  test("kernel path agrees row-for-row with a semi∪anti join reference") {
    val t = SparkEntry.traj(spark, "/root/testdata/sf0.001")
    val sur = t.where(col("traj_id") === "3")
      .select(col("lat"), col("lon"), (col("lat") * 1000.0).as("dist_poi"))
    val inline = graft.features.Contextual.visitedPoi(t, SparkEntry.S, sur, "dist_poi", 5000.0)
    val ref = {
      val s = broadcast(sur.select(col("lat").as("_slat"), col("lon").as("_slon"), col("dist_poi").as("_sdist")))
      val pred = abs(graft.kernels.Geo.haversine(col("lat"), col("lon"), col("_slat"), col("_slon")) - col("_sdist")) <= 5000.0
      t.join(s, pred, "left_semi").withColumn("Nearby_POI", lit(true))
        .unionByName(t.join(s, pred, "left_anti").withColumn("Nearby_POI", lit(false)))
    }
    assert(inline.exceptAll(ref).count() == 0 && ref.exceptAll(inline).count() == 0)
    assert(inline.count() == t.count(), "indicator must preserve row count")
  }
}
