package perfbench

import graft.core.{SyntheticCorpus, TokenAdapter}
import graft.features.{Kinematic, TokenKernel}
import graft.pipeline.FlagshipJob
import graft.session.Sessionize
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The seeded token corpus shared by the flagship and pipeline workloads, and
  * the totals every consume-all output over it must reproduce. */
final case class Corpus(path: String, seed: Long, docs: Long, tokens: Long, expected: Totals)

/** Column totals of a consume-all output: doc count, Σn, Σn_sessions, and per
  * feature the sum and the sum of absolute per-doc values (which scales the
  * float tolerance). */
final case class Totals(docs: Long, n: Long, nSessions: Long, sums: Map[String, (Double, Double)]) {

  /** Differences from `expected`: counts must match exactly; each feature sum
    * within FlagshipParitySpec's per-doc tolerance (1e-12 relative + 1e-9
    * absolute) summed over docs, widened by the rounding of adding `docs`
    * values in a different order. */
  def diff(expected: Totals, what: String): Seq[String] = {
    val counts = Seq(("docs", docs, expected.docs), ("n", n, expected.n),
      ("n_sessions", nSessions, expected.nSessions))
      .collect { case (k, got, want) if got != want => s"$what: $k = $got, expected $want" }
    val floats = Kinematic.AllFeatures.flatMap { f =>
      val (got, _) = sums(f)
      val (want, abs) = expected.sums(f)
      val tol = abs * (1e-12 + expected.docs * 2.3e-16) + 1e-9 * expected.docs
      if (math.abs(got - want) <= tol) None
      else Some(f"$what: sum_$f = $got%.17g, expected $want%.17g (tol $tol%.3g)")
    }
    counts ++ floats
  }

  def toJson: String = {
    val fs = Kinematic.AllFeatures.map { f =>
      val (v, a) = sums(f)
      s""""$f": [${java.lang.Double.toString(v)}, ${java.lang.Double.toString(a)}]"""
    }
    s"""{"docs": $docs, "n": $n, "n_sessions": $nSessions, "sums": {${fs.mkString(", ")}}}"""
  }
}

object Totals {
  def fromJson(j: com.fasterxml.jackson.databind.JsonNode): Totals =
    Totals(j.get("docs").asLong, j.get("n").asLong, j.get("n_sessions").asLong,
      Kinematic.AllFeatures.map { f =>
        val p = j.get("sums").get(f)
        f -> (p.get(0).asDouble, p.get(1).asDouble)
      }.toMap)

  /** Aggregates over a consume-all frame `(doc_id, n, n_sessions, sum_<f>…)`. */
  def exprs: Seq[Column] =
    Seq(count(lit(1)).as("docs"), sum(col("n")).as("n"), sum(col("n_sessions")).as("n_sessions")) ++
      Kinematic.AllFeatures.flatMap(f =>
        Seq(sum(col(s"sum_$f")).as(s"s_$f"), sum(abs(col(s"sum_$f"))).as(s"a_$f")))

  def fromRow(r: Row): Totals = of(k => r.getAs[Any](k))

  def fromObservation(o: Observation): Totals = { val m = o.get; of(k => m.getOrElse(k, null)) }

  private def of(get: String => Any): Totals = {
    def d(k: String) = Option(get(k)).map(_.toString.toDouble).getOrElse(0.0)
    def l(k: String) = Option(get(k)).map(_.toString.toLong).getOrElse(0L)
    Totals(l("docs"), l("n"), l("n_sessions"),
      Kinematic.AllFeatures.map(f => f -> (d(s"s_$f"), d(s"a_$f"))).toMap)
  }
}

object Flagship {

  /** 10 k docs ≈ 1.1 M tokens: a pass of either flagship path takes well
    * under the measuring window on 4 cores, so every run times many passes. */
  val Docs = 10000L
  /** Corpus seeds with recorded expected totals; a run's corpus seed is its
    * `--seed` modulo this. */
  val CorpusSeeds = 64
  /** TokenKernel.docVectors' default session gap, which the reference uses too. */
  private val GapSeconds = 1.5

  def corpusSeed(seed: Long): Long = Math.floorMod(seed, CorpusSeeds.toLong)

  private def write(spark: SparkSession, a: Args, seed: Long): (String, Long) = {
    val path = a.work.resolve(s"corpus_seed${seed}_docs$Docs").toString
    SyntheticCorpus.generate(spark, Docs, seed = seed).write.mode("overwrite").parquet(path)
    (path, spark.read.parquet(path).agg(sum(col("n_tok"))).first().getLong(0))
  }

  /** Writes the seeded corpus to parquet, keyed by corpus seed and doc count,
    * with the totals recorded for it. */
  def prepare(spark: SparkSession, a: Args): Corpus = {
    val seed = corpusSeed(a.seed)
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(a.totals.toFile)
    require(tree.get("docs").asLong == Docs, s"${a.totals} was recorded for another doc count")
    val expected = Totals.fromJson(tree.get("seeds").get(seed.toString))
    val (path, tokens) = write(spark, a, seed)
    require(expected.n == tokens, s"recorded totals count ${expected.n} tokens, corpus seed $seed has $tokens")
    Corpus(path, seed, Docs, tokens, expected)
  }

  /** Expected totals from the window formulation: explode → fused kinematic
    * window chain → gap sessionize → per-doc aggregate, i.e. the body of
    * `FlagshipJob.windowReferenceConsumeAll` without its pre-shuffle, built
    * from operators the oracle checks and independent of the per-doc kernel
    * under test. */
  def reference(corpus: DataFrame): Totals = {
    val (grid, ts) = TokenAdapter.explodeTokens(corpus)
    val perDoc = Sessionize.byGap(Kinematic.withKinematics(grid, ts), ts, GapSeconds)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), max(col("session_id")).as("n_sessions") +:
        Kinematic.AllFeatures.map(f => sum(col(f)).as(s"sum_$f")): _*)
    Totals.fromRow(perDoc.agg(Totals.exprs.head, Totals.exprs.tail: _*).first())
  }

  /** Records the reference totals of every corpus seed. */
  def record(spark: SparkSession, a: Args): Unit = {
    val seeds = (0 until CorpusSeeds).map { s =>
      val (path, _) = write(spark, a, s.toLong)
      s"""    "$s": ${reference(spark.read.parquet(path)).toJson}"""
    }
    Files.writeString(a.totals,
      s"""{\n  "docs": $Docs,\n  "seeds": {\n${seeds.mkString(",\n")}\n  }\n}\n""")
  }

  private def consumeAll(spark: SparkSession, c: Corpus, regroup: Boolean): DataFrame = {
    val read = spark.read.parquet(c.path)
    if (regroup) FlagshipJob.regroupConsumeAll(read) else TokenKernel.docVectors(read).toDF()
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** One consume-all pass to the noop sink; returns the observed totals. */
  def pass(spark: SparkSession, c: Corpus, regroup: Boolean): Totals = {
    val obs = Observation()
    noop(consumeAll(spark, c, regroup).observe(obs, Totals.exprs.head, Totals.exprs.tail: _*))
    Totals.fromObservation(obs)
  }

  def run(spark: SparkSession, a: Args, rec: Record, regroup: Boolean): Seq[(String, String)] = {
    val c = prepare(spark, a)
    val what = if (regroup) "regroup" else "grouped"
    (1 to 4).foreach(_ => pass(spark, c, regroup)) // warm-up
    Main.timedPhase(spark, a, rec, minPasses = 3) {
      case None =>
        rec.attempt(what)(pass(spark, c, regroup))(_.diff(c.expected, what)).foreach { case (_, s) =>
          rec.passS += s; rec.opS += s
        }
      case Some(t) => tracedPass(spark, c, regroup, rec, t)
    }
    Seq("corpus_seed" -> c.seed.toString, "docs" -> c.docs.toString, "tokens" -> c.tokens.toString,
      "work_per_pass" -> c.tokens.toString)
  }

  /** Prefix passes (scan; explode for regroup), then the full pass under the
    * listeners; layer metrics are read from the full pass's window. */
  private def tracedPass(spark: SparkSession, c: Corpus, regroup: Boolean, rec: Record, t: Traced): Unit = {
    val what = if (regroup) "regroup" else "grouped"
    val scan = timed(t.tracer.span("core.scan")(noop(spark.read.parquet(c.path).select("doc_id", "tokens"))))
    val adapt =
      if (regroup) timed(t.tracer.span("core.adapt")(noop(TokenAdapter.explodeTokens(spark.read.parquet(c.path))._1)))
      else 0.0
    t.listeners.drain()
    val from = t.listeners.exec.mark
    rec.attempt(what)(t.tracer.span("flagship.pass")(pass(spark, c, regroup)))(_.diff(c.expected, what))
      .foreach { case (_, s) =>
        t.listeners.drain()
        val ex = t.listeners.exec.window(from)
        rec.passS += s; rec.opS += s
        rec.layers += ex ++ Map(
          "core.input_bytes" -> Main.diskBytes(java.nio.file.Paths.get(c.path)),
          "core.scan_s" -> scan,
          "core.adapt_s" -> (if (regroup) adapt - scan else 0.0),
          "features.kernel_s" -> (if (regroup) ex("exchange.reduce_stage_s") else s - scan),
          "features.tokens_per_task_s" -> c.tokens / math.max(ex("exec.task_s"), 1e-9))
      }
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Loads the classes every workload uses, on tiny inputs, for the
    * class-data-sharing archive. */
  def classWarmup(spark: SparkSession, a: Args): Unit = {
    val path = a.work.resolve("cds_corpus").toString
    SyntheticCorpus.generate(spark, 200).write.mode("overwrite").parquet(path)
    val c = Corpus(path, 0L, 200, 0L, Totals(0, 0, 0, Map.empty))
    pass(spark, c, regroup = false)
    pass(spark, c, regroup = true)
    Pipelines.pass(spark, spark.read.parquet(path).cache(), a.work.resolve("cds_pipeline"), None)
    Suite.Queries.foreach(q => Suite.runQuery(spark, a.data.toString, q, graft.SparkEntry.queries(q), None))
  }
}
