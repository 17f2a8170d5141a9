package perfbench

import graft.core.TokenAdapter
import graft.pipeline.{FlagshipJob, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The `RunPipeline` shape driven from the benchmark: bucketed feature-vector
  * stage with manifest commits, read-back, source rollup, token round trip,
  * and a resume call that must redo nothing. Each pass uses a fresh out-root. */
object Pipelines {

  val Buckets = 16

  final case class Outcome(
      stage1: Seq[Pipeline.UnitCommit], stage2: Seq[Pipeline.UnitCommit], vectors: Totals,
      rollupTokens: Long, mismatches: Long, resumed: Int, bytesWritten: Long,
      stepS: Map[String, Double])

  private def step[A](t: Option[Traced], name: String, steps: collection.mutable.Map[String, Double])(body: => A): A = {
    val t0 = System.nanoTime()
    val r = t.fold(body)(_.tracer.span(name)(body))
    steps(name) = (System.nanoTime() - t0) / 1e9
    r
  }

  def pass(spark: SparkSession, corpus: DataFrame, root: Path, t: Option[Traced]): Outcome = {
    val steps = collection.mutable.Map.empty[String, Double]
    val runner = Pipeline.local(root.toString)
    val stage1 = step(t, "pipeline.stage1", steps) {
      runner.runStage("feature_vectors", corpus, "doc_id", Buckets)(FlagshipJob.groupedConsumeAll)
    }
    val (vectorsDf, vectors) = step(t, "pipeline.read_stage", steps) {
      val v = runner.readStage(spark, "feature_vectors")
      (v, Totals.fromRow(v.agg(Totals.exprs.head, Totals.exprs.tail: _*).first()))
    }
    val stage2 = step(t, "pipeline.stage2", steps) {
      val bySource = corpus.select(col("doc_id"), col("source")).join(vectorsDf, Seq("doc_id"))
      runner.runStage("source_rollup", bySource, "source", math.min(Buckets, 4)) { in =>
        in.groupBy(col("source")).agg(
          count(lit(1)).as("docs"), sum(col("n")).as("tokens"),
          sum(col("n_sessions")).as("sessions"), sum(col("sum_Distance")).as("total_distance"))
      }
    }
    val rollupTokens = runner.readStage(spark, "source_rollup").agg(sum(col("tokens"))).first().getLong(0)
    val mismatches = step(t, "pipeline.roundtrip", steps) {
      TokenAdapter.tokensMatch(corpus, TokenAdapter.reassemble(TokenAdapter.explodeTokens(corpus)._1))
    }
    val resumed = step(t, "pipeline.resume", steps) {
      runner.runStage("feature_vectors", corpus, "doc_id", Buckets)(FlagshipJob.groupedConsumeAll)
    }
    Outcome(stage1, stage2, vectors, rollupTokens, mismatches, resumed.size, parquetBytes(root), steps.toMap)
  }

  private def parquetBytes(root: Path): Long = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(p => p.toString.endsWith(".parquet")).map(Files.size(_)).sum
    finally s.close()
  }

  private def delete(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def check(o: Outcome, c: Corpus): Seq[String] =
    o.vectors.diff(c.expected, "pipeline stage 1") ++
      Seq(
        (o.stage1.size != Buckets) -> s"stage 1 committed ${o.stage1.size} of $Buckets buckets",
        (o.stage1.map(_.rows).sum != c.docs) -> s"stage 1 committed ${o.stage1.map(_.rows).sum} rows, expected ${c.docs}",
        (o.rollupTokens != c.tokens) -> s"rollup counts ${o.rollupTokens} tokens, expected ${c.tokens}",
        (o.mismatches != 0) -> s"token round trip: ${o.mismatches} mismatched docs",
        (o.resumed != 0) -> s"resume redid ${o.resumed} buckets"
      ).collect { case (true, msg) => msg }

  def run(spark: SparkSession, a: Args, rec: Record): Seq[(String, String)] = {
    val c = Flagship.prepare(spark, a)
    val corpus = spark.read.parquet(c.path).cache()
    var n = 0
    def nextRoot(): Path = { n += 1; a.work.resolve(s"pipeline_$n") }
    if (a.trace) { // untraced runs time the first pass, which a one-shot job pays
      val warm = nextRoot()
      check(pass(spark, corpus, warm, None), c).foreach(m => throw new IllegalStateException(m))
      delete(warm)
    }
    Main.timedPhase(spark, a, rec, minPasses = 1) { t =>
      val root = nextRoot()
      val from = t.map { tr => tr.listeners.drain(); tr.listeners.exec.mark }
      rec.attempt("pipeline")(pass(spark, corpus, root, t))(check(_, c)).foreach { case (o, s) =>
        rec.passS += s
        val commits = (o.stage1 ++ o.stage2).map(_.wallMs / 1e3)
        rec.opS ++= commits
        t.foreach { tr =>
          tr.listeners.drain()
          val bucketS = o.stage1.map(_.wallMs / 1e3)
          rec.layers += tr.listeners.exec.window(from.get) ++ Map(
            "core.input_bytes" -> Main.diskBytes(java.nio.file.Paths.get(c.path)),
            "pipeline.stage1_s" -> o.stepS("pipeline.stage1"),
            "pipeline.first_bucket_s" -> bucketS.head,
            "pipeline.bucket_p50_s" -> Stats.median(bucketS),
            "pipeline.stage2_s" -> o.stepS("pipeline.stage2"),
            "pipeline.read_stage_s" -> o.stepS("pipeline.read_stage"),
            "pipeline.roundtrip_s" -> o.stepS("pipeline.roundtrip"),
            "pipeline.bytes_written" -> o.bytesWritten.toDouble,
            "pipeline.resume_s" -> o.stepS("pipeline.resume"),
            "pipeline.resume_buckets" -> o.resumed.toDouble)
        }
      }
      delete(root)
    }
    Seq("corpus_seed" -> c.seed.toString, "docs" -> c.docs.toString, "tokens" -> c.tokens.toString,
      "buckets" -> Buckets.toString,
      "work_per_pass" -> c.tokens.toString)
  }
}
