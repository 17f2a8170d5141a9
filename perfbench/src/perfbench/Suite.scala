package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import java.nio.file.Files

/** Operator-suite workload: a fixed stratified subset of `SparkEntry.queries`
  * over the committed sf0.001 tables, one query at a time, each `fn(spark,
  * dir)` followed by a noop write whose row count and order-insensitive
  * digest are observed on the timed write itself. */
object Suite {

  /** Query family → engine module, for the per-module split. */
  val Families: Seq[(String, String)] = Seq(
    "q_kin" -> "features", "q_tmp" -> "features", "q_roll" -> "features", "q_ewma" -> "features",
    "q_resample" -> "features", "q_mobility" -> "features", "q_seq" -> "features",
    "q_ctx" -> "features", "q_cnv" -> "features", "q_viz" -> "features",
    "q_flt" -> "filters", "q_ses" -> "session", "q_seg" -> "session",
    "q_ip" -> "interp", "q_fill" -> "interp", "q_asof" -> "asof", "q_stream" -> "streaming",
    "q_dedup" -> "dedup", "q_sim" -> "ann", "q_txt" -> "text", "q_tok" -> "text",
    "q_mm" -> "multimodal", "q_smp" -> "sample", "q_stat" -> "stats", "q_profile" -> "stats",
    "q_src" -> "sources", "q_spatial_pairs" -> "kernels")

  val Modules: Seq[String] = Families.map(_._2).distinct

  def moduleOf(query: String): String =
    Families.collectFirst { case (f, m) if query == f || query.startsWith(f + "_") => m }
      .getOrElse(throw new IllegalArgumentException(s"no module for $query"))

  /** One query per module, each near its module's typical latency, except
    * that asof and streaming take the slowest leaves the roadmap targets
    * (banded as-of, the stream-as-of replay). All 120 portable queries take
    * ~60 s per warm pass on 4 cores, far longer than a run may measure; this
    * subset takes ~10 s. */
  val Queries: Seq[String] = Seq(
    "q_kin_features", "q_flt_hampel", "q_ses_gap", "q_ip_linear", "q_asof_forward_banded",
    "q_stream_asof", "q_dedup_exact", "q_sim_lsh_topk", "q_txt_tfidf", "q_mm_decode",
    "q_smp_stratified", "q_profile", "q_src_json_props", "q_spatial_pairs")

  /** Row count and an order-insensitive digest (sum of per-row xxhash64). */
  private def observed(df: DataFrame, obs: Observation): DataFrame = {
    val hashable: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    df.observe(obs, count(lit(1)).as("rows"),
      sum(xxhash64(hashable: _*).cast("decimal(20,0)")).cast("string").as("digest"))
  }

  final case class Result(name: String, rows: Long, digest: String, constructS: Double, execS: Double)

  def runQuery(spark: SparkSession, dir: String, name: String, fn: (SparkSession, String) => DataFrame,
      t: Option[Traced]): (Result, Map[String, Double]) = {
    def span[A](n: String)(body: => A): A = t.fold(body)(_.tracer.span(n)(body))
    val jobs0 = t.map { tr => tr.listeners.drain(); tr.listeners.exec.mark }
    val t0 = System.nanoTime()
    val df = span("sql.construct")(fn(spark, dir))
    val t1 = System.nanoTime()
    val jobs1 = t.map { tr => tr.listeners.drain(); tr.listeners.exec.mark }
    val ph0 = t.map(_.listeners.phases.mark)
    val obs = Observation()
    val t2 = System.nanoTime()
    span("sql.exec")(observed(df, obs).write.mode("overwrite").format("noop").save())
    val t3 = System.nanoTime()
    val m = obs.get
    val r = Result(name, m("rows").toString.toLong, Option(m("digest")).map(_.toString).getOrElse("null"),
      (t1 - t0) / 1e9, (t3 - t2) / 1e9)
    val layer = t.fold(Map.empty[String, Double]) { tr =>
      tr.listeners.drain()
      // the timed write is the last execution to finish; earlier ones were eager
      // jobs of the construction step
      val write = tr.listeners.phases.since(ph0.get).lastOption
      val mod = moduleOf(name)
      Map(
        "sql.construct_s" -> r.constructS, "sql.exec_s" -> r.execS,
        "sql.construct_jobs" -> (jobs1.get.job - jobs0.get.job).toDouble,
        "sql.analysis_ms" -> write.map(_.analysisMs).getOrElse(0.0),
        "sql.optimization_ms" -> write.map(_.optimizationMs).getOrElse(0.0),
        "sql.planning_ms" -> write.map(_.planningMs).getOrElse(0.0),
        s"$mod.construct_s" -> r.constructS, s"$mod.exec_s" -> r.execS,
        s"$mod.construct_jobs" -> (jobs1.get.job - jobs0.get.job).toDouble)
    }
    (r, layer)
  }

  private def loadExpected(a: Args): Map[String, (Long, String)] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(a.digests.toFile)
    Queries.map { q =>
      val e = Option(tree.get(q)).getOrElse(throw new IllegalStateException(s"no recorded digest for $q"))
      q -> (e.get("rows").asLong, e.get("digest").asText)
    }.toMap
  }

  /** `a.allQueries` (profiling only) runs every query over `a.data` and
    * checks none of them: digests exist only for the subset on sf0.001. */
  def run(spark: SparkSession, a: Args, rec: Record): Seq[(String, String)] = {
    val all = SparkEntry.queries
    val expected = if (a.allQueries) Map.empty[String, (Long, String)] else loadExpected(a)
    val order = new scala.util.Random(a.seed).shuffle(if (a.allQueries) all.keys.toSeq.sorted else Queries)
    val dir = a.data.toString
    def check(r: Result): Seq[String] = expected.get(r.name) match {
      case Some((rows, digest)) if r.rows != rows || r.digest != digest =>
        Seq(s"${r.name}: rows ${r.rows} digest ${r.digest}, recorded rows $rows digest $digest")
      case _ => Nil
    }
    if (a.trace) { // untraced runs time the first pass, which a one-shot job pays
      order.foreach { q =>
        check(runQuery(spark, dir, q, all(q), None)._1).foreach(m => throw new IllegalStateException(m))
      }
    }
    Main.timedPhase(spark, a, rec, minPasses = 1) { t =>
      val t0 = System.nanoTime()
      val s0 = t.map { tr => tr.listeners.drain(); tr.listeners.streams.snapshot }
      val e0 = t.map(_.listeners.exec.mark)
      val layers = order.flatMap { q =>
        rec.attempt(q)(runQuery(spark, dir, q, all(q), t))(r => check(r._1)).map { case ((r, layer), _) =>
          rec.opS += r.constructS + r.execS
          if (t.nonEmpty) println(s"query $q module=${moduleOf(q)} " + Seq("sql.construct_s", "sql.construct_jobs",
            "sql.analysis_ms", "sql.optimization_ms", "sql.planning_ms", "sql.exec_s")
            .map(k => f"${k.stripPrefix("sql.")}=${layer(k)}%.4f").mkString(" "))
          layer
        }
      }
      rec.passS += (System.nanoTime() - t0) / 1e9
      t.foreach { tr =>
        tr.listeners.drain()
        val s1 = tr.listeners.streams.snapshot
        val summed = layers.flatten.groupMapReduce(_._1)(_._2)(_ + _)
        rec.layers += tr.listeners.exec.window(e0.get) ++ summed ++
          Map("core.input_bytes" -> Main.diskBytes(a.data)) ++
          s1.map { case (k, v) => k -> (v - s0.get(k)) }
      }
    }
    Seq("data" -> a.data.getFileName.toString, "queries" -> order.size.toString,
      "order" -> order.mkString(","), "work_per_pass" -> order.size.toString)
  }

  /** Writes the digest file from one pass over the subset (run on a commit
    * whose Verify output `tools/compare_oracle.py` passes). */
  def record(spark: SparkSession, a: Args): Unit = {
    val all = SparkEntry.queries
    val lines = Queries.map { q =>
      val (r, _) = runQuery(spark, a.data.toString, q, all(q), None)
      s"""  "$q": {"rows": ${r.rows}, "digest": "${r.digest}"}"""
    }
    Files.writeString(a.digests, lines.mkString("{\n", ",\n", "\n}\n"))
  }
}
