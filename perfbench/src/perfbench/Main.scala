package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** Command-line arguments, as passed by perfbench/run.py. */
final case class Args(
    workload: String = "",
    seed: Long = 0L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    cores: Int = 4,
    work: Path = Paths.get("."),
    data: Path = Paths.get("."),
    digests: Path = Paths.get("."),
    totals: Path = Paths.get("."),
    traces: Path = Paths.get("."),
    record: Boolean = false,
    allQueries: Boolean = false,
    cds: Boolean = false)

object Args {
  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--cores" :: v :: t => parse(t, a.copy(cores = v.toInt))
    case "--work" :: v :: t => parse(t, a.copy(work = Paths.get(v)))
    case "--data" :: v :: t => parse(t, a.copy(data = Paths.get(v)))
    case "--digests" :: v :: t => parse(t, a.copy(digests = Paths.get(v)))
    case "--totals" :: v :: t => parse(t, a.copy(totals = Paths.get(v)))
    case "--traces" :: v :: t => parse(t, a.copy(traces = Paths.get(v)))
    case "--record" :: t => parse(t, a.copy(record = true))
    case "--all-queries" :: t => parse(t, a.copy(allQueries = true))
    case "--cds" :: t => parse(t, a.copy(cds = true))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown argument ${other.head}")
  }
}

/** What one run measured: operation outcomes, pass wall times, and per-pass
  * layer metrics (traced passes only). */
final class Record {
  var attempted = 0L
  var failed = 0L
  val passS = ArrayBuffer.empty[Double]
  val opS = ArrayBuffer.empty[Double]
  val layers = ArrayBuffer.empty[Map[String, Double]]
  val untracedPassS = ArrayBuffer.empty[Double]
  var firstPassEpochMs = 0L

  /** Runs one operation; a throw or a failed check counts it as failed and
    * keeps its time out of the latency samples. */
  def attempt[A](what: String)(body: => A)(check: A => Seq[String]): Option[(A, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out =
      try { val r = body; Right((r, (System.nanoTime() - t0) / 1e9)) }
      catch { case t: Throwable => Left(s"$what threw ${t.getClass.getName}: ${t.getMessage}") }
    val bad = out match {
      case Right((r, _)) => check(r)
      case Left(msg) => Seq(msg)
    }
    if (bad.nonEmpty) {
      failed += 1
      bad.foreach(m => System.err.println(s"[perfbench] FAILED $m"))
      None
    } else out.toOption
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "batch_s" -> "s", "throughput_per_s" -> "1/s", "peak_rss_mb" -> "MB")

  /** Every per-layer metric, in BENCHMARK.json order; a workload that does
    * not exercise a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.scan_s" -> "s", "core.adapt_s" -> "s", "core.input_bytes" -> "bytes",
    "features.kernel_s" -> "s", "features.tokens_per_task_s" -> "1/s",
    "exchange.shuffle_write_bytes" -> "bytes", "exchange.shuffle_read_bytes" -> "bytes",
    "exchange.fetch_wait_s" -> "s", "exchange.spill_bytes" -> "bytes",
    "exchange.map_stage_s" -> "s", "exchange.reduce_stage_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.tasks_per_stage" -> "count", "exec.task_s" -> "s", "exec.gc_s" -> "s",
    "exec.task_skew" -> "ratio",
    "sql.construct_s" -> "s", "sql.construct_jobs" -> "count", "sql.analysis_ms" -> "ms",
    "sql.optimization_ms" -> "ms", "sql.planning_ms" -> "ms", "sql.exec_s" -> "s") ++
    Suite.Modules.flatMap(m =>
      Seq(s"$m.construct_s" -> "s", s"$m.exec_s" -> "s", s"$m.construct_jobs" -> "count")) ++ Seq(
    "streaming.batches" -> "count", "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.state_rows" -> "count",
    "pipeline.stage1_s" -> "s", "pipeline.first_bucket_s" -> "s", "pipeline.bucket_p50_s" -> "s",
    "pipeline.stage2_s" -> "s", "pipeline.read_stage_s" -> "s", "pipeline.roundtrip_s" -> "s",
    "pipeline.bytes_written" -> "bytes", "pipeline.resume_s" -> "s",
    "pipeline.resume_buckets" -> "count",
    "host.alu_s" -> "s", "host.membw_s" -> "s",
    "trace.overhead_s" -> "s")

  def session(a: Args): SparkSession = SparkSession.builder()
    .appName("perfbench")
    .master(s"local[${a.cores}]")
    .config("spark.sql.shuffle.partitions", a.cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "localhost")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv.toList)
    val code =
      try run(a)
      catch {
        case t: Throwable =>
          System.err.println(s"[perfbench] run aborted: $t")
          t.printStackTrace()
          1
      }
    sys.exit(code)
  }

  private def run(a: Args): Int = {
    val spark = session(a)
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(f"[perfbench] setup: session ready ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.2f s after JVM start")
    try {
      if (a.cds) { Flagship.classWarmup(spark, a); return 0 }
      if (a.record) {
        if (a.workload == "operator_suite") Suite.record(spark, a) else Flagship.record(spark, a)
        return 0
      }
      val rec = new Record
      val info: Seq[(String, String)] = a.workload match {
        case "flagship_grouped" => Flagship.run(spark, a, rec, regroup = false)
        case "flagship_regroup" => Flagship.run(spark, a, rec, regroup = true)
        case "pipeline_buckets" => Pipelines.run(spark, a, rec)
        case "operator_suite" => Suite.run(spark, a, rec)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      report(a, rec, info)
      0
    } finally spark.stop()
  }

  /** Bytes of the files under `dir`: the on-disk size of a workload's input. */
  def diskBytes(dir: Path): Double = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum.toDouble finally s.close()
  }

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def report(a: Args, rec: Record, info: Seq[(String, String)]): Unit = {
    val rss = peakRssMb()
    // host stamp: fixed pure-JVM work, taken outside the timed region
    val alu = graft.Controls.aluControl(a.cores)
    val membw = graft.Controls.membwControl(a.cores)
    graft.Controls.release()

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val batch = Stats.median(rec.passS.toSeq)
    val work = info.collectFirst { case ("work_per_pass", v) => v.toDouble }.getOrElse(0.0)
    val e2e = Map(
      "setup_s" -> (rec.firstPassEpochMs - jvmStartMs) / 1e3,
      "batch_s" -> batch,
      "throughput_per_s" -> (if (batch > 0) work / batch else 0.0),
      "peak_rss_mb" -> rss)
    val layer: Map[String, Double] = PerLayer.map { case (k, _) =>
      k -> Stats.median(rec.layers.toSeq.map(_.getOrElse(k, 0.0)))
    }.toMap ++ Map(
      "host.alu_s" -> alu, "host.membw_s" -> membw,
      "trace.overhead_s" -> (batch - Stats.median(rec.untracedPassS.toSeq)))

    val failRatio = rec.failed.toDouble / math.max(rec.attempted, 1L)
    println(s"perfbench workload=${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      s"cores=${a.cores} heap=${Runtime.getRuntime.maxMemory / (1L << 20)}MB " +
      info.filterNot(_._1 == "work_per_pass").map { case (k, v) => s"$k=$v" }.mkString(" "))
    // per-operation latency is printed, not gated: on first-pass workloads it
    // depends on which queries the seed's order makes pay class loading and
    // code generation. A tail percentile is printed only with >= 10 samples
    // beyond it.
    val tailQ = 1.0 - 10.0 / rec.opS.size
    val tail = if (tailQ > 0.5) f" op_p${(tailQ * 100).floor.toInt}_s=${Stats.quantile(rec.opS.toSeq, tailQ)}%.4f" else ""
    println(f"samples passes=${rec.passS.size} ops=${rec.opS.size} op_p50_s=${Stats.median(rec.opS.toSeq)}%.4f$tail " +
      rec.passS.map(x => f"$x%.3f").mkString("pass_s=[", ",", "]"))
    println(f"fail_ratio ${rec.failed}/${rec.attempted} = $failRatio%.4f")
    println(f"host alu_s=$alu%.4f membw_s=$membw%.4f")
    EndToEnd.foreach { case (k, u) => println(f"e2e $k%-18s ${e2e(k)}%.6f $u") }
    if (a.trace) PerLayer.foreach { case (k, u) => println(f"layer $k%-30s ${layer(k)}%.6f $u") }

    val chosen = if (a.trace) PerLayer.map { case (k, u) => (k, u, layer(k)) }
                 else EndToEnd.map { case (k, u) => (k, u, e2e(k)) }
    val metrics = chosen.map { case (k, u, v) => s""""$k":{"value":${jnum(v)},"unit":"$u"}""" }
    val correct = rec.failed == 0 && rec.passS.nonEmpty
    println(s"""{"correct":$correct,"attempted":${rec.attempted},"failed":${rec.failed},""" +
      s""""metrics":{${metrics.mkString(",")}}}""")
  }

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Passes until `seconds` of measuring have elapsed, at least `minPasses`. */
  def measure(seconds: Double, minPasses: Int)(pass: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) { pass(i); i += 1 }
  }

  /** The timed phase shared by every workload: untraced passes for the whole
    * window or, in a traced run, untraced and traced passes interleaved, so
    * the difference of their medians is the tracing overhead. */
  def timedPhase(spark: SparkSession, a: Args, rec: Record, minPasses: Int)(
      pass: Option[Traced] => Unit): Unit = {
    rec.firstPassEpochMs = System.currentTimeMillis()
    if (!a.trace) measure(a.seconds, minPasses)(_ => pass(None))
    else {
      val t = new Traced(spark, new Tracer(s"${a.workload}-${a.seed}-${System.currentTimeMillis()}"))
      // ABBA order (untraced, traced, traced, untraced, ...) cancels a linear
      // drift of pass times between the two medians
      measure(a.seconds, 2 * minPasses) { i =>
        if (i % 4 == 0 || i % 4 == 3) {
          val (p0, o0) = (rec.passS.size, rec.opS.size)
          pass(None)
          rec.untracedPassS ++= rec.passS.drop(p0)
          rec.passS.dropRightInPlace(rec.passS.size - p0)
          rec.opS.dropRightInPlace(rec.opS.size - o0)
        } else {
          t.listeners.attach()
          try pass(Some(t)) finally t.listeners.detach()
        }
      }
      t.tracer.write(a.traces.resolve(s"${a.workload}-seed${a.seed}.jsonl"))
      t.tracer.selfSeconds.toSeq.sortBy(-_._2).foreach { case (n, s) => println(f"span_self $n%-28s $s%.4f s") }
    }
  }
}

/** Tracing state of a traced run: the span recorder and the listeners. */
final class Traced(spark: SparkSession, val tracer: Tracer) {
  val listeners = new Listeners(spark)
}
