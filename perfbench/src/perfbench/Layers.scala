package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run: one span per call into an
  * engine layer, nested by the driver thread's call stack. Spans are written
  * out once, when the run ends. */
final class Tracer(runId: String) {
  private final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size, stack.headOption.getOrElse(-1), name, System.nanoTime(), 0L)
    spans += s
    stack = s.id :: stack
    try body finally { s.end = System.nanoTime(); stack = stack.tail }
  }

  /** Seconds per span name of duration minus the time its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupMapReduce(_.name)(s => (s.end - s.start - childNs(s.id)) / 1e9)(_ + _)
  }

  def write(file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val lines = spans.map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
    }
    Files.writeString(file, lines.mkString("", "\n", "\n"))
  }
}

/** Position in the [[ExecCounters]] stream: stages and jobs seen so far. */
final case class Mark(stage: Int, job: Long)

/** Stage, task and job counters from a SparkListener. `window` reads the
  * totals of everything that completed since `mark`. */
final class ExecCounters extends SparkListener {
  final case class Stage(id: Int, tasks: Int, wallS: Double, taskS: Double, gcS: Double,
      shuffleWrite: Long, shuffleRead: Long, fetchWaitS: Double, spill: Long, skew: Double)

  private val stages = ArrayBuffer.empty[Stage]
  private val taskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  private var jobs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val durations = taskMs.remove(si.stageId).getOrElse(ArrayBuffer.empty[Long]).sorted
    val skew =
      if (durations.isEmpty) 1.0
      else durations.last.toDouble / math.max(durations(durations.size / 2), 1L)
    stages += Stage(
      si.stageId, si.numTasks,
      (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3,
      m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime / 1e3, m.memoryBytesSpilled + m.diskBytesSpilled,
      skew)
  }

  def mark: Mark = synchronized(Mark(stages.size, jobs))

  /** Layer metrics of the work completed since `from`. */
  def window(from: Mark): Map[String, Double] = synchronized {
    val ss = stages.drop(from.stage).toSeq
    val map = ss.filter(_.shuffleWrite > 0)
    val reduce = ss.filter(_.shuffleRead > 0)
    val longest = if (ss.isEmpty) None else Some(ss.maxBy(_.wallS))
    Map(
      "exec.jobs" -> (jobs - from.job).toDouble,
      "exec.stages" -> ss.size.toDouble,
      "exec.tasks" -> ss.map(_.tasks).sum.toDouble,
      "exec.tasks_per_stage" -> (if (ss.isEmpty) 0.0 else ss.map(_.tasks).sum.toDouble / ss.size),
      "exec.task_s" -> ss.map(_.taskS).sum,
      "exec.gc_s" -> ss.map(_.gcS).sum,
      "exec.task_skew" -> longest.map(_.skew).getOrElse(0.0),
      "exchange.shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
      "exchange.shuffle_read_bytes" -> ss.map(_.shuffleRead).sum.toDouble,
      "exchange.fetch_wait_s" -> ss.map(_.fetchWaitS).sum,
      "exchange.spill_bytes" -> ss.map(_.spill).sum.toDouble,
      "exchange.map_stage_s" -> map.map(_.wallS).sum,
      "exchange.reduce_stage_s" -> reduce.map(_.wallS).sum)
  }
}

/** Catalyst phase times of every finished query execution, in arrival order. */
final class QueryPhases extends QueryExecutionListener {
  final case class Phases(analysisMs: Double, optimizationMs: Double, planningMs: Double)
  private val done = ArrayBuffer.empty[Phases]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val p = Phases(ms("analysis"), ms("optimization"), ms("planning"))
    synchronized { done += p }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def mark: Int = synchronized(done.size)
  def since(from: Int): Seq[Phases] = synchronized(done.drop(from).toSeq)
}

/** Micro-batch progress of streaming queries: batch count, summed
  * `durationMs` parts, and the final state-row count of each query. */
final class StreamCounters extends StreamingQueryListener {
  private val durations = scala.collection.mutable.Map.empty[String, Double]
  private val stateRows = scala.collection.mutable.Map.empty[java.util.UUID, Long]
  private var batches = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batches += 1
    p.durationMs.forEach((k, v) => durations(k) = durations.getOrElse(k, 0.0) + v.doubleValue)
    stateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
  }

  def snapshot: Map[String, Double] = synchronized {
    def d(k: String) = durations.getOrElse(k, 0.0)
    Map(
      "streaming.batches" -> batches.toDouble,
      "streaming.trigger_ms" -> d("triggerExecution"),
      "streaming.add_batch_ms" -> d("addBatch"),
      "streaming.query_planning_ms" -> d("queryPlanning"),
      "streaming.wal_commit_ms" -> d("walCommit"),
      "streaming.latest_offset_ms" -> d("latestOffset"),
      "streaming.state_rows" -> stateRows.values.sum.toDouble)
  }
}

/** All listener-backed counters of one traced run. They are attached only
  * around traced passes, so the untraced passes between them run as in an
  * untraced run. */
final class Listeners(spark: SparkSession) {
  val exec = new ExecCounters
  val phases = new QueryPhases
  val streams = new StreamCounters

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(phases)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(phases)
    spark.streams.removeListener(streams)
  }

  def drain(): Unit = org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
}
