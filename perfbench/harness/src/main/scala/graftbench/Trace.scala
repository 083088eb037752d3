package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One layer call as seen from outside: wall time split into plan building
  * (everything inside the public call, eager checkpoint rounds included)
  * and the action that materializes its output. */
final case class Span(pass: Int, call: String, layer: String,
    startMs: Long, buildMs: Long, actionMs: Long) {
  def wallMs: Long = buildMs + actionMs
  def group: String = Trace.group(pass, call)
}

/** Per-call counters read from the listeners, keyed by the job group the
  * harness sets around each call. */
final class CallStats {
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var oneTaskStageMs = 0L
  var skew = 1.0
  var maxJoinRows = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The traced run's recorder: a SparkListener for jobs, stages and tasks, a
  * QueryExecutionListener for per-operator SQL metrics (join outputs) and a
  * StreamingQueryListener for micro-batch spans. Everything is kept in
  * memory; [[spans]] lists it at the end of the run. Passes whose
  * times feed the end-to-end metrics never have it registered. */
final class Trace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stats = mutable.Map.empty[String, CallStats]
  val jobSpans = mutable.ArrayBuffer.empty[(String, Int, Long, Long)]
  val batchSpans = mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
  @volatile var current: String = ""

  private def st(g: String) = stats.getOrElseUpdate(g, new CallStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    st(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    val s = jobStart.getOrElse(e.jobId, e.time)
    st(g).jobIntervals += ((s, e.time))
    jobSpans += ((g, e.jobId, s, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val c = st(g)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val c = st(stageGroup.getOrElse(info.stageId, ""))
    val durs = stageTasks.remove(info.stageId).getOrElse(mutable.ArrayBuffer.empty).sorted
    if (Trace.isLocalSolveKernel(info))
      for (a <- info.submissionTime; b <- info.completionTime) c.oneTaskStageMs += b - a
    if (durs.size >= 2) {
      val med = math.max(durs(durs.size / 2), 1L)
      c.skew = math.max(c.skew, durs.last.toDouble / med)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val rows = joinRows(qe.executedPlan)
    synchronized { val c = st(current); c.maxJoinRows = math.max(c.maxJoinRows, rows) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def joinRows(plan: SparkPlan): Long =
    (0L +: collect(plan) { case j: BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }).max

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Trace.this.synchronized {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batchSpans += ((String.valueOf(p.name), p.batchId, start, start + p.batchDuration))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streamListener)
  }

  /** Wait for every posted event, so the next call starts with this one's
    * counters complete. */
  def settle(): Unit = BenchBus.drain(spark.sparkContext)

  /** Every span of the run: calls under their pass, jobs under their call,
    * micro-batches under their query. */
  def spans(calls: Seq[Span]): Seq[Map[String, Any]] = synchronized {
    calls.map { s =>
      Map("id" -> s.group, "parent" -> s"pass:${s.pass}", "layer" -> s.layer,
        "call" -> s.call, "start_ms" -> s.startMs, "build_ms" -> s.buildMs,
        "end_ms" -> (s.startMs + s.wallMs))
    } ++ jobSpans.map { case (g, id, a, b) =>
      Map("id" -> s"job:$id", "parent" -> g, "start_ms" -> a, "end_ms" -> b)
    } ++ batchSpans.map { case (q, id, a, b) =>
      Map("id" -> s"batch:$q:$id", "parent" -> s"query:$q", "start_ms" -> a, "end_ms" -> b)
    }
  }
}

object Trace {
  def group(pass: Int, call: String): String = s"p$pass:$call"

  /** A LocalSolve kernel stage: one task, a `coalesce(1)` among its RDDs,
    * and a job submitted from inside `graft.graph.LocalSolve` (its kernels
    * run `coalesce(1).mapPartitions` under an eager checkpoint). Ordinary
    * stages that happen to have one task, which are common at small scale
    * with AQE coalescing shuffles, are not counted. */
  def isLocalSolveKernel(info: StageInfo): Boolean =
    info.numTasks == 1 && info.rddInfos.exists(_.name == "CoalescedRDD") &&
      info.details.contains("graft.graph.LocalSolve")

  /** Wall time inside [a, b) not covered by any of the intervals. */
  def uncovered(a: Long, b: Long, iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var hi = a
    iv.map { case (x, y) => (math.max(x, a), math.min(y, b)) }
      .filter { case (x, y) => y > x }.sortBy(_._1).foreach { case (x, y) =>
        if (y > hi) { covered += y - math.max(x, hi); hi = y }
      }
    (b - a) - covered
  }
}
