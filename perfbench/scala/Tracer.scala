package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

final case class JobSpan(id: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int])
final case class StageSpan(id: Int, tasks: Int, startMs: Long, endMs: Long, cpuNs: Long,
                           shuffleWriteBytes: Long, shuffleReadBytes: Long,
                           spillBytes: Long, inputBytes: Long)
final case class QuerySpan(func: String, durationMs: Double, filesRead: Long)

/** One traced operation: its wall time and the jobs, stages and SQL
  * actions Spark ran for it.
  */
final case class OpSpan(kind: String, startMs: Long, wallMs: Double, jobs: Seq[JobSpan],
                        stages: Seq[StageSpan], queries: Seq[QuerySpan]) {
  /** Milliseconds covered by at least one job interval. */
  def jobUnionMs: Double = {
    val iv = jobs.filter(j => j.endMs >= j.startMs).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total.toDouble
  }
  def driverGapMs: Double = math.max(0.0, wallMs - jobUnionMs)
  def json: Map[String, Any] = Map(
    "kind" -> kind, "start_ms" -> startMs, "wall_ms" -> wallMs,
    "driver_gap_ms" -> driverGapMs,
    "jobs" -> jobs.map(j => Map("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "stages" -> stages.filter(s => j.stageIds.contains(s.id)).map(s => Map(
        "id" -> s.id, "tasks" -> s.tasks, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "cpu_ns" -> s.cpuNs, "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "shuffle_read_bytes" -> s.shuffleReadBytes, "spill_bytes" -> s.spillBytes,
        "input_bytes" -> s.inputBytes)))),
    "queries" -> queries.map(q => Map("func" -> q.func, "duration_ms" -> q.durationMs,
      "files_read" -> q.filesRead)))
}

/** Benchmark-side tracer: a SparkListener for jobs and stages plus a
  * QueryExecutionListener for SQL actions. Spans stay in memory and are
  * written once when the run ends. Events are attributed to the op
  * running between [[begin]] and [[end]]: the benchmark is one client,
  * and the listener bus is drained at both ends.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile private var active = false
  private val jobs = mutable.ArrayBuffer.empty[JobSpan]
  private val stages = mutable.ArrayBuffer.empty[StageSpan]
  private val queries = mutable.ArrayBuffer.empty[QuerySpan]
  val spans = mutable.ArrayBuffer.empty[OpSpan]
  private var curKind = ""
  private var curStart = 0L
  private var sc: org.apache.spark.SparkContext = _

  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def begin(kind: String): Unit = {
    org.apache.spark.perfbench.BusDrain.drain(sc)
    synchronized { jobs.clear(); stages.clear(); queries.clear() }
    curKind = kind
    curStart = System.currentTimeMillis()
    active = true
  }

  def end(wallMs: Double): OpSpan = {
    org.apache.spark.perfbench.BusDrain.drain(sc)
    active = false
    val s = synchronized {
      OpSpan(curKind, curStart, wallMs, jobs.toList, stages.toList, queries.toList)
    }
    spans += s
    s
  }

  def of(kindPrefix: String): Seq[OpSpan] = spans.filter(_.kind.startsWith(kindPrefix)).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
    jobs += JobSpan(e.jobId, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
    val i = e.stageInfo
    val m = i.taskMetrics
    val st = if (m == null) StageSpan(i.stageId, i.numTasks, 0, 0, 0, 0, 0, 0, 0)
    else StageSpan(i.stageId, i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
    synchronized { stages += st }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (active) {
      val files = scans(qe.executedPlan).map(p =>
        p.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      synchronized { queries += QuerySpan(funcName, durationNs / 1e6, files) }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** File scans of an executed plan, through adaptive wrappers and stages. */
  private def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other =>
      (if (other.metrics.contains("numFiles")) Seq(other) else Nil) ++
        other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  def json: String = Json(Map("spans" -> spans.map(_.json)))
}
