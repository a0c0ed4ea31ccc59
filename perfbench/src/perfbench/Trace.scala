package perfbench

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Spans and counts at the layer boundaries of traced jobs, taken
  * from outside the engine: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (`queryExecution.tracker` phases and plan
  * metrics) and the job-group tag the harness sets around each job. */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  final case class TaskRec(stage: Int, runMs: Long, inBytes: Long, outBytes: Long,
      shuffleReadRecords: Long, shuffleBytes: Long, shuffleRecords: Long, shuffleWriteNs: Long,
      fetchWaitMs: Long, spillBytes: Long, peakMem: Long, failed: Boolean, attempt: Int)
  final case class StageRec(id: Int, attempt: Int, name: String, tasks: Int, start: Long, end: Long)
  final case class JobRec(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
  final case class QueryRec(func: String, phases: Map[String, (Long, Long)], filterRows: Long)

  private val tasks = ArrayBuffer.empty[TaskRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val jobs = ArrayBuffer.empty[JobRec]
  private val queries = ArrayBuffer.empty[QueryRec]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, m.executorRunTime, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten, m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleWriteMetrics.writeTime, m.shuffleReadMetrics.fetchWaitTime,
      m.diskBytesSpilled, m.peakExecutionMemory, e.taskInfo.failed, e.taskInfo.attemptNumber)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stages += StageRec(s.stageId, s.attemptNumber(), s.name, s.numTasks,
      s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L))
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += JobRec(e.jobId, group.getOrElse(""), e.time, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    val rows = Trace.nodes(qe.executedPlan).collect { case f: FilterExec => f }
      .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    synchronized { queries += QueryRec(func, phases, rows) }
  }
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Runs `body` as one traced job under job group `group`, then returns
    * its per-layer counts and spans and clears the buffers. */
  def job(group: String, threads: Int)(body: => Unit): (Map[String, Double], Seq[Map[String, Any]]) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, s"perfbench $group", interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    try body finally sc.clearJobGroup()
    val t1 = System.currentTimeMillis()
    Bus.drain(sc)
    synchronized {
      val out = summarize(group, t0, t1, threads)
      tasks.clear(); stages.clear(); jobs.clear(); queries.clear()
      out
    }
  }

  private def summarize(group: String, t0: Long, t1: Long, threads: Int) = {
    val byStage = tasks.groupBy(_.stage)
    def stagesWhere(p: Seq[TaskRec] => Boolean): Set[Int] =
      byStage.collect { case (s, ts) if p(ts.toSeq) => s }.toSet
    val input = stagesWhere(_.exists(_.inBytes > 0))
    val sink = stagesWhere(_.exists(_.outBytes > 0)) -- input
    val reduce = stagesWhere(_.exists(_.shuffleReadRecords > 0)) -- input -- sink
    def in(ss: Set[Int]) = tasks.filter(t => ss(t.stage))
    def sumS(ts: Iterable[TaskRec]) = ts.iterator.map(_.runMs).sum / 1e3
    val mapRecords = queries.map(_.filterRows).sum.toDouble
    def phase(name: String) = queries.iterator.flatMap(_.phases.get(name))
      .map { case (a, b) => (b - a) / 1e3 }.sum
    // union of the Spark job intervals inside the traced wall interval
    val covered = jobs.map(j => (j.start, j.end)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
        val from = math.max(s, reach)
        (acc + math.max(0L, e - from), math.max(reach, e))
      }._1
    val wall = (t1 - t0) / 1e3
    val counts = Map[String, Double](
      "scan.bytes_read" -> tasks.iterator.map(_.inBytes).sum.toDouble,
      "scan.tasks" -> in(input).size.toDouble,
      "map.task_s" -> sumS(in(input)),
      "map.records_out" -> mapRecords,
      "map.shuffle_records" -> in(input).iterator.map(_.shuffleRecords).sum.toDouble,
      "agg.peak_exec_mem_mb" -> (tasks.iterator.map(_.peakMem).maxOption.getOrElse(0L) / 1048576.0),
      "shuffle.bytes_written" -> tasks.iterator.map(_.shuffleBytes).sum.toDouble,
      "shuffle.records_written" -> tasks.iterator.map(_.shuffleRecords).sum.toDouble,
      "shuffle.write_s" -> tasks.iterator.map(_.shuffleWriteNs).sum / 1e9,
      "shuffle.fetch_wait_s" -> tasks.iterator.map(_.fetchWaitMs).sum / 1e3,
      "reduce.task_s" -> sumS(in(reduce)),
      "spill.bytes" -> tasks.iterator.map(_.spillBytes).sum.toDouble,
      "sink.task_s" -> sumS(in(sink)),
      "sink.bytes_written" -> tasks.iterator.map(_.outBytes).sum.toDouble,
      "jobs" -> jobs.size.toDouble,
      "stages" -> stages.size.toDouble,
      "tasks" -> tasks.size.toDouble,
      "tasks.failed" -> tasks.count(_.failed).toDouble,
      "tasks.retried" -> tasks.count(_.attempt > 0).toDouble,
      "cpu_util" -> (sumS(tasks) / (wall * threads)),
      "phase.analysis_s" -> phase("analysis"),
      "phase.optimization_s" -> phase("optimization"),
      "phase.planning_s" -> phase("planning"),
      "driver_gap_s" -> (wall - covered / 1e3))
    val layerOf = (s: Int) =>
      if (input(s)) "map" else if (sink(s)) "sink" else if (reduce(s)) "reduce" else "other"
    val stageJob = jobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val spans = Seq[Map[String, Any]](Map("name" -> "job", "id" -> group, "parent" -> null,
      "start_ms" -> t0, "end_ms" -> t1)) ++
      jobs.map(j => Map[String, Any]("name" -> "spark.job", "id" -> s"$group/job-${j.id}",
        "parent" -> group, "job_group" -> j.group, "start_ms" -> j.start, "end_ms" -> j.end)) ++
      stages.map { s =>
        val ts = tasks.filter(_.stage == s.id)
        Map[String, Any]("name" -> s"stage.${layerOf(s.id)}", "id" -> s"$group/stage-${s.id}.${s.attempt}",
          "parent" -> stageJob.get(s.id).map(j => s"$group/job-$j").getOrElse(group),
          "start_ms" -> s.start, "end_ms" -> s.end, "callsite" -> s.name, "tasks" -> s.tasks,
          "task_s" -> sumS(ts), "input_bytes" -> ts.map(_.inBytes).sum,
          "shuffle_bytes_written" -> ts.map(_.shuffleBytes).sum,
          "shuffle_records_written" -> ts.map(_.shuffleRecords).sum,
          "output_bytes" -> ts.map(_.outBytes).sum)
      } ++
      queries.flatMap(q => q.phases.map { case (p, (a, b)) =>
        Map[String, Any]("name" -> s"phase.$p", "id" -> s"$group/${q.func}/$p",
          "parent" -> group, "start_ms" -> a, "end_ms" -> b)
      })
    (counts, spans.toSeq)
  }
}

object Trace {
  /** Every physical node, looking through adaptive plans and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }
}
