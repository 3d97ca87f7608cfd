package bench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{ExecutionEndBridge, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** Benchmark-side tracing: one SparkListener records job, stage and task
  * spans, and for each finished SQL execution its Catalyst phase times and
  * its final (AQE) plan's exchange, scan and write metrics. All are tied to
  * the operation that caused them through the job group the harness sets
  * per operation, and only operations passed to `follow` are recorded.
  * Everything stays in memory until the run ends.
  */
final class Tracer extends SparkListener {
  case class Job(id: Int, group: String, exec: Long, stages: Seq[Int], start: Long, var end: Long = -1)
  case class Stage(id: Int, attempt: Int, job: Int, tasks: Int, start: Long, end: Long)
  case class Task(stage: Int, start: Long, end: Long, runMs: Long, cpuMs: Double, gcMs: Long,
                  shuffleRead: Long, shuffleWrite: Long, spill: Long)
  case class Query(exec: Long, phases: Map[String, Double], exchanges: Int, scanFiles: Long,
                   scanBytes: Long, filesWritten: Long, bytesWritten: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val qs = new java.util.concurrent.ConcurrentLinkedQueue[Query]()
  private val followed = ConcurrentHashMap.newKeySet[String]()
  @volatile private var events = 0L

  /** Record the operation with job group `op` from now on. */
  def follow(op: String): Unit = followed.add(op)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    if (group != null && followed.contains(group)) {
      jobs.put(e.jobId, Job(e.jobId, group, exec, e.stageIds, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      if (exec >= 0) execGroup.putIfAbsent(exec, group)
    }
    events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    events += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    if (stageJob.containsKey(i.stageId))
      stages.add(Stage(i.stageId, i.attemptNumber(), stageJob.get(i.stageId),
        i.numTasks, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && stageJob.containsKey(e.stageId))
      tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    events += 1
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.filter(followed.contains).foreach(g => execGroup.putIfAbsent(s.executionId, g))
      events += 1
    case end: SparkListenerSQLExecutionEnd =>
      if (execGroup.containsKey(end.executionId))
        ExecutionEndBridge.queryExecution(end).foreach(qe => qs.add(query(end.executionId, qe)))
      events += 1
    case _ =>
  }

  private def query(exec: Long, qe: QueryExecution): Query = {
    val nodes = flatten(qe.executedPlan)
    def metric(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val writes = nodes.collect { case w: DataWritingCommandExec => w }
    Query(exec,
      qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble },
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum,
      writes.map(metric(_, "numFiles")).sum, writes.map(metric(_, "numOutputBytes")).sum)
  }

  /** Every node of the final physical plan, through AQE stages and
    * subqueries; a reused exchange counts once, where it was built. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case s: QueryStageExec => flatten(s.plan)
    case _: ReusedExchangeExec => Nil
    case n => n +: (n.children ++ n.subqueries).flatMap(flatten)
  }

  /** Wait until no listener event has arrived for 300 ms: the events of
    * the finished operations have then been delivered. */
  def drain(): Unit = {
    var last = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      if (events == last) stable += 1 else { stable = 0; last = events }
    }
  }

  private def epochMs(t: Double): Long = Harness.epochAt0 + (t * 1000).toLong

  private lazy val byGroup: Map[String, Seq[Job]] =
    jobs.values.asScala.toSeq.filter(_.group != null).groupBy(_.group)
  private lazy val stagesByJob = stages.asScala.toSeq.groupBy(_.job)
  private lazy val tasksByStage = tasks.asScala.toSeq.groupBy(_.stage)
  private lazy val queriesByGroup: Map[String, Seq[Query]] =
    qs.asScala.toSeq.flatMap(q => Option(execGroup.get(q.exec)).map(_ -> q))
      .groupBy(_._1).map { case (g, v) => g -> v.map(_._2) }

  /** Per-operation layer numbers. */
  def opSummary(op: Harness.Op): java.util.Map[String, Any] = {
    val js = byGroup.getOrElse(op.id, Nil)
    val ss = js.flatMap(j => stagesByJob.getOrElse(j.id, Nil))
    val ts = ss.map(_.id).distinct.flatMap(s => tasksByStage.getOrElse(s, Nil))
    val q = queriesByGroup.getOrElse(op.id, Nil)
    def phase(k: String) = q.map(_.phases.getOrElse(k, 0.0)).sum
    val actionMs = (op.end - op.built) * 1e3
    Map[String, Any](
      "build_ms" -> (op.built - op.start) * 1e3,
      "action_ms" -> actionMs,
      "analysis_ms" -> phase("analysis"),
      "optimization_ms" -> phase("optimization"),
      "planning_ms" -> phase("planning"),
      "jobs" -> js.size, "stages" -> ss.size, "tasks" -> ts.size,
      "task_run_ms" -> ts.map(_.runMs).sum,
      "task_cpu_ms" -> ts.map(_.cpuMs).sum,
      "gc_ms" -> ts.map(_.gcMs).sum,
      "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum,
      "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum,
      "spill_bytes" -> ts.map(_.spill).sum,
      "exchanges" -> q.map(_.exchanges).sum,
      "scan_files" -> q.map(_.scanFiles).sum,
      "scan_bytes" -> q.map(_.scanBytes).sum,
      "files_written" -> q.map(_.filesWritten).sum,
      "bytes_written" -> q.map(_.bytesWritten).sum).asJava
  }

  /** All spans of the traced operations, parent-linked: op > job > stage >
    * task. Times are epoch ms. */
  def spans(ops: Seq[Harness.Op]): java.util.List[java.util.Map[String, Any]] = {
    val out = mutable.ArrayBuffer[java.util.Map[String, Any]]()
    def span(id: String, parent: String, op: String, kind: String, start: Long, end: Long) =
      out += Map[String, Any]("id" -> id, "parent" -> parent, "op" -> op, "kind" -> kind,
        "start" -> start, "end" -> end).asJava
    ops.foreach { o =>
      span(o.id, null, o.id, "op", epochMs(o.start), epochMs(o.end))
      span(s"${o.id}/build", o.id, o.id, "build", epochMs(o.start), epochMs(o.built))
      span(s"${o.id}/action", o.id, o.id, "action", epochMs(o.built), epochMs(o.end))
      if (o.publish != null) {
        span(s"${o.id}/publish", s"${o.id}/action", o.id, "publish",
          epochMs(o.publish._1), epochMs(o.publish._2))
        span(s"${o.id}/readGeneration", s"${o.id}/action", o.id, "readGeneration",
          epochMs(o.readGen._1), epochMs(o.readGen._2))
      }
      byGroup.getOrElse(o.id, Nil).foreach { j =>
        val parent = if (j.start < epochMs(o.built)) "build" else "action"
        span(s"job${j.id}", s"${o.id}/$parent", o.id, "job", j.start, j.end)
        stagesByJob.getOrElse(j.id, Nil).foreach { s =>
          span(s"stage${s.id}.${s.attempt}", s"job${j.id}", o.id, "stage", s.start, s.end)
          tasksByStage.getOrElse(s.id, Nil).zipWithIndex.foreach { case (t, i) =>
            span(s"stage${s.id}.${s.attempt}/task$i", s"stage${s.id}.${s.attempt}", o.id, "task",
              t.start, t.end)
          }
        }
      }
    }
    out.asJava
  }
}
