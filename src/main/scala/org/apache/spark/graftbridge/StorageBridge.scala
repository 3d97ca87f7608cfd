package org.apache.spark.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.status.api.v1.{StageData, StageStatus}

/** The one `private[spark]` doorway the harness needs. It reads how
  * much block-manager storage memory is currently OCCUPIED across the
  * cluster, waits for the listener bus to drain, and reads a job group's
  * task totals from Spark's own status store.
  *
  * Storage: broadcast blocks (every finished broadcast join's
  * HashedRelation) are released on executors only after the DRIVER's GC
  * collects their references and the asynchronous ContextCleaner ships
  * RemoveBroadcast messages — so "System.gc() ran" does not mean "the
  * executors are clean", and a back-to-back query suite can race its own
  * cleanup (observed under local-cluster[4,8,8192] at sf1 as
  * FailedToGrowBytesToBytesMap inside UnsafeHashedRelation.read: dead
  * broadcasts pinned the storageFraction-protected pool, starving
  * execution memory). Spark's own production answer to the same
  * accumulation is `spark.cleaner.periodicGC.interval` (default 30 min);
  * a measurement harness needs the deterministic equivalent: gc, then
  * poll THIS number until the executors are actually clean.
  */
object StorageBridge {
  /** Bytes of storage memory currently in use, summed over every block
    * manager (driver + executors): Σ (maxMem − remainingMem). */
  def storageUsedBytes(sc: SparkContext): Long = {
    val status = sc.env.blockManager.master.getMemoryStatus
    status.values.iterator.map { case (max, remaining) => max - remaining }.sum
  }

  /** Block until every event posted so far has reached every listener.
    * The bus delivers on its own thread, so a listener's totals lag the
    * action that produced them; an action's task-end and job-end events
    * are posted before it returns, so after this call they are all
    * counted. Throws `TimeoutException` if the bus has not drained in
    * 10 s, rather than returning a partial total. */
  def awaitListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Task-metric sums over the attempts of one stage, or over a group. */
  final case class TaskSums(
      tasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleReadBytes: Long, shuffleReadRecords: Long,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      inputBytes: Long, spillBytes: Long) {
    def +(o: TaskSums): TaskSums = TaskSums(
      tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
      shuffleReadBytes + o.shuffleReadBytes,
      shuffleReadRecords + o.shuffleReadRecords,
      shuffleWriteBytes + o.shuffleWriteBytes,
      shuffleWriteRecords + o.shuffleWriteRecords,
      inputBytes + o.inputBytes, spillBytes + o.spillBytes)
  }

  object TaskSums {
    val Zero: TaskSums = TaskSums(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

    private[graftbridge] def of(s: StageData): TaskSums = TaskSums(
      s.numCompleteTasks.toLong + s.numFailedTasks + s.numKilledTasks,
      s.executorRunTime, s.executorCpuTime, s.jvmGcTime,
      s.shuffleReadBytes, s.shuffleReadRecords,
      s.shuffleWriteBytes, s.shuffleWriteRecords,
      s.inputBytes, s.memoryBytesSpilled + s.diskBytesSpilled)
  }

  /** What one job group ran: its jobs, the stages that ran tasks (by
    * stage id, skipped stages left out) and the executors the store
    * lists as dead, application-wide, at the time of the read. */
  final case class GroupTotals(jobs: Int, byStage: Seq[(Int, TaskSums)],
                               deadExecutors: Int) {
    def sum: TaskSums = byStage.map(_._2).foldLeft(TaskSums.Zero)(_ + _)
  }

  /** The task totals of every job run under `group`, read from the live
    * status store after [[awaitListeners]], so no action's events are
    * missing. A stage shared by two of the group's jobs counts once.
    *
    * The store keeps only the newest `spark.ui.retainedJobs` jobs and
    * `spark.ui.retainedStages` stages (1000 each by default), evicting
    * the oldest first. Rather than return a partial total, this throws
    * `IllegalStateException` when a job id in the group's span (after
    * the last retained job outside the group that precedes it) or one of
    * the group's stages is missing from the store, and
    * `NoSuchElementException` when the store holds no job of `group`. */
  def groupTotals(sc: SparkContext, group: String): GroupTotals = {
    awaitListeners(sc)
    val store = sc.statusStore
    val all = store.jobsList(null)
    val (mine, others) = all.partition(_.jobGroup.contains(group))
    if (mine.isEmpty) throw new NoSuchElementException(s"no job in group $group")
    val ids = all.map(_.jobId).toSet
    val first = mine.map(_.jobId).min
    val last = mine.map(_.jobId).max
    val from = others.map(_.jobId).filter(_ < first).maxOption.getOrElse(-1) + 1
    val evicted = (from to last).filterNot(ids)
    if (evicted.nonEmpty) throw new IllegalStateException(
      s"group $group was partly evicted from the status store: job ids " +
        s"${evicted.take(5).mkString(", ")}… are gone (spark.ui.retainedJobs)")
    val byStage = mine.flatMap(_.stageIds).distinct.sorted.flatMap { id =>
      val attempts = store.asOption(store.stageData(id)).getOrElse(
        throw new IllegalStateException(s"group $group was partly evicted from " +
          s"the status store: stage $id is gone (spark.ui.retainedStages)"))
        .filter(_.status != StageStatus.SKIPPED)
      if (attempts.isEmpty) None else Some(id -> attempts.map(TaskSums.of).reduce(_ + _))
    }
    GroupTotals(mine.size, byStage, store.executorList(false).count(!_.isActive))
  }

  /** Run `f` under job group `group`, clear the group, and read its
    * [[groupTotals]]. */
  def inGroup[A](sc: SparkContext, group: String)(f: => A): (A, GroupTotals) = {
    sc.setJobGroup(group, group)
    val a = try f finally sc.clearJobGroup()
    (a, groupTotals(sc, group))
  }
}
