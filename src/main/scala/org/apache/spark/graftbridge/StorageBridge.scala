package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The one `private[spark]` doorway the harness needs. It reads how
  * much block-manager storage memory is currently OCCUPIED across the
  * cluster, and it waits for the listener bus to drain.
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
}
