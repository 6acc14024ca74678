/* Harness-only block-manager hygiene.
 *
 * Lives under `org.apache.spark` (not `graft`) because `SparkContext.env` and
 * `BlockManagerMaster` are `private[spark]`: Scala qualified-private grants
 * access to any code inside the `org.apache.spark` package tree. This is the
 * standard technique test harnesses use to reach Spark internals without
 * forking them; nothing here is on any query path — it exists so Bench/Verify
 * can make each timed query start from a clean MemoryStore.
 *
 * Why it is needed at all: `spark.catalog.clearCache()` clears cached
 * *relations* and `rdd.unpersist(blocking = true)` clears *persisted RDD*
 * blocks, but neither touches *broadcast* blocks. Broadcast pieces are only
 * reaped by ContextCleaner after the driver GCs the `Broadcast` handle — in a
 * long single-JVM run of 68 queries (each auto-broadcasting small join sides)
 * that reclamation is far too lazy, MemoryStore pressure accumulates, and a
 * later memory-hungry query starts spilling: the cross-query contagion that
 * inflated t_hashed_tf_neardup to 39 s in BENCH_r06 vs 7.7-8.0 s isolated.
 */
package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.BroadcastBlockId

object BlockHygiene {

  /** The between-query reset every main runs, so a query starts from a
    * clean MemoryStore and cannot reuse (or be slowed by) an earlier
    * query's materializations:
    *  1. cached relations: `clearCache`;
    *  2. persisted/localCheckpointed RDD blocks (Dedup signatures, the CC
    *     loop's checkpoints): a BLOCKING unpersist, or eviction runs
    *     concurrently with — and pollutes — the next query;
    *  3. broadcast blocks, which neither of the above touches:
    *     [[destroyBroadcasts]].
    * Returns the number of broadcasts destroyed. */
  def reset(spark: SparkSession): Int = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    destroyBroadcasts(spark.sparkContext)
  }

  /** Distinct ids of all broadcast variables that still hold blocks anywhere
    * in the block manager (driver or executors). */
  def broadcastIds(sc: SparkContext): Seq[Long] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isBroadcast, true)
      .collect { case b: BroadcastBlockId => b.broadcastId }
      .distinct

  /** Synchronously destroy every broadcast's blocks. Safe between queries:
    * each bench/verify query builds a fresh plan, so no broadcast handle is
    * ever re-read after its gap. Returns the number of broadcasts removed.
    *
    * Best-effort per id: the ids are a SNAPSHOT, and the ContextCleaner
    * (woken by a System.gc() in the same hygiene gap) can reap a
    * broadcast between the snapshot and the blocking remove — the remove
    * then surfaces "Block broadcast_N does not exist" from an executor
    * endpoint, which is exactly the end state this method wants. Swallow
    * it; anything the cleaner got to first is already gone. */
  def destroyBroadcasts(sc: SparkContext): Int = {
    val ids = broadcastIds(sc)
    val master = sc.env.blockManager.master
    ids.foreach { id =>
      try master.removeBroadcast(id, true, true)
      catch { case _: org.apache.spark.SparkException => }
    }
    ids.length
  }

  /** Storage-memory bytes currently used across all block managers
    * (max - remaining, summed) — the per-gap observability signal. */
  def storageMemoryUsed(sc: SparkContext): Long =
    sc.env.blockManager.master.getMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum

  /** Block until every queued listener event has been delivered — the
    * race-free way for a spec to assert "no job was launched" (the bus is
    * async; a sleep is a guess, this is a guarantee). */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
