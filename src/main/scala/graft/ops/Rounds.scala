package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** The one owner of pinned storage: every cached frame ([[persist]]) and
  * every local checkpoint ([[checkpoint]], [[checkpointWith]]) the
  * operators and queries make is pinned here, and only [[free]] and a
  * closing [[scoped]] block release one. Two rules decide when:
  *  - '''Dead helpers are freed early.''' An operator frees a helper
  *    itself, through [[free]], once the helper's last consumer has run
  *    eagerly inside the operator: a round-loop's superseded round, a
  *    frame only the construction-time loop read.
  *  - '''Helpers the lazy result reads live until the scope closes.'''
  *    [[scoped]] records every pin made on its thread while it is open
  *    and frees them on close. Outside any scope a pin is never released
  *    here: a library caller keeps what the returned frame reads, as with
  *    a plain `persist`. `graft.Harness.materialize` opens one scope per
  *    query, so Bench, Verify, Explain and the test sweeps free exactly
  *    what each query pinned.
  *
  * Why the scope is thread-confined: queries share one session, and
  * Spark's cache manager and persistent-RDD registry are session-global.
  * A session-global clear (`clearCache`) or a before/after diff of the
  * registry would release another query's LIVE pins — a cached frame
  * that reads a freed round cannot be recomputed
  * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, the r16 parallel test sweeps). A
  * query is built and run on one driver thread, so a `ThreadLocal` scope
  * records exactly that query's pins; a thread pool running queries side
  * by side gives each run its own scope. Such runs can still share a
  * cache entry: the CacheManager substitutes an entry into any plan that
  * contains its plan. A plan built before the entry's release then
  * rebuilds the released buffers, persisted and in no entry, so every
  * scope close clears the buffers of released entries again.
  *
  * Why localCheckpoint, not persist, for rounds: a recurrence that reads
  * the previous round more than once per round grows its LOGICAL plan as
  * refs^rounds under persist (the k-core peel, 3 refs/round, OOM'd
  * explain at rounds=8); a checkpointed frame's plan is one
  * [[LogicalRDD]] leaf.
  *
  * The trade: checkpoint blocks live on executor-local storage with
  * lineage TRUNCATED. They are leak-free in a long-lived session (the
  * ContextCleaner frees them once the plan is unreachable), but an
  * executor loss — preemption, OOM kill, dynamic-allocation
  * decommission — fails the job unrecoverably: there is no lineage to
  * recompute the lost blocks from. Right for local runs and clusters
  * with static, reliable executors; on dynamic-allocation clusters run
  * such loops with `spark.checkpoint` to reliable storage instead, or
  * accept the restart. The same trade holds for the lazy checkpoints
  * operators use as composition boundaries (the MinHash signature frame
  * in [[Dedup]]).
  *
  * Freeing a checkpoint: localCheckpoint registers its blocks as
  * persistent RDDs outside the cache manager, so `DataFrame.unpersist`
  * cannot free them. [[free]] reads the RDD ids off the frame's own plan
  * and releases each through `GraftBridge.freeRdd`. */
private[graft] object Rounds {

  /** The pins one scope recorded, in pin order. */
  private final class Scope {
    val caches = ArrayBuffer.empty[DataFrame]
    val checkpoints = ArrayBuffer.empty[DataFrame]
  }

  private val current = new ThreadLocal[Scope]

  /** Every frame [[persist]] returned, held weakly (a Dataset's equality
    * is its identity), with the buffer builder its plans read: how
    * [[free]] tells a cache from a checkpoint. Guarded by its own lock,
    * as is [[retired]]. */
  private val caches = new java.util.WeakHashMap[DataFrame, AnyRef]

  /** Buffer builders of released cache entries (see the object doc). */
  private val retired = ArrayBuffer.empty[java.lang.ref.WeakReference[AnyRef]]

  /** Runs `body` in a fresh scope on this thread and releases what it
    * pinned when `body` returns or throws: cache entries first, newest
    * first (a cached frame may read an older one or a checkpoint), then
    * checkpoint blocks. Non-blocking. A nested scope releases only its
    * own pins. */
  def scoped[T](body: => T): T = {
    val outer = current.get
    val scope = new Scope
    current.set(scope)
    try body
    finally {
      current.set(outer)
      scope.caches.reverseIterator.foreach(free)
      scope.checkpoints.foreach(freeCheckpoints)
      caches.synchronized {
        retired.filterInPlace(_.get != null)
        retired.foreach(b => Option(b.get).foreach(GraftBridge.clearBuffers))
      }
    }
  }

  /** Cache `df` (MEMORY_AND_DISK): for a frame read more than once whose
    * plan stays small. */
  def persist(df: DataFrame): DataFrame = {
    val out = df.persist(StorageLevel.MEMORY_AND_DISK)
    caches.synchronized(caches.put(out, GraftBridge.cacheBuilder(out)))
    Option(current.get).foreach(_.caches += out)
    out
  }

  /** Pin `df` as a localCheckpoint: eager by default, or lazy (written
    * by the first action that reads it). */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val out = df.localCheckpoint(eager)
    Option(current.get).foreach(_.checkpoints += out)
    out
  }

  /** [[checkpoint]] fused with the round's convergence probe: the
    * checkpoint is LAZY and the probe's aggregate is the action that
    * materializes it — one job per round where the eager form paid two
    * (materialize, then probe), halving the per-round fixed cost that
    * dominates converged loops on small frames (r14 perf pass). The
    * probe MUST run before the caller frees the previous round (a
    * lazily-checkpointed frame still reads its parent's blocks until its
    * own are written); returning the probe value enforces that order by
    * construction. */
  def checkpointWith[T](df: DataFrame)(probe: DataFrame => T): (DataFrame, T) = {
    val out = checkpoint(df, eager = false)
    (out, probe(out))
  }

  /** Release `frame` now: its cache entry when [[persist]] returned it,
    * otherwise the checkpoint blocks its plan reads — so call it on a
    * checkpointed frame or a projection of one, never on a cached frame's
    * derivative. Freeing twice is a no-op. */
  def free(frame: DataFrame): Unit = caches.synchronized {
    if (caches.containsKey(frame)) {
      // the builder the frame's plans read, and the entry's current one
      (Option(caches.get(frame)) ++ Option(GraftBridge.cacheBuilder(frame)))
        .foreach(b => retired += new java.lang.ref.WeakReference(b))
      frame.unpersist(blocking = false)
    } else freeCheckpoints(frame)
  }

  /** Unpersists the checkpoint blocks `frame`'s plan reads. */
  private def freeCheckpoints(frame: DataFrame): Unit = {
    val sc = frame.sparkSession.sparkContext
    val live = sc.getPersistentRDDs
    ckptIds(frame).filter(live.contains).foreach(GraftBridge.freeRdd(sc, _))
  }

  /** `rounds` applications of `step` starting from `init`, each reading
    * a pinned input: every round checkpoints its input, frees the input
    * the previous round pinned, and applies `step`. The result is the
    * last `step`, unpinned (it reads the last round's checkpoint, which
    * stays live). */
  def fixed(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame = {
    val (fin, _) = (1 to rounds).foldLeft((init, Option.empty[DataFrame])) {
      case ((cur, prev), _) =>
        val pinned = checkpoint(cur)
        prev.foreach(free)
        (step(pinned), Some(pinned))
    }
    fin
  }

  /** RDD ids pinned by a checkpointed frame: a checkpointed Dataset's
    * logical plan is exactly one [[LogicalRDD]] leaf wrapping the
    * persisted RDD. */
  private def ckptIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect {
      case lr: LogicalRDD => lr.rdd.id
    }.toSet
}
