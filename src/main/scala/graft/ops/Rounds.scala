package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CachedData, LogicalRDD}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

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
  * by side gives each run its own scope. Such runs still share cache
  * entries, in two ways, and [[free]] keeps both safe:
  *  - '''One entry per plan.''' A second [[persist]] of a plan another
  *    query cached returns a frame that reads the first query's entry.
  *    Each frame [[persist]] returns is a holder of its entry, and the
  *    entry is uncached only when its last holder lets go, so a query
  *    whose scope closes first leaves an entry the other query still
  *    reads.
  *  - '''An entry inside another.''' Uncaching an entry makes Spark
  *    clear and re-plan every entry whose plan contains it and whose
  *    buffers are not yet loaded, even while a job is writing them (two
  *    plans match when they differ only in column names: a `src`/`dst`
  *    edge union and an `i`/`j` one). So an entry with no holder left
  *    waits, as an orphan, until no held entry that contains it is still
  *    loading; a later [[free]] releases it.
  * Either release, made early, shows as empty results in the 8-thread
  * sweeps: an eager checkpoint written over a cleared entry holds no
  * rows. A plan that
  * reads an entry without holding it (the CacheManager substitutes an
  * entry into any plan that contains its plan) and runs past the release
  * rebuilds the released buffers, persisted and in no entry, so every
  * scope close clears the buffers of released entries again; a released
  * entry has no holder.
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
    * is its identity, and a frame no longer reachable holds nothing),
    * with the cache entry it holds, or [[Released]] once [[free]] let it
    * go: how [[free]] tells a cache from a checkpoint and counts an
    * entry's holders. Guarded by its own lock, as are [[orphans]] and
    * [[retired]]. */
  private val caches = new java.util.WeakHashMap[DataFrame, AnyRef]

  /** The [[caches]] value of a freed frame. */
  private val Released = new Object

  /** Entries whose last holder let go while a loading held entry
    * contained them, each with a frame of its plan, oldest first. */
  private val orphans = ArrayBuffer.empty[(DataFrame, CachedData)]

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
    * plan stays small. The returned frame holds the plan's cache entry,
    * a new one or the one another frame already holds, until it is freed. */
  def persist(df: DataFrame): DataFrame = {
    val out = df.persist(StorageLevel.MEMORY_AND_DISK)
    caches.synchronized {
      // the entry's last holder may have released it since the persist
      val entry = GraftBridge.cacheEntry(out).getOrElse {
        out.persist(StorageLevel.MEMORY_AND_DISK)
        GraftBridge.cacheEntry(out).orNull
      }
      caches.put(out, entry)
    }
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

  /** Release `frame` now. When [[persist]] returned it, the frame lets
    * go of its cache entry, and the entry is uncached once no frame holds
    * it and no loading held entry contains it (see the object doc);
    * otherwise the checkpoint blocks its plan reads are freed — so call
    * it on a checkpointed frame or a projection of one, never on a cached
    * frame's derivative. Freeing a frame twice is a no-op: the second
    * call finds it already let go. */
  def free(frame: DataFrame): Unit = caches.synchronized {
    if (caches.containsKey(frame)) caches.put(frame, Released) match {
      case entry: CachedData =>
        orphans += frame -> entry
        releaseOrphans()
      case _ =>
    } else freeCheckpoints(frame)
  }

  /** Uncaches each orphan, newest first, that no frame holds and no held
    * entry still loading contains; drops an orphan a frame holds again. */
  private def releaseOrphans(): Unit = {
    val held = caches.values.asScala.collect { case e: CachedData => e }.toSeq
    def holds(b: AnyRef) = held.exists(GraftBridge.builder(_) eq b)
    orphans.reverseIterator.toList.foreach { case orphan @ (frame, entry) =>
      val builder = GraftBridge.builder(entry)
      if (holds(builder)) orphans -= orphan
      else if (!held.exists(h => !GraftBridge.loaded(h) && h.plan.exists(_.sameResult(entry.plan)))) {
        orphans -= orphan
        retired += new java.lang.ref.WeakReference(builder)
        // the plan's entry now: this one, or a re-planned copy no frame holds
        GraftBridge.cacheEntry(frame).map(GraftBridge.builder)
          .filterNot(holds).foreach { current =>
            retired += new java.lang.ref.WeakReference(current)
            frame.unpersist(blocking = false)
          }
      }
    }
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
