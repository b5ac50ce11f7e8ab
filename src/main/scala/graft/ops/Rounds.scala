package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.GraftBridge
import scala.collection.mutable.ArrayBuffer

/** The one owner of pinned storage: every frame the operators and
  * queries pin is a local checkpoint ([[checkpoint]], [[checkpointWith]])
  * made here, and only [[free]] and a closing [[scoped]] block release
  * one. A helper read more than once is pinned lazily (`eager = false`:
  * written by the first action that reads it, MEMORY_AND_DISK); a
  * round of a loop is pinned eagerly or by its convergence probe. Two
  * rules decide when a pin is released:
  *  - '''Dead helpers are freed early.''' An operator frees a helper
  *    itself, through [[free]], once the helper's last consumer has run
  *    eagerly inside the operator: a round-loop's superseded round, a
  *    frame only the construction-time loop read. A freed checkpoint
  *    cannot be recomputed, so a helper the lazy result still reads is
  *    never freed early.
  *  - '''Helpers the lazy result reads live until the scope closes.'''
  *    [[scoped]] records every pin made on its thread while it is open
  *    and frees them on close. Outside any scope a pin is never released
  *    here: a library caller keeps what the returned frame reads, and
  *    the ContextCleaner frees it once no plan reaches it.
  *    `graft.Harness.materialize` opens one scope per query, so Bench,
  *    Verify, Explain and the test sweeps free exactly what each query
  *    pinned.
  *
  * Why the scope is thread-confined: queries share one session, and
  * Spark's persistent-RDD registry is session-global. A before/after
  * diff of the registry would release another query's LIVE pins — a
  * frame that reads a freed checkpoint cannot be recomputed
  * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, the r16 parallel test sweeps). A
  * query is built and run on one driver thread, so a `ThreadLocal` scope
  * records exactly that query's pins; a thread pool running queries side
  * by side gives each run its own scope.
  *
  * Why a checkpoint and never a cache: a checkpoint belongs to the frame
  * that made it. A cache entry is session-global and matched by plan, so
  * two queries that cache one plan read one entry, and releasing an
  * entry re-plans every entry that contains it (both showed as empty
  * results in the 8-thread sweeps). A checkpointed frame's plan is also
  * one [[LogicalRDD]] leaf, so a recurrence that reads the previous
  * round more than once per round keeps a small LOGICAL plan; under a
  * cache it grows as refs^rounds (the k-core peel, 3 refs/round, OOM'd
  * explain at rounds=8).
  *
  * Why a helper's leaf reports no partitioning: Spark's scan of a
  * checkpoint leaf canonicalizes the attribute ids of its output
  * partitioning and ordering as they are, so the two copies of one leaf
  * a self-join makes never match, and an exchange over one copy is not
  * reused for the other: the subtree above the pin runs twice. A leaf
  * without partitioning is matched again, at the price of a shuffle
  * where a consumer keys on the pin's old partitioning. A helper is
  * pinned because several branches read it, so it takes that price; a
  * round is read by the next round's join on the key it is partitioned
  * by, so it keeps its partitioning.
  *
  * The trade: checkpoint blocks live on executor-local storage with
  * lineage TRUNCATED. They are leak-free in a long-lived session (the
  * ContextCleaner frees them once the plan is unreachable), but an
  * executor loss — preemption, OOM kill, dynamic-allocation
  * decommission — fails the job unrecoverably, for every pin alike,
  * loop rounds and reused helpers: there is no lineage to
  * recompute the lost blocks from. Right for local runs and clusters
  * with static, reliable executors; on dynamic-allocation clusters run
  * such operators with `spark.checkpoint` to reliable storage instead,
  * or accept the restart.
  *
  * Freeing a checkpoint: localCheckpoint registers its blocks as
  * persistent RDDs outside the cache manager, so `DataFrame.unpersist`
  * cannot free them. [[free]] reads the RDD ids off the frame's own plan
  * and releases each through `GraftBridge.freeRdd`. */
private[graft] object Rounds {

  /** What one scope recorded, in pin order. */
  private final class Scope {
    val pins = ArrayBuffer.empty[DataFrame]
    /** The frames the lazy pins were made from, held (never freed) until
      * the scope closes. A lazy pin's first readers report SQL metrics to
      * its source's physical plan, and once one job writes the pin Spark
      * drops the pin's lineage, so a reader still running in a concurrent
      * stage (AQE runs them side by side) would report to metrics the GC
      * may have taken: an ERROR "attempted to access non-existent
      * accumulator" per metric. */
    val sources = ArrayBuffer.empty[DataFrame]
  }

  private val current = new ThreadLocal[Scope]

  /** Runs `body` in a fresh scope on this thread and frees what it
    * pinned when `body` returns or throws. Non-blocking. A nested scope
    * frees only its own pins, so an outer pin of the same plan stays. */
  def scoped[T](body: => T): T = {
    val outer = current.get
    val scope = new Scope
    current.set(scope)
    try body
    finally {
      current.set(outer)
      scope.pins.foreach(free)
    }
  }

  /** Pin `df` as a localCheckpoint: eager by default, for a loop's
    * round, or lazy (written by the first action that reads it), for a
    * reused helper. A lazy pin's leaf reports no output partitioning
    * ([[GraftBridge.unpartitioned]]), so an exchange over one self-join
    * copy of it is reused for the other; an eager round keeps its
    * partitioning, which the next round joins on. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    pin(df, eager, shared = !eager)

  /** [[checkpoint]] fused with the round's convergence probe: the
    * checkpoint is LAZY and the probe's aggregate is the action that
    * materializes it — one job per round where the eager form paid two
    * (materialize, then probe), halving the per-round fixed cost that
    * dominates converged loops on small frames (r14 perf pass). The
    * probe MUST run before the caller frees the previous round (a
    * lazily-checkpointed frame still reads its parent's blocks until its
    * own are written); returning the probe value enforces that order by
    * construction. A round, so its leaf keeps its partitioning. */
  def checkpointWith[T](df: DataFrame)(probe: DataFrame => T): (DataFrame, T) = {
    val out = pin(df, eager = false, shared = false)
    (out, probe(out))
  }

  private def pin(df: DataFrame, eager: Boolean, shared: Boolean): DataFrame = {
    val ckpt = df.localCheckpoint(eager)
    val out = if (shared) GraftBridge.unpartitioned(ckpt) else ckpt
    Option(current.get).foreach { scope =>
      scope.pins += out
      if (!eager) scope.sources += df
    }
    out
  }

  /** Release `frame` now: unpersists the checkpoint blocks its plan
    * reads, so call it on a checkpointed frame or a projection of one,
    * once nothing that still runs reads it. Freeing a frame twice is a
    * no-op: the second call finds no live blocks. */
  def free(frame: DataFrame): Unit = {
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
