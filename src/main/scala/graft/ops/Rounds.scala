package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of round-loop checkpoints: every iterative operator
  * (graph closures and peels, dedup label propagation, BPE/Viterbi,
  * k-center, NN-descent, MMR) pins each round here and frees the round
  * it supersedes here.
  *
  * Why localCheckpoint, not persist: a recurrence that reads the
  * previous round more than once per round grows its LOGICAL plan as
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
  * Freeing: localCheckpoint registers its blocks as persistent RDDs
  * outside the cache manager, so `DataFrame.unpersist` cannot free them.
  * [[free]] reads the RDD ids off the frame's own plan. A before/after
  * diff of the session-global persistent-RDD registry would race under
  * concurrent queries: it captures RDDs another query just registered,
  * and freeing them unpersists that query's LIVE checkpoint
  * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, the r16 parallel test sweeps).
  * Call [[free]] only on a frame pinned by [[checkpoint]] or
  * [[checkpointWith]], or a projection of one: it frees every
  * checkpoint its plan reads. */
private[ops] object Rounds {

  /** Pin `df` now: an eager localCheckpoint. */
  def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint()

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
    val out = df.localCheckpoint(eager = false)
    (out, probe(out))
  }

  /** Unpersist the checkpoint blocks `frame` reads (see the object
    * scaladoc for which frames qualify). */
  def free(frame: DataFrame): Unit = {
    val sc = frame.sparkSession.sparkContext
    ckptIds(frame).foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
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
