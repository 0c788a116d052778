package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** Eager release of `localCheckpoint` storage, and the one fixpoint
  * loop built on it.
  *
  * `Dataset.unpersist()` on a checkpointed frame is a silent no-op: the
  * blocks belong to the checkpointed RDD, not the cache manager, and
  * they live until the driver GCs the RDD reference and the
  * ContextCleaner notices — minutes on a busy heap. An operator that
  * checkpoints an intermediate it has finished with (iterative loops
  * snap their result free of the loop lineage, so the loop's own
  * checkpoints die with the op) should free the blocks deterministically
  * instead of leaking them into the next query's storage budget — round
  * 6 measured that leak compounding into a 5× slowdown on later
  * suite queries (PERF.md).
  *
  * Only safe when nothing returned to the caller still references the
  * checkpoint: a released checkpoint cannot be recomputed (its lineage
  * was truncated), so releasing a frame that a returned lazy plan reads
  * would fail the caller's action. Operators therefore only release
  * checkpoints consumed strictly inside an eager section — which
  * [[converge]] is, for every iterative operator. */
object Checkpoints {
  /** Free the checkpoint blocks behind `df`, if it is the direct result
    * of `localCheckpoint()`; no-op otherwise. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** The boolean column a [[converge]] step marks its changed rows with. */
  val Changed = "changed"

  /** Rounds run by every [[converge]] call in this JVM, summed — a
    * caller reads its own delta around the call. */
  private[graft] val rounds = new AtomicLong

  /** Iterate `step` from `seed` to its fixpoint. Each round
    * `localCheckpoint`s `step(state)` — eager and lineage-truncating, so
    * every round plans one checkpoint scan plus the step (chained lazy
    * rounds double the plan per round: the round-14 d21 ×8 OOM) —
    * counts its rows marked [[Changed]] exactly, releases the previous
    * round's checkpoint, and stops after a round that changed nothing.
    *
    * `seed` is the caller's checkpoint of the start state, owned by
    * this loop from here on. `step` gets the state without [[Changed]].
    * `budget` caps the CHANGING rounds (the confirming round is free);
    * callers derive it from their input so that only a bug exhausts
    * it, and exhaustion releases every checkpoint held and throws.
    *
    * @return the fixed point, a projection over the last round's
    *         checkpoint — the only storage handed back */
  def converge(seed: DataFrame, budget: Long)(
      step: DataFrame => DataFrame): DataFrame = {
    var held = seed
    var changingRounds = 0L
    var changed = 1L
    while (changed > 0) {
      if (changingRounds > budget) {
        release(held)
        throw new IllegalStateException(s"no fixpoint after " +
          s"$changingRounds changing rounds (budget $budget)")
      }
      val next = step(held.drop(Changed)).localCheckpoint()
      rounds.incrementAndGet()
      changed = next.filter(col(Changed)).count()
      release(held)
      held = next
      if (changed > 0) changingRounds += 1
    }
    held.drop(Changed)
  }
}
