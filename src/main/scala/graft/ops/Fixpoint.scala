package graft.ops

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD

/** The two round loops every graft iterative operator runs, so the
  * checkpoint → materialize → free protocol exists once. An operator
  * supplies one round function (previous state → next state) and
  * checkpoints only its loop-invariant inputs itself.
  *
  * Both drivers keep plan depth constant (each round reads the previous
  * round's checkpoint, never its lineage) and hold at most one round's
  * blocks after the call ([[Blocks]] contract). They free only the
  * checkpoints they created — never a frame the caller passed in.
  */
object Fixpoint {

  /** Run `step` until no row satisfies `changed`, or `maxRounds` fire.
    * Returns (last round, rounds run, stable): stable means the last
    * round changed nothing, so it is the recurrence's fixpoint; false
    * means the cap fired first.
    *
    * `state0` is checkpointed eagerly once. Each round then costs ONE
    * driver job: `step(prev)` is checkpointed lazily and the
    * `filter(changed).count()` that answers the stability question is
    * the action that materializes it. `step` must therefore carry
    * whatever `changed` compares against (the previous value as a
    * column) into its output, and it receives that output back — with
    * the carried columns — as the next round's `prev`.
    */
  def converge(state0: DataFrame, maxRounds: Int)(step: DataFrame => DataFrame)(
      changed: Column): (DataFrame, Int, Boolean) = {
    @tailrec def loop(prev: DataFrame, rounds: Int): (DataFrame, Int, Boolean) =
      if (rounds >= maxRounds) (prev, rounds, false)
      else {
        val next = step(prev).localCheckpoint(false)
        val stable = next.filter(changed).count() == 0L
        // freeing prev makes it unrecomputable: only safe once the count
        // has put every partition of next in the block manager
        requireMaterialized(next, rounds + 1)
        Blocks.free(prev)
        if (stable) (next, rounds + 1, true) else loop(next, rounds + 1)
      }
    loop(state0.localCheckpoint(), 0)
  }

  /** Run `step` exactly `n` times; `step` also receives the 1-based
    * round number. With `checkpoint`, every round is checkpointed
    * eagerly and the previous round's blocks are freed; without it the
    * rounds stay one lazy plan (the caller accepts its depth).
    */
  def rounds(state0: DataFrame, n: Int, checkpoint: Boolean)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to n).foldLeft(state0) { (prev, round) =>
      val next = step(prev, round)
      if (!checkpoint) next
      else {
        val cp = next.localCheckpoint()
        if (round > 1) Blocks.free(prev) // round 1's prev is the caller's
        cp
      }
    }

  /** Throw unless every partition of every checkpoint `df` reads is in
    * the block manager. Runs no job: it reads `getRDDStorageInfo`, which
    * the listener bus feeds asynchronously, so a shortfall is re-read
    * once after the bus drains before it counts as missing.
    */
  private[graft] def requireMaterialized(df: DataFrame, round: Int): Unit = {
    val sc = df.sparkSession.sparkContext
    def missing = df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
      .filter { rdd =>
        val cached = sc.getRDDStorageInfo.find(_.id == rdd.id).fold(0)(_.numCachedPartitions)
        cached < rdd.getNumPartitions
      }
    if (missing.nonEmpty && { org.apache.spark.GraftBridge.waitForListeners(sc); missing.nonEmpty })
      throw new IllegalStateException(s"round $round: checkpoint RDD(s) " +
        s"${missing.map(_.id).mkString(", ")} not fully materialized; " +
        "freeing the previous round would lose their lineage")
  }
}
