package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.CheckpointBridge
import org.apache.spark.storage.StorageLevel

/** The round driver behind every iterative operator in the engine
  * (PageRank, personalized PageRank, BFS, label propagation, k-core,
  * SSSP, connected components). It owns the ROUND-CHECKPOINT PROTOCOL,
  * stated here once:
  *
  *  - '''Cut.''' A round is cut by [[cut]]: a RELIABLE `checkpoint()`
  *    when the context has a checkpoint dir (an executor loss mid-loop
  *    recomputes from the files — the right trade at cluster scale),
  *    else `localCheckpoint()` (fast, but blocks pin to executors).
  *    The reliable branch persists first: `checkpoint()` runs one job
  *    to materialize and ANOTHER to write the files, and without the
  *    persist the second re-executes the whole round. Either way the
  *    leaf's size estimate is capped: `Dataset.checkpoint` PRESERVES
  *    the origin plan's estimate, so uncapped per-round join products
  *    compound exponentially in the round count (see
  *    `CheckpointBridge.capStats`). A cut severs lineage: beyond ~5
  *    composed rounds Catalyst re-analysis of the accumulated plan
  *    dominates wall time (measured >5× on connected components at 5k
  *    docs before rounds were cut).
  *  - '''Materialization.''' Each round is either composed lazily
  *    ([[Lazy]]), persisted because the next round reads it twice
  *    ([[Persist]]), or cut ([[EachRound]], which also cuts the initial
  *    state). The first two cut every `cutEvery` rounds, never after
  *    the last one — the caller materializes the result anyway.
  *  - '''Release with a one-round grace.''' A superseded cut is
  *    released (blocks, and checkpoint FILES in reliable mode) only
  *    once the cut after it has materialized, never while a job that
  *    could still read it is in flight — eager-checkpoint
  *    materialization overlapping an immediate release of its input
  *    round once logged `locally checkpointed … cannot be recomputed
  *    after unpersisting` under heavy concurrent load. Footprint stays
  *    O(2 rounds), constant in the round count. A cut also unpersists
  *    the persisted rounds it supersedes.
  *  - '''Early exit.''' A probe reads the just-materialized round; when
  *    it reports the fixpoint, the remaining rounds are skipped.
  *  - '''Ownership.''' When the loop ends the grace round is released;
  *    the live cut and the persisted rounds since it are handed to the
  *    returned [[DedupPlan]], whose `release()` frees them.
  */
object Fixpoint {

  /** How each round is materialized before the next composes on it. */
  sealed trait Mode
  /** Rounds compose into one plan; cut every `cutEvery` rounds (0: never). */
  final case class Lazy(cutEvery: Int) extends Mode
  /** Each round is persisted; cut every `cutEvery` rounds (0: never). */
  final case class Persist(cutEvery: Int) extends Mode
  /** Every round is cut, the initial state included. */
  case object EachRound extends Mode

  private val Level = StorageLevel.MEMORY_AND_DISK_SER

  /** Materialize `df` now into lineage-severed, stats-capped storage. */
  def cut(df: DataFrame): DataFrame =
    CheckpointBridge.capStats(
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
        val cached = df.persist(Level)
        val out = cached.checkpoint()
        cached.unpersist(blocking = false)
        out
      } else df.localCheckpoint())

  /** The loop's outcome: the final round, whether the probe reported the
    * fixpoint, and the storage the managed plan must own.
    */
  final case class Rounds(result: DataFrame, converged: Boolean,
      private val persisted: Seq[DataFrame], private val live: Option[DataFrame]) {
    /** The managed plan over `df` (the result or a frame derived from
      * it), retaining `inputs` plus the surviving rounds.
      */
    def plan(df: DataFrame, strategy: String, inputs: Seq[DataFrame]): DedupPlan =
      DedupPlan(df, strategy, inputs ++ persisted,
        finalizers = live.map(c => () => CheckpointBridge.release(c)).toSeq)
  }

  /** Run up to `rounds` rounds of `step(i, previous)` from `init`,
    * stopping early once `probe` (true: fixpoint reached) says so.
    */
  def run(init: DataFrame, rounds: Int, mode: Mode,
      probe: DataFrame => Boolean = _ => false)(
      step: (Int, DataFrame) => DataFrame): Rounds = {
    var cuts = List.empty[DataFrame] // newest first: live, then grace
    var persisted = List.empty[DataFrame]
    def cutRound(df: DataFrame): DataFrame = {
      val c = cut(df)
      cuts ::= c
      persisted.foreach(_.unpersist(blocking = false))
      persisted = Nil
      c
    }
    val cutEvery = mode match {
      case Lazy(n)    => n
      case Persist(n) => n
      case EachRound  => 0
    }
    var state = if (mode == EachRound) cutRound(init) else init
    var converged = false
    var i = 1
    while (i <= rounds && !converged) {
      val next = step(i, state)
      val round = mode match {
        case Lazy(_)    => next
        case Persist(_) => val p = next.persist(Level); persisted ::= p; p
        case EachRound  => cutRound(next)
      }
      converged = probe(round)
      state =
        if (!converged && cutEvery > 0 && i % cutEvery == 0 && i < rounds) cutRound(round)
        else round
      cuts.drop(2).foreach(CheckpointBridge.release)
      cuts = cuts.take(2)
      i += 1
    }
    cuts.drop(1).foreach(CheckpointBridge.release)
    Rounds(state, converged, persisted, cuts.headOption)
  }
}
