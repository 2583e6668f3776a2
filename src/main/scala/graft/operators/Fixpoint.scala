package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.CheckpointBridge
import org.apache.spark.storage.StorageLevel

/** The round driver behind every iterative operator in the engine. Five
  * loop bodies run on it: the rank walk (personalized PageRank; global
  * PageRank is the walk seeded with every node), the distance
  * relaxation (SSSP; BFS is the relaxation over unit weights, and
  * exits early once its frontier is empty), label propagation, k-core
  * peeling, and connected components. It owns the ROUND-CHECKPOINT
  * PROTOCOL, stated here once:
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
  *  - '''Materialization, chosen by the loop's shape, never by a
  *    caller.''' A step that reads the previous round ONCE (the rank
  *    walk) runs [[Lazy]]: rounds compose into one
  *    plan, cut every `CutEvery` rounds for lineage and fault
  *    recovery, never after the last one — the caller materializes the
  *    result anyway. Every other step runs [[EachRound]]: each round is
  *    cut, the initial state included. A step that reads the previous
  *    round twice (label propagation, k-core) must not compose — the
  *    composed plan doubles per round, and so does every rendering and
  *    re-analysis of it.
  *  - '''Release with a one-round grace.''' A superseded cut is
  *    released (blocks, and checkpoint FILES in reliable mode) only
  *    once the cut after it has materialized, never while a job that
  *    could still read it is in flight — eager-checkpoint
  *    materialization overlapping an immediate release of its input
  *    round once logged `locally checkpointed … cannot be recomputed
  *    after unpersisting` under heavy concurrent load. Footprint stays
  *    O(2 rounds), constant in the round count.
  *  - '''Early exit.''' A probe reads the just-materialized round; when
  *    it reports the fixpoint, the remaining rounds are skipped.
  *  - '''Ownership.''' When the loop ends the grace round is released;
  *    the live cut is handed to the returned [[DedupPlan]], whose
  *    `release()` frees it.
  */
object Fixpoint {

  /** How each round is materialized before the next composes on it. */
  sealed trait Mode
  /** Rounds compose into one plan, cut every `CutEvery` rounds. */
  case object Lazy extends Mode
  /** Every round is cut, the initial state included. */
  case object EachRound extends Mode

  /** Lazy rounds composed between two cuts: the depth past which
    * re-analysis of the composed plan starts to dominate.
    */
  private val CutEvery = 5

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
    * fixpoint, and the live cut the managed plan must own.
    */
  final case class Rounds(result: DataFrame, converged: Boolean,
      private val live: Option[DataFrame]) {
    /** The managed plan over `df` (the result or a frame derived from
      * it), retaining `inputs` plus the live cut.
      */
    def plan(df: DataFrame, strategy: String, inputs: Seq[DataFrame]): DedupPlan =
      DedupPlan(df, strategy, inputs,
        finalizers = live.map(c => () => CheckpointBridge.release(c)).toSeq)
  }

  /** Run up to `rounds` rounds of `step(i, previous)` from `init`,
    * stopping early once `probe` (true: fixpoint reached) says so.
    */
  def run(init: DataFrame, rounds: Int, mode: Mode,
      probe: DataFrame => Boolean = _ => false)(
      step: (Int, DataFrame) => DataFrame): Rounds = {
    var cuts = List.empty[DataFrame] // newest first: live, then grace
    def cutRound(df: DataFrame): DataFrame = {
      val c = cut(df)
      cuts ::= c
      c
    }
    var state = if (mode == EachRound) cutRound(init) else init
    var converged = false
    var i = 1
    while (i <= rounds && !converged) {
      val next = step(i, state)
      val round = if (mode == EachRound) cutRound(next) else next
      converged = probe(round)
      state =
        if (mode == Lazy && !converged && i % CutEvery == 0 && i < rounds) cutRound(round)
        else round
      cuts.drop(2).foreach(CheckpointBridge.release)
      cuts = cuts.take(2)
      i += 1
    }
    cuts.drop(1).foreach(CheckpointBridge.release)
    Rounds(state, converged, cuts.headOption)
  }
}
