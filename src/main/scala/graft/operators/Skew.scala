package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation utilities.
  *
  * AQE's skew-join handling covers sort-merge joins at runtime; these
  * utilities cover the case it can't: shuffle joins where one side's
  * hot keys would hot-spot a single task.
  */
object Skew {

  /** Pseudo-random row salt in [0, salts) — deterministic per physical
    * row within one evaluation (a pure function of partition id ×
    * position), uniform enough to spread a hot key across `salts`
    * reducers. Shared by [[saltedJoin]] and the skew tests so the test
    * can assert the actual group-size bound the join relies on.
    */
  def rowSalt(salts: Int): Column =
    pmod(xxhash64(monotonically_increasing_id(), spark_partition_id()), lit(salts))

  /** Salted shuffle join for a skewed LEFT side against a small-ish
    * right side that is still too big to broadcast: left rows get a
    * random salt in [0, salts); the right side is replicated `salts`
    * times; the join key becomes (key, salt). A hot left key spreads
    * over `salts` tasks instead of one. Result is row-identical to the
    * plain join (asserted in tests).
    *
    * The join strategy is PINNED to sort-merge: salting only helps a
    * shuffle join, and the caller's contract is "too big to broadcast"
    * — but Catalyst's size estimate for the replicated side derives
    * from the pre-explode child (often a small parquet scan), so
    * without the hint the planner can "promote" the join to broadcast
    * and build a multi-million-row hashed relation on ONE thread
    * (measured: 20-250 s stalls at sf0.1 where the pinned SMJ runs in
    * seconds, the same single-threaded-build hazard at any scale).
    */
  def saltedJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, salts: Int): DataFrame = {
    val saltedLeft = left.withColumn("__salt", rowSalt(salts))
    val replicatedRight = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts - 1L))))
    saltedLeft.hint("merge").join(replicatedRight,
      saltedLeft(leftKey) === replicatedRight(rightKey) &&
        saltedLeft("__salt") === replicatedRight("__salt"))
      .drop("__salt")
  }
}
