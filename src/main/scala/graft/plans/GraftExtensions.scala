package graft.plans

import graft.functions.{BpeEncodeIds, BpeEncodeMinRank, BpeEncodePieces, DotLong, TokenStats, TopKAgg, UnicodeNormalize}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Session-extension registration — the idiomatic injection point for
  * the engine's native expressions (set
  * `spark.sql.extensions=graft.plans.GraftExtensions`, or call
  * [[GraftExtensions.register]] on a live session). No custom
  * optimizer rules or strategies are injected: every reference
  * capability maps onto Catalyst's existing operators (SURVEY §4), so
  * the extension surface is deliberately just expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  /** Every native expression the engine registers, listed once for
    * both registration paths.
    */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    DotLong.descriptor, UnicodeNormalize.descriptor, TopKAgg.descriptor,
    BpeEncodePieces.descriptor, BpeEncodeMinRank.descriptor,
    BpeEncodeIds.descriptor, TokenStats.descriptor)

  /** Imperative registration for sessions built without the conf. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
