package graft.plans

import graft.functions.{BpeEncodeIds, BpeEncodeMinRank, BpeEncodePieces, DotLong, TokenStats, TopKAgg, UnicodeNormalize}
import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension registration — the idiomatic injection point for
  * the engine's native expressions (set
  * `spark.sql.extensions=graft.plans.GraftExtensions`, or call
  * [[GraftExtensions.register]] on a live session). No custom
  * optimizer rules or strategies are injected: every reference
  * capability maps onto Catalyst's existing operators (SURVEY §4), so
  * the extension surface is deliberately just expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(DotLong.descriptor)
    ext.injectFunction(UnicodeNormalize.descriptor)
    ext.injectFunction(TopKAgg.descriptor)
    ext.injectFunction(BpeEncodePieces.descriptor)
    ext.injectFunction(BpeEncodeMinRank.descriptor)
    ext.injectFunction(BpeEncodeIds.descriptor)
    ext.injectFunction(TokenStats.descriptor)
  }
}

object GraftExtensions {
  /** Imperative registration for sessions built without the conf. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      DotLong.descriptor._1, DotLong.descriptor._2, DotLong.descriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      UnicodeNormalize.descriptor._1,
      UnicodeNormalize.descriptor._2,
      UnicodeNormalize.descriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      TopKAgg.descriptor._1, TopKAgg.descriptor._2, TopKAgg.descriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      BpeEncodePieces.descriptor._1,
      BpeEncodePieces.descriptor._2,
      BpeEncodePieces.descriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      BpeEncodeMinRank.descriptor._1,
      BpeEncodeMinRank.descriptor._2,
      BpeEncodeMinRank.descriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      BpeEncodeIds.descriptor._1,
      BpeEncodeIds.descriptor._2,
      BpeEncodeIds.descriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      TokenStats.descriptor._1, TokenStats.descriptor._2, TokenStats.descriptor._3)
  }
}
