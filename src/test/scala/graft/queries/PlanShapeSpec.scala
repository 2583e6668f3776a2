package graft.queries

import graft.{GraftSession, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Plan-shape assertions: the scale claims in the operator docs
  * (pushdown, pruning, broadcast, bounded shuffles) checked against
  * the actual physical plans — not just believed.
  */
class PlanShapeSpec extends SparkSpec {

  private def planString(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  private def initialPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }

  test("filter + projection reach the parquet scan (PushedFilters, pruned ReadSchema)") {
    val q = Relational.queries("q2_filter_project")(spark, Sf0001)
    val scanLine = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scanLine.contains("PushedFilters: ["), scanLine)
    assert(scanLine.contains("GreaterThan(l_quantity") || scanLine.contains("IsNotNull"), scanLine)
    // pruned read schema: only the 3 projected + filtered columns
    val readSchema = scanLine.substring(scanLine.indexOf("ReadSchema:"))
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_shipdate"),
      readSchema)
  }

  test("dimension joins broadcast (no shuffle of the fact table for q3)") {
    val q = Relational.queries("q3_join_broadcast")(spark, Sf0001)
    val plan = planString(q)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("top-k compiles to TakeOrderedAndProject, never a global sort") {
    val q = Relational.queries("q6_topk")(spark, Sf0001)
    val plan = planString(q)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("comparator fingerprint aggregation is map-side partial (two-phase HashAggregate)") {
    val li = GraftSession.table(spark, Sf0001, "lineitem")
    val fp = graft.diff.Comparator.fingerprints(graft.diff.Comparator.withBuckets(li, 64))
    val plan = planString(fp)
    // partial_ + final aggregate pair around one exchange
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    val shuffles = initialPlan(fp).collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, s"expected exactly 1 shuffle, got ${shuffles.size}")
  }

  test("star join broadcasts the dimension chain — the fact table never shuffles for the join") {
    val q = Relational.queries("q4_join_multi")(spark, Sf0001)
    val plan = planString(q)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only exchanges are for the final aggregation/sort, not a
    // fact-table join shuffle: no SortMergeJoin anywhere
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("large-large join runs as SortMergeJoin, never broadcast (q31)") {
    val q = Relational.queries("q31_join_shuffle")(spark, Sf0001)
    val plan = planString(q)
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
  }

  test("parity fingerprints stream-fold — no collect_list materialization") {
    for (q <- Seq("cmp_fingerprint", "cmp_hash_detect")) {
      val df = CompareQueries.queries(q)(spark, Sf0001)
      val plan = planString(df)
      assert(!plan.contains("collect_list"), s"$q: $plan")
    }
  }

  test("q1 aggregation shuffles only once (partial agg before the exchange)") {
    val q = Relational.queries("q1_agg")(spark, Sf0001)
    val shuffles = initialPlan(q).collect { case s: ShuffleExchangeExec => s }
    // one for groupBy, one for the final orderBy (range partitioning)
    assert(shuffles.size <= 2, s"got ${shuffles.size} shuffles")
  }

  test("hash split is a pure narrow projection — zero shuffles") {
    val docs = GraftSession.table(spark, Sf0001, "documents")
    val s = graft.operators.Sampling.hashSplit(docs,
      org.apache.spark.sql.functions.col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val shuffles = initialPlan(s).collect { case x: ShuffleExchangeExec => x }
    assert(shuffles.isEmpty, s"split must not shuffle, got ${shuffles.size}")
  }

  test("heavy hitters: one count shuffle, top-k never a global sort") {
    val docs = GraftSession.table(spark, Sf0001, "documents")
    val hh = graft.operators.Sampling.heavyHitters(docs, 20)
    val plan = planString(hh)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("partial_count"), plan)
    val shuffles = initialPlan(hh).collect { case x: ShuffleExchangeExec => x }
    assert(shuffles.size == 1, s"expected 1 shuffle (token counts), got ${shuffles.size}")
  }

  test("lateral top-n decorrelates: partial WindowGroupLimit below the shuffle, no per-row subquery") {
    val df = graft.SparkEntry.queries("q34_lateral_topn")(spark, Sf0001)
    val plan = planString(df)
    assert(plan.contains("WindowGroupLimit"), plan) // top-2 pushed below the exchange
    assert(plan.contains("Partial"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("range window frame: one user shuffle, RangeFrame in the window spec") {
    val df = graft.SparkEntry.queries("q33_range_window")(spark, Sf0001)
    val plan = planString(df)
    assert(plan.contains("RangeFrame"), plan)
    val shuffles = initialPlan(df).collect { case s: ShuffleExchangeExec => s }
    // one hash exchange for the window + one range exchange for the output sort
    assert(shuffles.size == 2, s"expected 2 shuffles, got ${shuffles.size}:\n$plan")
  }

  test("lsh-verified pairs: banded bucket join only, no cartesian anywhere") {
    val df = graft.operators.Dedup.lshVerifiedPairs(
      GraftSession.table(spark, Sf0001, "documents"), 0.1)
    val plan = planString(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("funnel: both step windows share ONE user_id exchange, zero joins") {
    val df = Relational.queries("q35_funnel")(spark, Sf0001)
    val plan = planString(df)
    assert(!plan.contains("Join"), plan.take(1000))
    // partitioned on the BARE user_id attribute — the count-distinct
    // Expand exchange also mentions user_id, inside CASE expressions
    val userExchanges = initialPlan(df).collect {
      case s: ShuffleExchangeExec
        if s.outputPartitioning.toString.startsWith("hashpartitioning(user_id#") => s
    }
    assert(userExchanges.size == 1,
      s"both running-min windows must reuse one user_id shuffle, got ${userExchanges.size}")
  }

  test("chunk is shuffle-free: pure per-row generate, scales with input splits") {
    val docs = GraftSession.table(spark, Sf0001, "documents")
    val c = graft.operators.TextAnalysis.chunk(docs)
    val shuffles = initialPlan(c).collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, s"chunking must not shuffle: $shuffles")
    assert(planString(c).contains("Generate"), planString(c).take(600))
  }

  test("lexical search: term-keyed join with partial top-k, no doc-cross product") {
    val docs = GraftSession.table(spark, Sf0001, "documents")
    val r = graft.operators.TextAnalysis.lexicalTopK(docs)
    val plan = planString(r)
    assert(plan.contains("WindowGroupLimit"), plan.take(1000))
    assert(!plan.contains("CartesianProduct"), plan.take(1000))
  }

  test("source cap: partial WindowGroupLimit below the shuffle (hot source bounded map-side)") {
    // Sampling.sourceCap documents that a hot domain doesn't flood one
    // partition because the per-source top-k runs PARTIAL below the
    // exchange — assert it like the q34 precedent instead of believing it
    val df = graft.SparkEntry.queries("sa_source_cap")(spark, Sf0001)
    val plan = planString(df)
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("Partial"), plan)
  }

  /** Inner sort-merge joins keyed on the shingle alone — the exact
    * jaccard join's cold stratum (its salted stratum is keyed on
    * (shingle, salt)).
    */
  private def coldMergeJoins(df: DataFrame) = {
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    initialPlan(df).collect {
      case j: SortMergeJoinExec if j.joinType == Inner && j.leftKeys.size == 1 &&
        j.leftKeys.head.references.exists(_.name == "shingle") => j
    }
  }

  test("two-path salted jaccard: exactly one salt replicate, cold stratum merge-joined") {
    import spark.implicits._
    // 300 docs share one 3-gram: df 300 is above the 256 hot cut
    val docs = ((1L to 300L).map(i => (i, s"hot0 hot1 hot2 u${i}a u${i}b")) ++
      Seq((1001L, "dup w1 w2 w3"), (1002L, "dup w1 w2 w3"))).toDF("doc_id", "text")
    val plan = graft.operators.Dedup.jaccardPairsPlan(docs, 0.1)
    val s = planString(plan.df)
    val saltGenerates = "Generate explode\\(".r.findAllMatchIn(s).size
    assert(saltGenerates == 1, s"cold stratum must not replicate: $saltGenerates salt Generates")
    assert(coldMergeJoins(plan.df).size == 1, s.take(1500))
    assert(plan.df.where($"doc_a" === 1001L && $"doc_b" === 1002L).count() == 1)
    plan.release()
  }

  test("eval truth is the merge-pinned exact jaccard join, not an unhinted self-join") {
    val plan = graft.operators.Dedup.evaluateMinhashPlan(
      GraftSession.table(spark, Sf0001, "documents"), 0.1)
    assert(coldMergeJoins(plan.df).size == 1, planString(plan.df).take(1500))
    plan.release()
  }

  test("containment join is shingle-keyed: no cartesian, no nested-loop product") {
    val q = graft.operators.Dedup.queries("dd_containment")(spark, Sf0001)
    val plan = planString(q)
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("transitions: sequence window + tiny-grain aggregation, zero joins") {
    val q = Relational.queries("q38_transitions")(spark, Sf0001)
    val plan = planString(q)
    assert(!plan.contains("Join"), plan.take(800))
    assert(plan.contains("Window"), plan.take(800))
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"), plan.take(800))
  }

  test("daily anomalies: one pass over raw input (single scan), moments at the grain") {
    val q = graft.operators.Profiler.queries("dq_anomaly")(spark, Sf0001)
    val plan = planString(q)
    val scans = "FileScan".r.findAllMatchIn(plan).size
    assert(scans == 1, s"expected ONE scan of the raw events, got $scans")
    assert(!plan.contains("Join"), plan.take(800)) // window moments, no self-join
  }

  test("path trigrams: both leads share ONE window (one user shuffle), top-k is partial") {
    val q = Relational.queries("q39_paths")(spark, Sf0001)
    val plan = planString(q)
    val windows = "Window \\[".r.findAllMatchIn(plan).size
    assert(windows == 1, s"expected ONE Window node, got $windows:\n${plan.take(1200)}")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("key skew and bpe pairs: top-k as TakeOrderedAndProject, not a global sort") {
    val skew = graft.operators.Profiler.queries("dq_skew")(spark, Sf0001)
    assert(planString(skew).contains("TakeOrderedAndProject"))
    val bpe = graft.operators.TextAnalysis.queries("ta_bpe_pairs")(spark, Sf0001)
    val plan = planString(bpe)
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    // pair generation is inside the scan: exactly one input scan and no join
    assert("FileScan".r.findAllMatchIn(plan).size == 1 && !plan.contains("Join"),
      plan.take(800))
  }

  test("pagerank rounds reuse the cached edge partitioning: no per-round edge exchange") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // enough distinct edges that a broadcast would NOT hide an exchange
    val e = (1L to 2000L).map(i => (s"n${i % 400}", s"n${(i * 7) % 400}"))
      .toDF("src", "dst")
    def exchanges(iters: Int): Int = {
      val p = graft.operators.Graph.pageRankPlan(e, iters)
      val n = initialPlan(p.df).collect { case s: ShuffleExchangeExec => s }.size
      p.release(); n
    }
    val c1 = exchanges(1)
    val c3 = exchanges(3)
    // the edge list is cached pre-partitioned on src and deg/nodes carry
    // aggregation partitionings, so each extra round may add only the
    // two INHERENT shuffles (rank re-keyed for the join + the dst-grain
    // contribution sum) — an edge-side exchange per round would make
    // the delta 3+ per round
    assert((c3 - c1) <= 4, s"per-round exchange growth too high: c1=$c1 c3=$c3")
  }

  test("referential integrity: both sides collapse to the key grain BELOW the join") {
    val q = graft.operators.Profiler.queries("dq_ri")(spark, Sf0001)
    val plan = initialPlan(q).toString
    // the doc's claim: a partial (map-side) aggregate on each input
    // precedes every join — never a row-level join of two tables
    val joinIdx = plan.indexOf("Join")
    val partialIdx = plan.indexOf("partial_count")
    assert(joinIdx >= 0 && partialIdx >= 0, plan.take(800))
    assert(plan.contains("HashAggregate"), plan.take(800))
  }

  test("scd2: exactly one exchange — windows and rollup reuse the entity partitioning") {
    val q = Relational.queries("q44_scd2")(spark, Sf0001)
    val plan = initialPlan(q).toString
    // one hashpartitioning exchange on user_id feeds both window
    // passes and the run rollup; the final orderBy adds its range
    // exchange — nothing else may shuffle
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1, s"hash exchanges = $hashExchanges\n" + plan.take(1500))
  }

  test("group top-k aggregate: partial ObjectHashAggregate below the exchange, no Window") {
    val q = Relational.queries("q45_group_topk")(spark, Sf0001)
    val plan = initialPlan(q).toString
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan.take(1200))
    assert(!plan.contains("Window"), plan.take(1200))
    // the partial stage sits BELOW the exchange: shuffle carries <= k
    // pairs per (group, input partition), never raw rows
    val exIdx = plan.indexOf("Exchange hashpartitioning")
    val lastAgg = plan.lastIndexOf("ObjectHashAggregate")
    assert(exIdx >= 0 && lastAgg > exIdx, plan.take(1500))
  }

  test("keeper election: single max-struct aggregation, no window over the corpus") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val clusters = (1L to 100L).map(i => (i, i % 10)).toDF("doc_id", "cluster_id")
    val scores = (1L to 100L).map(i => (i, i * 7 % 13)).toDF("doc_id", "score")
    val k = graft.operators.Dedup.keeperByQuality(clusters, scores)
    val plan = planString(k)
    assert(!plan.contains("Window"), plan) // argmax via max(struct), not row_number
    assert(plan.contains("partial_max") || plan.contains("partial_count"), plan)
  }
}
