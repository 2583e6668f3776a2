package graft.diff

import graft.{GraftSession, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ComparatorSpec extends SparkSpec {

  private def li: DataFrame = GraftSession.table(spark, Sf0001, "lineitem")

  test("identical inputs => identical verdict, zero orphans") {
    val rep = Comparator.compare(li, li, CompareOptions(numBuckets = 64))
    assert(rep.identical)
    assert(rep.srcRows == 6000 && rep.tgtRows == 6000)
    assert(rep.mismatchedBuckets == 0)
    assert(rep.orphans.count() == 0)
  }

  test("k mutated rows => exactly k orphans per direction") {
    val k = 7
    val tgt = li.withColumn("l_quantity",
      when(col("l_orderkey") < k && col("l_linenumber") === col("l_linenumber"),
        col("l_quantity") + 100).otherwise(col("l_quantity")))
    // mutate all lines of the first k orderkeys — count them exactly.
    // maxMismatchFraction=1: with only 64 buckets this deliberate
    // mutation volume exceeds the default orphan-volume breaker
    val expected = li.where(col("l_orderkey") < k).count()
    val rep = Comparator.compare(li, tgt,
      CompareOptions(numBuckets = 64, maxMismatchFraction = 1.0))
    assert(!rep.identical)
    assert(rep.orphanSrc == expected)
    assert(rep.orphanTgt == expected)
    assert(rep.differences == 2 * expected)
  }

  test("extra rows on one side are reported as target orphans") {
    val extra = li.limit(5)
    val rep = Comparator.compare(li, li.unionAll(extra), CompareOptions(numBuckets = 64))
    assert(rep.orphanSrc == 0)
    assert(rep.orphanTgt == 5)
    assert(rep.tgtRows == rep.srcRows + 5)
  }

  test("duplicate multiplicity is detected (bag semantics, unlike the reference's set diff)") {
    // duplicating an existing row: a Python set() diff would miss this
    val dup = li.limit(1)
    val rep = Comparator.compare(li, li.unionAll(dup), CompareOptions(numBuckets = 64))
    assert(rep.orphanTgt == 1)
  }

  test("orphan-volume circuit breaker: disjoint inputs skip the row fetch, bounded work") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val spark2 = spark
    import spark2.implicits._
    // two completely unrelated datasets — every non-empty bucket mismatches
    val src = (1L to 20000L).toDF("id")
    val tgt = (1000001L to 1020000L).toDF("id")
    // bounded work: the broken path runs only the fingerprint summary
    // job — no restricted-side jobs, no orphan-count jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    val (jobsBroken, rep) =
      try {
        val r = Comparator.compare(src, tgt,
          CompareOptions(numBuckets = 64, breakerMinRows = 10000L))
        org.apache.spark.graftshim.TestListenerBridge.waitUntilEmpty(spark.sparkContext)
        (jobs.get(), r)
      } finally spark.sparkContext.removeSparkListener(l)
    assert(rep.circuitBroken, "disjoint inputs must trip the breaker")
    assert(!rep.identical && rep.countsUnknown && rep.differences == -1L)
    assert(!rep.withinTolerance) // unquantified can never be within tolerance
    assert(rep.verdict.contains("materially different"))
    // bucket-level sample is still available and complete
    assert(rep.buckets.where(!col("ok")).count() == rep.mismatchedBuckets)
    assert(rep.orphans.count() == 0) // row fetch skipped
    rep.release()

    // explicit opt-out fetches the full diff — and runs strictly more
    // jobs than the broken path (the work the breaker saved)
    val jobs2 = new java.util.concurrent.atomic.AtomicInteger(0)
    val l2 = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs2.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l2)
    val full =
      try {
        val r = Comparator.compare(src, tgt,
          CompareOptions(numBuckets = 64, maxMismatchFraction = 1.0))
        org.apache.spark.graftshim.TestListenerBridge.waitUntilEmpty(spark.sparkContext)
        r
      } finally spark.sparkContext.removeSparkListener(l2)
    assert(!full.circuitBroken && full.orphanSrc == 20000L && full.orphanTgt == 20000L)
    assert(jobsBroken < jobs2.get(),
      s"broken path ran $jobsBroken jobs, full path ${jobs2.get()} — the breaker must save work")
    full.release()
  }

  test("result is invariant under repartitioning of either side") {
    val rep = Comparator.compare(
      li.repartition(13), li.repartition(3), CompareOptions(numBuckets = 64))
    assert(rep.identical)
  }

  test("per-bucket match table: counts reconcile and NOK buckets match the verdict") {
    val tgt = graft.queries.CompareQueries.mutated(li)
    val rep = Comparator.compare(li, tgt, CompareOptions(numBuckets = 64))
    val b = rep.buckets.cache()
    assert(b.where(!col("ok")).count() == rep.mismatchedBuckets)
    assert(b.agg(sum("src_cnt")).head().getLong(0) == rep.srcRows)
    assert(b.agg(sum("tgt_cnt")).head().getLong(0) == rep.tgtRows)
    val ident = Comparator.compare(li, li, CompareOptions(numBuckets = 64))
    assert(ident.buckets.where(!col("ok")).count() == 0)
    b.unpersist(); rep.release(); ident.release()
  }

  test("progress callback fires per stage") {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val tgt = graft.queries.CompareQueries.mutated(li)
    Comparator.compare(li, tgt,
      CompareOptions(numBuckets = 64, progress = lines += _)).release()
    assert(lines.exists(_.startsWith("plan:")))
    assert(lines.exists(_.contains("buckets NOK")))
    assert(lines.exists(_.startsWith("orphans:")))
    // the peel line follows the fingerprint line and names every bucket
    val peel = lines.indexWhere(_.startsWith("peel:"))
    assert(peel > lines.indexWhere(_.startsWith("fingerprint:")), lines)
    assert(lines(peel).matches(
      "peel: \\d+/\\d+ mismatched buckets decoded, \\d+ fetched whole, \\d+ re-fetched"),
      lines(peel))
  }

  test("orphan counts agree with materialized orphan rows (lazy fetch path)") {
    val tgt = graft.queries.CompareQueries.mutated(li)
    val rep = Comparator.compare(li, tgt, CompareOptions(numBuckets = 64))
    val bySide = rep.orphans.groupBy("side").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySide.getOrElse("source", 0L) == rep.orphanSrc)
    assert(bySide.getOrElse("target", 0L) == rep.orphanTgt)
    rep.release()
  }

  test("schema gate: arity mismatch throws") {
    intercept[IllegalArgumentException] {
      Comparator.compare(li, li.drop("l_tax"), CompareOptions())
    }
  }

  test("reserved comparator column names are rejected before any Spark job runs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val df = li
    df.queryExecution.optimizedPlan // the parquet schema-inference job, outside the window
    val withCopies = df.withColumn("__copies", lit(1L))
    val withBucket = df.withColumn("__Bucket", lit(0L))
    spark.sparkContext.addSparkListener(l)
    try {
      val e1 = intercept[IllegalArgumentException](
        Comparator.compare(withCopies, withCopies, CompareOptions(numBuckets = 64)))
      assert(e1.getMessage.contains("source column '__copies'"), e1.getMessage)
      // names resolve case-insensitively, so the check does too
      val e2 = intercept[IllegalArgumentException](Comparator.compareAuto(df, withBucket))
      assert(e2.getMessage.contains("target column '__Bucket'"), e2.getMessage)
      Thread.sleep(1000) // listener bus is async
      assert(jobs.get() == 0, s"rejection ran ${jobs.get()} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("repair actions: a non-integral __copies column is rejected by name") {
    import spark.implicits._
    val orphans = Seq(("target", 7L, "2"), ("source", 8L, "1"))
      .toDF("side", "k", "__copies")
    val e = intercept[IllegalArgumentException](Comparator.repairActions(orphans, "t"))
    assert(e.getMessage.contains("'__copies'") && e.getMessage.contains("string"),
      e.getMessage)
    // an integral count is still read as the copy count
    val acts = Comparator.repairActions(
      orphans.withColumn("__copies", col("__copies").cast("int")), "t")
      .collect().map(_.getString(1)).toSet
    assert(acts == Set("delete_all_copies", "insert"), acts)
  }

  test("schema gate: positional type mismatch throws, ArityOnly passes") {
    val retyped = li.withColumn("l_quantity", col("l_quantity").cast("string"))
    intercept[IllegalArgumentException] {
      Comparator.schemaGate(li, retyped, SchemaCheck.Positional)
    }
    Comparator.schemaGate(li, retyped, SchemaCheck.ArityOnly) // no throw
  }

  test("positional compare: target columns under other names fetch orphans by position") {
    val spark2 = spark
    import spark2.implicits._
    val rep = Comparator.compare(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      Seq((1L, "a"), (3L, "c")).toDF("ID2", "w"), CompareOptions(numBuckets = 4))
    val got = rep.orphans.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set(("source", 2L, "b"), ("target", 3L, "c")), got)
    assert(rep.orphans.columns.toSeq == Seq("side", "id", "v"))
    rep.release()
  }

  private def arityCompare(a: DataFrame, b: DataFrame): DiffReport =
    Comparator.compare(a, b,
      CompareOptions(numBuckets = 16, schemaCheck = SchemaCheck.ArityOnly))

  test("ArityOnly: int 150 vs decimal(5,2) 1.50 is a difference, 150.00 is not") {
    val spark2 = spark
    import spark2.implicits._
    val ints = Seq(150).toDF("v")
    def dec(v: String) = Seq(v).toDF("v").select(col("v").cast("decimal(5,2)").as("v"))
    val rep = arityCompare(ints, dec("1.50"))
    assert(!rep.identical, rep.verdict)
    assert(rep.orphanSrc == 1 && rep.orphanTgt == 1, rep.verdict)
    rep.release()
    val same = arityCompare(ints, dec("150.00"))
    assert(same.identical, same.verdict)
    same.release()
  }

  test("ArityOnly: decimal(5,2) 1.50 vs decimal(5,1) 15.0 is a difference, 1.5 is not") {
    val spark2 = spark
    import spark2.implicits._
    def dec(v: String, t: String) = Seq(v).toDF("v").select(col("v").cast(t).as("v"))
    val rep = arityCompare(dec("1.50", "decimal(5,2)"), dec("15.0", "decimal(5,1)"))
    assert(!rep.identical, rep.verdict)
    assert(rep.orphanSrc == 1 && rep.orphanTgt == 1, rep.verdict)
    // orphan rows keep their values (the union widens both to one decimal type)
    val vals = rep.orphans.collect().map(r => r.getString(0) -> r.getDecimal(1).doubleValue).toMap
    assert(vals == Map("source" -> 1.5, "target" -> 15.0), vals)
    rep.release()
    val same = arityCompare(dec("1.50", "decimal(5,2)"), dec("1.5", "decimal(5,1)"))
    assert(same.identical, same.verdict)
    same.release()
  }

  test("maxDelta tolerance: verdict within tolerance but not identical") {
    val tgt = graft.queries.CompareQueries.mutated(li)
    val rep = Comparator.compare(li, tgt, CompareOptions(numBuckets = 64, maxDelta = 2))
    assert(!rep.identical)
    assert(rep.withinTolerance)
    val strict = Comparator.compare(li, tgt, CompareOptions(numBuckets = 64, maxDelta = 1))
    assert(!strict.withinTolerance)
  }

  test("fetchRows=false skips row retrieval but still detects difference") {
    val tgt = graft.queries.CompareQueries.mutated(li)
    val rep = Comparator.compare(li, tgt, CompareOptions(numBuckets = 64, fetchRows = false))
    assert(rep.mismatchedBuckets >= 1)
    assert(rep.orphans.isEmpty)
    assert(!rep.identical)
    // unquantified difference must NOT pass any tolerance (exit code 1)
    assert(rep.countsUnknown && !rep.withinTolerance)
    assert(rep.verdict.contains("mismatched buckets"))
  }

  test("empty inputs compare as identical (reference's empty-exit semantics)") {
    val empty = li.where(lit(false))
    val rep = Comparator.compare(empty, empty, CompareOptions(numBuckets = 16))
    assert(rep.identical && rep.srcRows == 0)
  }

  test("estimate-only mode plans without executing") {
    val plan = Comparator.estimate(li, li)
    assert(plan.srcRows == 6000 && plan.tgtRows == 6000)
    assert(plan.numBuckets == 64) // floor at 64 for small inputs
    assert(plan.describe.contains("not executed"))
    // a configured num_buckets overrides the heuristic: the printed
    // plan must match the plan the real run executes
    assert(Comparator.estimate(li, li, numBuckets = Some(512)).numBuckets == 512)
    // without one, the bucket count is compareAuto's: planned from the
    // same statistics, not from the exact counts the plan prints
    assert(Comparator.estimate(li, li, targetRowsPerBucket = 10).numBuckets ==
      Comparator.planBuckets(li, li, 10))
    assert(graft.Main.parseArgs(Array("-e")).estimate)
    assert(graft.Main.parseArgs(Array("--estimate", "-f", "x.yaml")).estimate)
  }

  test("compareSql entry over registered views") {
    GraftSession.registerAll(spark, Sf0001)
    val rep = Comparator.compareSql(spark,
      "SELECT * FROM lineitem WHERE l_orderkey < 100",
      "SELECT * FROM lineitem WHERE l_orderkey < 100")
    assert(rep.identical)
  }

  test("time-budget calibration: probe-derived rows-per-bucket feeds the planner") {
    val a = Comparator.calibrateRowsPerBucket(li, budgetMs = 1000L, sampleRows = 2000L)
    assert(a >= 1000L) // floor: never sillier than 1k rows per bucket
    // a 10× budget at a similar measured rate must not SHRINK the
    // bucket (rate jitter aside, the conversion is linear in budget)
    val b = Comparator.calibrateRowsPerBucket(li, budgetMs = 10000L, sampleRows = 2000L)
    assert(b >= a / 2, s"10x budget produced $b < half of $a")
    val plan = Comparator.estimate(li, li, targetRowsPerBucket = a)
    assert(plan.numBuckets >= 64)
  }

  test("compareAuto planning is scan-free: zero Spark jobs, estimate in range") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    // bind ONE df and resolve its plan first: `li` is a def, and each
    // spark.read.parquet launches a tiny schema-inference job that has
    // nothing to do with planning
    val df = li
    df.queryExecution.optimizedPlan
    spark.sparkContext.addSparkListener(l)
    try {
      val buckets = Comparator.planBuckets(df, df, 1000L)
      Thread.sleep(1000) // listener bus is async; any planning job has finished by now
      assert(jobs.get() == 0, s"planning ran ${jobs.get()} Spark jobs — it must be scan-free")
      assert(buckets >= 64)
      // the stats-based estimate is order-of-magnitude right for a
      // parquet scan (file size / schema width), and is an ESTIMATE —
      // an exact match would mean the count() fallback fired
      val est = Comparator.estimateRows(df)
      val actual = df.count()
      assert(est > actual / 30 && est < actual * 30, s"est=$est actual=$actual")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("cdc: classifies insert/delete/update/unchanged; NULL is not empty-string") {
    import spark.implicits._
    val src = Seq((1L, Option("x"), "p"), (2L, Option("y"), "q"),
      (3L, Option(""), "r"), (4L, Option("z"), "s")).toDF("k", "b", "c")
    val tgt = Seq((1L, Option("x"), "p"), (2L, Option("Y"), "q"),
      (3L, None: Option[String], "r"), (5L, Option("w"), "t")).toDF("k", "b", "c")
    val v = Comparator.cdc(src, tgt, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v == Map(1L -> "unchanged", 2L -> "update",
      3L -> "update", // "" vs NULL must differ — the sentinel's job
      4L -> "delete", 5L -> "insert"))
  }

  test("cdc sampled: verdicts agree with the full audit on every sampled key") {
    import spark.implicits._
    val src = (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
    val tgt = (1L to 400L).filter(_ != 7L)
      .map(i => (i, if (i % 10 == 0) s"w$i" else s"v$i")).toDF("k", "v")
    val full = Comparator.cdc(src, tgt, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val sampled = Comparator.cdcSampled(src, tgt, Seq("k"), fraction = 0.3).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sampled.nonEmpty && sampled.size < full.size)
    // exactness inside the sample: never a spurious insert/delete from
    // a half-sampled pair
    sampled.foreach { case (k, v) => assert(full(k) == v, s"key $k: $v vs ${full(k)}") }
    // deterministic: same fraction+salt -> same keyspace slice
    val again = Comparator.cdcSampled(src, tgt, Seq("k"), fraction = 0.3).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == sampled)
  }

  test("cdc: digest encoding is injective (delimiter injection, null-vs-sentinel)") {
    import spark.implicits._
    // delimiter injection: ("a|b","c") vs ("a","b|c") concatenate
    // identically under any separator-join of raw values; a literal
    // U+0001 value vs NULL collides with an in-band sentinel. Both
    // must classify as 'update'.
    val src = Seq((1L, Option("a|b"), Option("c")),
      (2L, Option(""), Option("z"))).toDF("k", "b", "c")
    val tgt = Seq((1L, Option("a"), Option("b|c")),
      (2L, None: Option[String], Option("z"))).toDF("k", "b", "c")
    val v = Comparator.cdc(src, tgt, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v == Map(1L -> "update", 2L -> "update"))
  }

  test("aligned compare: common-column projection, case-insensitive, exclusions reported") {
    import spark.implicits._
    val src = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "v", "dropped")
    val tgt = Seq((1L, "a", "x"), (2L, "B", "y")).toDF("K", "v", "added")
    val (s, t, srcOnly, tgtOnly) = Comparator.alignSchemas(src, tgt)
    // source's column order, source's names; exclusions per side
    assert(s.columns.toSeq == Seq("k", "v") && t.columns.toSeq == Seq("K", "v"))
    assert(srcOnly == Seq("dropped") && tgtOnly == Seq("added"))
    // the end-to-end audit sees exactly the common-column difference
    val (rep, so, to) = Comparator.compareAligned(src, tgt,
      CompareOptions(numBuckets = 16))
    assert(so == Seq("dropped") && to == Seq("added"))
    assert(rep.srcRows == 2 && rep.tgtRows == 2)
    assert(rep.orphanSrc == 1 && rep.orphanTgt == 1) // only row 2 differs
    rep.release()
    // disjoint schemas refuse loudly instead of vacuously passing
    val disjoint = Seq((1L, 2L)).toDF("x", "y")
    val e = intercept[IllegalArgumentException](
      Comparator.alignSchemas(src, disjoint))
    assert(e.getMessage.contains("no shared columns"))
  }

  test("aligned compare with renames: renamed column is compared, not excluded") {
    import spark.implicits._
    val src = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val renamed = Seq((1L, "a"), (2L, "CHANGED")).toDF("k", "v2")
    val (rep, srcOnly, tgtOnly) = Comparator.compareAligned(
      src, renamed, CompareOptions(numBuckets = 16), renames = Map("v" -> "v2"))
    // v is matched to v2 and COMPARED — the changed row surfaces
    assert(srcOnly.isEmpty && tgtOnly.isEmpty)
    assert(rep.orphanSrc == 1 && rep.orphanTgt == 1)
    rep.release()
    // a rename pointing at a missing target column fails loudly
    val e = intercept[IllegalArgumentException](
      Comparator.compareAligned(src, renamed,
        CompareOptions(numBuckets = 16), renames = Map("v" -> "nope")))
    assert(e.getMessage.contains("no column 'nope'"))
  }
}
