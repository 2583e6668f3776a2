package graft.operators

import graft.GraftSession.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level data-quality profile — the natural companion to the
  * diff engine (the reference compares datasets; profiling is the
  * "what am I even looking at" step that precedes a compare, and the
  * first thing a 100 TB training-data pipeline runs on a new drop).
  *
  * Output is LONG format — one row per column:
  * (column_name, n_rows, n_nulls, n_distinct, min_str, max_str) —
  * so the profile of a 1000-column table is 1000 rows, not a
  * 6000-column monster row, and two profiles can be diffed with the
  * comparator itself.
  *
  * Scale design: everything is ONE global aggregation. With
  * `exact = true` the multi-column COUNT(DISTINCT)s make Catalyst
  * expand the input k× before the shuffle — fine at gate scale and
  * oracle-exact, but at 100 TB use `exact = false`: the HLL sketch
  * (±~2.3%) keeps the plan a genuine single pass with map-side
  * partial aggregation and O(k) state per partition (same trade as
  * q22_approx_distinct).
  */
object Profiler {

  def profile(df: DataFrame, cols: Seq[String] = Nil, exact: Boolean = true): DataFrame = {
    val names = if (cols.nonEmpty) cols else df.columns.toSeq
    val aggs = names.flatMap { n =>
      val c = col(n)
      Seq(
        count(lit(1)).as(s"__rows_$n"),
        count(c).as(s"__nonnull_$n"),
        // rsd 0.01 (not the 0.05 default): ~1% expected error keeps a
        // 5% accuracy contract with real margin at any cardinality,
        // for 4× sketch state — still O(kB) per column
        (if (exact) count_distinct(c) else approx_count_distinct(c, 0.01)).as(s"__nd_$n"),
        min(c).cast("string").as(s"__min_$n"),
        max(c).cast("string").as(s"__max_$n"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = names.map { n =>
      struct(lit(n).as("column_name"),
        col(s"__rows_$n").as("n_rows"),
        (col(s"__rows_$n") - col(s"__nonnull_$n")).as("n_nulls"),
        col(s"__nd_$n").as("n_distinct"),
        col(s"__min_$n").as("min_str"),
        col(s"__max_$n").as("max_str"))
    }
    one.select(explode(array(entries: _*)).as("p")).select("p.*")
  }

  /** Equi-width histogram of a numeric column over [lo, hi): `bins`
    * buckets plus underflow (-1) and overflow (`bins`) rows when
    * present. ONE map-side-combinable aggregation — the 100 TB shape;
    * an exact-quantile histogram would need a sort. Bucket math is
    * integer floor over exact arithmetic: bit-identical cross-engine.
    */
  def histogram(df: DataFrame, c: String, lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0 && hi > lo, "need bins > 0 and hi > lo")
    val width = (hi - lo) / bins
    val x = col(c).cast("double")
    val bucket = when(x < lo, lit(-1L))
      .when(x >= hi, lit(bins.toLong))
      .otherwise(floor((x - lo) / width).cast("long"))
    df.where(x.isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        (lit(lo) + col("bucket") * width).as("bucket_lo"),
        (lit(lo) + (col("bucket") + 1) * width).as("bucket_hi"),
        col("n"))
  }

  /** Distribution DRIFT between two snapshots of the same column — the
    * data-quality signal the exact fingerprint diff
    * ([[graft.diff.FingerprintStore]]) cannot give: not WHETHER the
    * datasets differ but HOW MUCH their distributions moved (schema
    * evolution, upstream filter changes, silent unit changes all show
    * up here before they show up in model metrics).
    *
    * Per shared bucket: both counts and the exact cross-product delta
    * |n_a·N_b − n_b·N_a| in DECIMAL(38,0) — the total-variation
    * numerator kept in exact integer arithmetic (a per-bucket
    * |n_a/N_a − n_b/N_b| double sum would be accumulation-order-
    * dependent). Total variation distance = Σdelta / (2·N_a·N_b),
    * ONE correctly-rounded division at the end ([[histogramDriftTvd]]).
    *
    * Scale shape: one map-side-combinable aggregation per side (the
    * [[histogram]] plan) + a tiny O(buckets) outer join; totals ride
    * in as 1-row broadcast cross joins. Nothing row-sized shuffles.
    */
  /** The drift aggregation stage alone: union-tag both sides, bucket,
    * and count in ONE map-side-combinable aggregation — each input is
    * scanned exactly once, state is O(bins). Split out because this
    * stage is the streamable part: [[graft.streaming.Streaming]]'s
    * drift twin runs exactly this plan over unbounded inputs (the
    * totals/cross_delta finish below needs a second pass over the
    * aggregate, which streaming state cannot nest).
    */
  /** Bucket-and-tag one drift side: (bucket, side) rows, optionally
    * carrying `keep` columns through (the streaming bounded twin keeps
    * its event-time column so a window can ride the same prep).
    * Shared by [[driftBucketCounts]] and
    * [[graft.streaming.Streaming.driftStreamBounded]].
    */
  def driftSideTag(df: DataFrame, c: String, lo: Double, hi: Double,
      bins: Int, tag: Int, keep: Seq[String] = Nil): DataFrame = {
    require(bins > 0 && hi > lo, "need bins > 0 and hi > lo")
    val width = (hi - lo) / bins
    val x = col(c).cast("double")
    df.where(x.isNotNull).select(
      keep.map(col) ++ Seq(
        when(x < lo, lit(-1L)).when(x >= hi, lit(bins.toLong))
          .otherwise(floor((x - lo) / width).cast("long")).as("bucket"),
        lit(tag).as("side")): _*)
  }

  def driftBucketCounts(
      a: DataFrame, b: DataFrame, c: String,
      lo: Double, hi: Double, bins: Int): DataFrame =
    // Missing buckets need no outer join: a bucket seen on one side
    // simply counts 0 on the other.
    driftSideTag(a, c, lo, hi, bins, 0)
      .unionAll(driftSideTag(b, c, lo, hi, bins, 1))
      .groupBy(col("bucket"))
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("n_b"))

  def histogramDrift(
      a: DataFrame, b: DataFrame, c: String,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val j = driftBucketCounts(a, b, c, lo, hi, bins)
    // totals via an unpartitioned whole-frame window — the input here
    // is the aggregated bucket table (≤ bins+2 rows), so the
    // single-partition window costs nothing and avoids re-deriving
    // the counts through a second plan branch
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    j.withColumn("total_a", sum(col("n_a")).over(w))
      .withColumn("total_b", sum(col("n_b")).over(w))
      .select(col("bucket"), col("n_a"), col("n_b"),
        abs(col("n_a").cast(dec) * col("total_b").cast(dec)
          - col("n_b").cast(dec) * col("total_a").cast(dec)).as("cross_delta"))
  }

  /** Total variation distance in [0, 1] from [[histogramDrift]]'s
    * exact per-bucket numerators: Σdelta / (2·N_a·N_b). One row.
    */
  def histogramDriftTvd(
      a: DataFrame, b: DataFrame, c: String,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val d = histogramDrift(a, b, c, lo, hi, bins)
    d.agg(sum(col("cross_delta")).as("num"),
        sum(col("n_a").cast(dec)).as("na"), sum(col("n_b").cast(dec)).as("nb"))
      // exact decimal sums → the one division; big-decimal → double via
      // the string parse (engine-native 128-bit casts are not correctly
      // rounded — the dq_corr lesson)
      .select((col("num").cast("string").cast("double") /
        (lit(2.0) * col("na").cast("string").cast("double")
          * col("nb").cast("string").cast("double"))).as("tvd"))
  }

  /** Exact numeric stats per column: min/max/mean with the mean
    * derived from a DECIMAL(38,6) sum — no float accumulation order in
    * the aggregate, so the result is bit-identical across engines and
    * partitionings (a plain avg() is not). Long format like
    * [[profile]].
    */
  def numericStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val aggs = cols.flatMap { n =>
      val c = col(n).cast("double")
      Seq(
        count(c).as(s"__n_$n"),
        min(c).as(s"__min_$n"),
        max(c).as(s"__max_$n"),
        sum(c.cast(dec)).as(s"__sum_$n"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map { n =>
      struct(lit(n).as("column_name"),
        col(s"__n_$n").as("n"),
        col(s"__min_$n").as("min_val"),
        col(s"__max_$n").as("max_val"),
        // one double rounding (exact-decimal sum → double) then an
        // exact division — engines agree; decimal division would
        // diverge on quotient scale/rounding rules
        (col(s"__sum_$n").cast("double") / col(s"__n_$n")).as("mean_val"))
    }
    one.select(explode(array(entries: _*)).as("p")).select("p.*")
  }

  /** Pearson correlation between numeric column pairs — the
    * "which columns move together" profile that catches derived/leaky
    * columns before a training run, and drift between two drops when
    * diffed.
    *
    * ONE aggregation pass for all pairs (five sums + a count each, all
    * map-side combinable). Cross-engine determinism: inputs are
    * quantized to exact integers (×`scale`, round — the same
    * quantization contract the embedding operators use), the sums are
    * exact DECIMAL(38,0) aggregates with no float accumulation order,
    * each sum is converted ONCE to double, and
    *   r = (n·Σxy − Σx·Σy) / (√(n·Σx² − Σx·Σx) · √(n·Σy² − Σy·Σy))
    * is a fixed tree of IEEE-correctly-rounded ops (+, −, ×, ÷, √ are
    * all exactly rounded), so every engine computes the same bits.
    * The sum→double conversion goes THROUGH THE DECIMAL STRING
    * (`cast(string)` then `cast(double)`): engine-native
    * 128-bit→double casts are not guaranteed correctly rounded (a
    * hugeint may convert hi·2⁶⁴+lo with TWO roundings — measured one
    * ulp off at Σx²≈2.2e19, which catastrophic cancellation in
    * n·Σx²−Σx² then amplified into the result), while every engine's
    * string→double parse is correctly rounded by construction.
    * Zero variance ⇒ r = 0 by convention (avoids the 0/0 NULL-vs-NaN
    * cross-engine trap). DECIMAL(38,0) headroom: cent-scale squares are
    * ~10¹⁵ per row, so ~10²³ more rows fit before overflow — fine at
    * 100 TB.
    */
  def correlation(
      df: DataFrame, pairs: Seq[(String, String)], scale: Int = 100): DataFrame = {
    require(pairs.nonEmpty, "need at least one column pair")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val aggs = pairs.zipWithIndex.flatMap { case ((xn, yn), i) =>
      val both = col(xn).isNotNull && col(yn).isNotNull
      val x = when(both, round(col(xn).cast("double") * scale).cast(dec))
      val y = when(both, round(col(yn).cast("double") * scale).cast(dec))
      Seq(
        count(when(both, lit(1))).as(s"__n_$i"),
        sum(x).as(s"__sx_$i"), sum(y).as(s"__sy_$i"),
        sum(x * x).as(s"__sxx_$i"), sum(y * y).as(s"__syy_$i"),
        sum(x * y).as(s"__sxy_$i"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    def viaString(c: Column): Column = c.cast("string").cast("double")
    val entries = pairs.zipWithIndex.map { case ((xn, yn), i) =>
      val n = col(s"__n_$i").cast("double")
      val sx = viaString(col(s"__sx_$i")); val sy = viaString(col(s"__sy_$i"))
      val sxx = viaString(col(s"__sxx_$i")); val syy = viaString(col(s"__syy_$i"))
      val sxy = viaString(col(s"__sxy_$i"))
      val num = n * sxy - sx * sy
      // clamp: double rounding can drive n·Σx²−(Σx)² epsilon-negative on
      // a near-constant high-magnitude column; Spark's sqrt(-ε) is NaN
      // (guarded to 0 below) but DuckDB's sqrt RAISES on negative input,
      // so without the clamp the oracle aborts where Spark returns 0 —
      // same clamp in corrSql keeps the expression trees identical
      val den = sqrt(greatest(n * sxx - sx * sx, lit(0.0))) *
        sqrt(greatest(n * syy - sy * sy, lit(0.0)))
      struct(lit(xn).as("x_col"), lit(yn).as("y_col"),
        col(s"__n_$i").as("n"),
        when(den > 0, num / den).otherwise(lit(0.0)).as("pearson_r"))
    }
    one.select(explode(array(entries: _*)).as("p")).select("p.*")
  }

  /** Winsorization summary: exact [pLo, pHi] percentile fences for a
    * numeric column plus how the corpus falls against them — the
    * outlier-clipping decision data (how many rows clip, what survives)
    * computed without materializing a clipped copy. Fences ride into
    * the counting pass as a 1-row broadcast; counts are exact integers
    * and the kept-mass sum goes through DECIMAL(18,2) (addition-order-
    * free). The percentile here is Spark's exact interpolated
    * aggregate — at 100 TB swap `approx_percentile` in for the fence
    * computation (the q27 gate covers that sketch's semantics); the
    * clip pass itself is one map-side-combinable aggregation either
    * way.
    */
  def winsorize(df: DataFrame, c: String,
      pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val fences = df.agg(
      expr(s"percentile($c, $pLo)").as("p_lo"),
      expr(s"percentile($c, $pHi)").as("p_hi"))
    val x = col(c).cast("double")
    df.select(x.as("x")).crossJoin(broadcast(fences))
      .agg(
        min(col("p_lo")).as("p_lo"),
        min(col("p_hi")).as("p_hi"),
        sum(when(col("x") < col("p_lo"), 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when(col("x") > col("p_hi"), 1L).otherwise(0L)).as("n_clipped_high"),
        sum(when(col("x").between(col("p_lo"), col("p_hi")), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("x").between(col("p_lo"), col("p_hi")), col("x").cast(dec)))
          .cast("double").as("kept_sum"))
  }

  /** Diff two profiles — the "what changed between drops" report the
    * docs promise ("two profiles are themselves diffable"): run
    * [[profile]] on both snapshots, full-outer join at the
    * column_name grain, surface per-stat pairs and a null-safe
    * bounds-equality verdict. Each side is one aggregation pass over
    * its input; the join runs at the k-columns grain — the whole diff
    * costs two scans regardless of table width or row count.
    */
  def profileDiff(a: DataFrame, b: DataFrame, cols: Seq[String] = Nil,
      exact: Boolean = true): DataFrame = {
    def side(df: DataFrame, s: String) = profile(df, cols, exact)
      .select(col("column_name"),
        col("n_rows").as(s"n_rows_$s"), col("n_nulls").as(s"n_nulls_$s"),
        col("n_distinct").as(s"n_distinct_$s"),
        col("min_str").as(s"min_$s"), col("max_str").as(s"max_$s"))
    side(a, "a").join(side(b, "b"), Seq("column_name"), "full_outer")
      .select(col("column_name"),
        col("n_rows_a"), col("n_rows_b"),
        col("n_nulls_a"), col("n_nulls_b"),
        col("n_distinct_a"), col("n_distinct_b"),
        (col("min_a") <=> col("min_b") && col("max_a") <=> col("max_b"))
          .as("bounds_equal"))
  }

  /** Per-key daily-volume anomaly detection — the monitoring query a
    * pipeline runs over its own event firehose: bucket events to
    * (key, day) counts, score each day against its key's own history
    * with a z-score, flag |z| ≥ `zThreshold`.
    *
    * Scale shape: the raw stream collapses to the (key, day) grain in
    * ONE map-side-combinable count — the only pass that touches the
    * 100 TB input. Everything after runs at the tiny grain (keys ×
    * days): per-key moment sums are a second aggregation over that
    * grain, broadcast back (the stats table is k rows). No window over
    * the raw data, no per-key sort.
    *
    * Determinism contract (the dq_corr precedent): counts are exact
    * integers, so n_days·Σx² − (Σx)² is exact 64-bit arithmetic lifted
    * to double (values ≪ 2⁵³ — sf0.1 peaks at ~10⁸), clamped at 0
    * against rounding on degenerate history, and mean/sd/z come from a
    * fixed tree of correctly-rounded double ops (÷, √, −) identical in
    * both engines. One-day history (sd undefined) scores z = 0.
    */
  def dailyAnomalies(events: DataFrame, ts: Column, key: Column,
      zThreshold: Double = 2.0): DataFrame =
    anomaliesFromGrain(anomalyGrainCounts(events, ts, key), zThreshold)

  /** The one pass over the raw input: collapse to (key, day) counts.
    * Shared verbatim by the streaming twin
    * ([[graft.streaming.Streaming.anomalyGrainStream]]) — the stage
    * that touches 100 TB is the same plan batch or streaming.
    */
  def anomalyGrainCounts(events: DataFrame, ts: Column, key: Column): DataFrame =
    events
      .groupBy(key.as("key"), date_trunc("day", ts).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))

  /** The tiny-grain finish: per-key moment sums + z-scores over the
    * (key, day) count table (O(keys × days) rows). The moments ride a
    * window over the key partition — one shuffle of the tiny grain,
    * no self-join (which would also trip Spark's conflicting-reference
    * analysis when the grain is a named streaming sink table).
    */
  def anomaliesFromGrain(grain: DataFrame, zThreshold: Double = 2.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
    val nd = col("n_days").cast("double")
    val meanN = col("s1").cast("double") / col("n_days")
    val sdN = sqrt(
      greatest(nd * col("s2") - col("s1").cast("double") * col("s1"), lit(0.0))
        / (nd * (col("n_days") - 1)))
    grain
      .withColumn("n_days", count(lit(1)).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .select(col("key"), col("day"), col("n"),
        meanN.as("mean_n"),
        when(col("n_days") > 1, sdN).otherwise(lit(0.0)).as("sd_n"))
      .withColumn("z",
        when(col("sd_n") > 0, (col("n").cast("double") - col("mean_n")) / col("sd_n"))
          .otherwise(lit(0.0)))
      .withColumn("is_anomaly", abs(col("z")) >= zThreshold)
  }

  /** Functional-dependency audit — does determinant → dependent hold?
    * For each (det, dep) pair: how many determinant values exist, how
    * many map to MORE than one dependent value (violations), and the
    * worst fan-out. The schema-semantics check a data drop gets next
    * to [[profile]]: "is this column still a key for that one", the
    * relational cousin of the diff engine's schema gate.
    *
    * One det-grain aggregation per pair (count-distinct at the group
    * grain, then a 1-row rollup) — each pair is a single shuffle of
    * partially-aggregated (det, dep) pairs, and the verdict row is
    * O(1). Exact integers throughout; no floats anywhere.
    */
  def functionalDependencies(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "need at least one (determinant, dependent) pair")
    pairs.map { case (det, dep) =>
      df.groupBy(col(det)).agg(countDistinct(col(dep)).as("n_dep"))
        .agg(
          count(lit(1)).as("n_det_values"),
          sum(when(col("n_dep") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("n_dep")).as("max_distinct"))
        .select(lit(det).as("determinant"), lit(dep).as("dependent"),
          col("n_det_values"), col("n_violating"), col("max_distinct"),
          (col("n_violating") === 0).as("holds"))
    }.reduce(_ unionAll _)
  }

  /** Referential-integrity audit — [[functionalDependencies]]'s
    * cross-table sibling: does every child key exist in the parent?
    * Per relation: distinct child keys, orphan keys, orphan ROWS (the
    * blast radius a broken join would silently drop or null-extend),
    * and the holds verdict.
    *
    * Scale shape: the child collapses to its key grain first (one
    * map-side-combinable count), the parent to distinct keys, and the
    * audit is one key-grain left join — never a row-level join of two
    * 100 TB tables. Exact integers only.
    */
  def referentialIntegrity(relations: Seq[(String, DataFrame, Column, DataFrame, Column)]): DataFrame = {
    require(relations.nonEmpty, "need at least one (label, child, ck, parent, pk)")
    relations.map { case (label, child, ck, parent, pk) =>
      val ckeys = child.groupBy(ck.as("k")).agg(count(lit(1)).as("n_rows"))
      val pkeys = parent.select(pk.as("k")).distinct().withColumn("__p", lit(1))
      ckeys.join(pkeys, Seq("k"), "left")
        .agg(count(lit(1)).as("n_child_keys"),
          sum(when(col("__p").isNull, 1L).otherwise(0L)).as("n_orphan_keys"),
          sum(when(col("__p").isNull, col("n_rows")).otherwise(0L)).as("n_orphan_rows"))
        .select(lit(label).as("relation"), col("n_child_keys"),
          col("n_orphan_keys"), col("n_orphan_rows"),
          (col("n_orphan_keys") === 0).as("ri_holds"))
    }.reduce(_ unionAll _)
  }

  /** Constraint-candidate discovery — the [[profile]] read out as
    * enforceable contracts: a column whose exact distinct count equals
    * its row count with zero nulls is a UNIQUE-key candidate; zero
    * nulls alone is a NOT NULL candidate. The "suggest a schema for
    * this drop" step that feeds the comparator's key choice and the
    * FD audit's determinant list. Same single-aggregation cost as the
    * profile it derives from.
    */
  def constraintCandidates(df: DataFrame, cols: Seq[String] = Nil): DataFrame =
    profile(df, cols).select(col("column_name"),
      (col("n_nulls") === 0 && col("n_distinct") === col("n_rows"))
        .as("unique_candidate"),
      (col("n_nulls") === 0).as("not_null"))

  /** Pre-join cardinality audit — [[keySkew]]'s companion: the EXACT
    * output size `Σ_k n_a(k)·n_b(k)` a join would produce, plus the
    * hottest single key's contribution, computed from the two key
    * histograms WITHOUT running the join. This is the "will this join
    * explode" check a 100 TB pipeline runs before committing a
    * many-to-many join: two map-side-combinable counts at the key
    * grain, one tiny key-grain join, products summed in DECIMAL(38,0)
    * (two billion-row hot sides would overflow a BIGINT).
    */
  def joinCardinality(a: DataFrame, ka: Column, b: DataFrame, kb: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ca = a.groupBy(ka.as("k")).agg(count(lit(1)).as("na"))
    val cb = b.groupBy(kb.as("k")).agg(count(lit(1)).as("nb"))
    val prod = ca.join(cb, "k")
      .select((col("na").cast(dec) * col("nb").cast(dec)).as("p"))
      .agg(coalesce(sum(col("p")), lit(0).cast(dec)).as("n_join_rows"),
        coalesce(max(col("p")), lit(0).cast(dec)).as("max_key_rows"))
    val la = a.agg(count(lit(1)).as("n_left"))
    val lb = b.agg(count(lit(1)).as("n_right"))
    la.crossJoin(lb).crossJoin(prod)
  }

  /** Semi-structured (JSON) schema profile — the "what's actually in
    * this props blob" report: per top-level key and inferred value
    * type, how many rows carry it. This is how schema DRIFT in
    * loosely-typed event payloads is caught (a key appearing, a field
    * flipping int → string) before a typed reader falls over.
    *
    * The JSON parses once per row into a string-keyed map
    * (`from_json` to `MAP<STRING,STRING>` — dynamic keys, so no
    * foldable-path `get_json_object` limitation), keys explode, and
    * one map-side-combinable count runs at the tiny (key, vtype)
    * grain. Type inference is by VALUE SHAPE over the engine-identical
    * extracted text (`^-?[0-9]+$` → int, true/false → bool, else
    * string) — a deliberate heuristic: a quoted "123" classifies as
    * int, which for drift detection is the signal that matters.
    */
  def jsonSchemaProfile(df: DataFrame, j: Column): DataFrame = {
    val m = from_json(j, org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType,
      org.apache.spark.sql.types.StringType))
    df.select(explode(m).as(Seq("key", "v")))
      .groupBy(col("key"),
        when(col("v").rlike("^-?[0-9]+$"), "int")
          .when(col("v").isin("true", "false"), "bool")
          .otherwise("string").as("vtype"))
      .agg(count(lit(1)).as("n"))
  }

  /** Quantile drift between two snapshots — the bound-free companion
    * to [[histogramDrift]]: equi-width histograms need lo/hi chosen up
    * front (wrong bounds ⇒ everything lands in under/overflow), while
    * tail quantiles (p50/p90/p99) track unit changes, truncation, and
    * tail inflation with no prior knowledge of the domain.
    *
    * Gate form computes EXACT interpolated percentiles (cross-engine
    * deterministic, the winsorize contract) AND runs the
    * `approx_percentile` sketch path beside them, reporting a
    * `sketch_ok` bit per quantile (within 5% relative) — the same
    * hash-matchable-while-still-executing-the-sketch trick as
    * `dq_profile_approx`. At 100 TB drop the exact columns: the sketch
    * is one map-side-mergeable pass per side with O(accuracy) state.
    */
  def quantileDrift(a: DataFrame, b: DataFrame, c: String,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    val arr = qs.mkString(", ")
    def side(df: DataFrame, nm: String) = df.agg(
      expr(s"percentile(CAST($c AS DOUBLE), array($arr))").as(s"ex_$nm"),
      expr(s"approx_percentile(CAST($c AS DOUBLE), array($arr), 10000)").as(s"ap_$nm"))
    def ok(ap: Column, ex: Column): Column =
      abs(ap - ex) <= abs(ex) * 0.05 + 1e-9
    val rows = qs.zipWithIndex.map { case (q, i) =>
      struct(lit(q).as("quantile"),
        col("ex_a").getItem(i).as("p_a"),
        col("ex_b").getItem(i).as("p_b"),
        (col("ex_b").getItem(i) - col("ex_a").getItem(i)).as("delta"),
        (ok(col("ap_a").getItem(i), col("ex_a").getItem(i))
          && ok(col("ap_b").getItem(i), col("ex_b").getItem(i))).as("sketch_ok"))
    }
    side(a, "a").crossJoin(side(b, "b"))
      .select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic — the largest gap
    * between the two empirical CDFs, the classic "did this numeric
    * distribution move between drops" test beside [[histogramDriftTvd]]
    * (TVD needs a shared binning; KS is binning-free and catches a
    * pure location shift TVD's coarse bins can smear). One row:
    * (n_a, n_b, ks_ppm, ks_at) with ks_ppm = max_x |F_a(x) − F_b(x)|
    * in exact integer parts-per-million (numerators kept as
    * |c_a·n_b − c_b·n_a| in DECIMAL(38,0) — the lcc_ppm overflow
    * precedent — with ONE integer division at the end) and ks_at the
    * smallest value attaining the max — fully deterministic
    * cross-engine, no float ECDF arithmetic anywhere.
    *
    * The global cumulative counts are the interesting scale problem:
    * a naive `Window.orderBy(v)` ECDF is a SINGLE-PARTITION sort — the
    * one-executor bottleneck this engine bans. Instead the cumsum
    * DECOMPOSES over order-preserving range buckets
    * (`floor(v / bucketWidth)`): per-bucket subtotals aggregate at the
    * bucket grain (tiny — domain/width rows, caller-bounded), their
    * EXCLUSIVE prefix runs on that tiny frame (the histogramDrift
    * single-partition-window precedent: ≤ bins rows, costs nothing)
    * and broadcasts back; within-bucket cumsums then run partitioned
    * BY BUCKET — fully parallel, the per-bucket work bounded by the
    * value density the caller's width implies. Total: two
    * map-side-combinable shuffles + one broadcast join; nothing
    * single-partition ever sees more than the bucket-grain frame.
    *
    * The value-grain count table feeds two consumers (bucket
    * subtotals + the cumsum join), so it is persisted and released
    * after the 1-row result materializes (eager, like the graph
    * wrappers) — the thresholdSweep one-traversal rule. Empty sides
    * yield a null ks_ppm (division by a zero total), not an error.
    */
  def ksDrift(a: DataFrame, b: DataFrame, c: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, "need bucketWidth > 0")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def side(df: DataFrame, tag: Int) =
      df.select(col(c).cast("double").as("v")).where(col("v").isNotNull)
        .select(col("v"), lit(tag).as("side"))
    val vg = side(a, 0).unionAll(side(b, 1))
      .groupBy(col("v"))
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("n_b"))
      .withColumn("bucket", floor(col("v") / bucketWidth).cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val wPrefix = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val buckets = vg.groupBy(col("bucket"))
      .agg(sum(col("n_a")).as("ba"), sum(col("n_b")).as("bb"))
      .select(col("bucket"),
        coalesce(sum(col("ba")).over(wPrefix), lit(0L)).as("off_a"),
        coalesce(sum(col("bb")).over(wPrefix), lit(0L)).as("off_b"),
        sum(col("ba")).over(wAll).as("total_a"),
        sum(col("bb")).over(wAll).as("total_b"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gaps = vg.join(broadcast(buckets), Seq("bucket"))
      .select(col("v"), col("total_a"), col("total_b"),
        (sum(col("n_a")).over(wIn) + col("off_a")).as("c_a"),
        (sum(col("n_b")).over(wIn) + col("off_b")).as("c_b"))
      .select(col("v"), col("total_a"), col("total_b"),
        abs(col("c_a").cast(dec) * col("total_b").cast(dec)
          - col("c_b").cast(dec) * col("total_a").cast(dec)).as("gap"))
    val out = gaps
      .agg(max(col("gap")).as("gmax"),
        min(struct((-col("gap")).as("ng"), col("v").as("v"))).as("am"),
        max(col("total_a")).as("n_a"), max(col("total_b")).as("n_b"))
      .select(col("n_a"), col("n_b"),
        expr("gmax * 1000000 DIV (CAST(n_a AS DECIMAL(38,0)) * n_b)")
          .as("ks_ppm"),
        col("am.v").as("ks_at"))
      .localCheckpoint() // eager: 1 row — materialize, then drop the cache
    vg.unpersist(blocking = false)
    out
  }

  /** Join-key skew audit — the report a 100 TB pipeline runs BEFORE a
    * big join to decide whether it needs salting
    * ([[graft.operators.Skew]]) or an AQE skew-join hint. Per key:
    * row count, `share_ppm` (exact integer parts-per-million of the
    * table), and `hot_x1000` (the key's share relative to a uniform
    * spread over the observed distinct keys, ×1000 — 1000 = perfectly
    * uniform, 50000 = this key is 50× hotter than uniform and will
    * dominate whatever partition it lands on).
    *
    * Scale shape: ONE map-side-combinable count at the key grain;
    * totals are a second aggregation over that tiny grain riding back
    * in as a 1-row broadcast; the top-k is orderBy+limit on the key
    * grain, which Spark executes as TakeOrderedAndProject (per-
    * partition partial top-k, no global sort shuffle). All ratios are
    * integer `div` — bit-identical cross-engine.
    */
  def keySkew(df: DataFrame, key: Column, topK: Int = 10): DataFrame = {
    require(topK > 0, "need topK > 0")
    val perKey = df.groupBy(key.cast("string").as("key_value"))
      .agg(count(lit(1)).as("n"))
    val totals = perKey.agg(
      sum(col("n")).as("total"), count(lit(1)).as("n_keys"))
    // products widen to DECIMAL(38,0) before the div: n · n_keys · 1000
    // wraps BIGINT at the scales this report targets (1e10-row hot key
    // × 1e7 keys) — silently under non-ANSI Spark, where DuckDB's //
    // would error; same guard joinCardinality uses. `div` of decimals
    // returns BIGINT, matching the oracle's CAST.
    perKey.crossJoin(broadcast(totals))
      .select(col("key_value"), col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * 1000000 DIV total").as("share_ppm"),
        expr("CAST(n AS DECIMAL(38,0)) * n_keys * 1000 DIV total").as("hot_x1000"))
      .orderBy(col("n").desc, col("key_value"))
      .limit(topK)
  }

  /** Value-CONCENTRATION profile — per categorical column, how
    * dominated it is by few values: distinct count, the top value's
    * exact share (ppm), and the GINI IMPURITY 1 − Σ(cᵢ/n)² — the
    * single-number concentration measure that needs no logarithm, so
    * unlike an entropy profile it is exact rational arithmetic both
    * engines reproduce bit-for-bit (counts and their squares are
    * integers; the one double division is correctly rounded the same
    * everywhere). Gini 0 = one value everywhere (a constant column
    * posing as categorical); near 1 − 1/k = uniform over k values.
    * The report a mixture designer reads next to [[keySkew]]: skew
    * ranks hot keys, this scores whole columns.
    *
    * Scale shape: ONE scan — the profiled columns unpivot in a single
    * codegen'd explode — then two stacked map-side-combinable
    * aggregations ((column, value) grain, then column grain). Squares
    * ride as DECIMAL(38,0) (a 10¹⁰-row hot value squares past BIGINT,
    * the [[keySkew]] precedent); the output is `cols.size` rows.
    */
  def concentration(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val pairs = df.select(explode(array(cols.map(n =>
      struct(lit(n).as("column_name"), col(n).cast("string").as("v"))): _*))
      .as("p")).select("p.*")
    pairs.groupBy(col("column_name"), col("v"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("column_name"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(col("c")).as("n_rows"),
        max(col("c")).as("top_count"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("__ss"))
      .select(col("column_name"), col("n_distinct"), col("n_rows"),
        col("top_count"),
        expr("CAST(top_count AS DECIMAL(38,0)) * 1000000 DIV n_rows")
          .as("top_share_ppm"),
        (lit(1.0) - col("__ss").cast("double") /
          (col("n_rows").cast("double") * col("n_rows").cast("double")))
          .as("gini"))
  }

  /** EQUI-DEPTH histogram — [[histogram]]'s bound-free sibling: bucket
    * BOUNDARIES are the exact 1/b..(b−1)/b quantiles of the data, so
    * every bucket holds ≈ n/b rows however skewed the distribution
    * (the report an optimizer or a drift monitor wants when fixed
    * bounds would pile 99% of the mass into one bucket). Output per
    * bucket: row count + observed min/max (the realized bounds).
    *
    * Cost: one exact-percentile aggregation (all b−1 quantiles ride
    * ONE `percentile` call) broadcast back as a (b−1)-element array
    * literal, then one map-side-combinable count — two passes, no
    * global sort. At 100 TB swap the boundary pass to
    * `approx_percentile` for a genuine single-shuffle sketch; the gate
    * uses the exact form because DuckDB's `quantile_cont` matches
    * Spark's exact `percentile` bit-for-bit, so bucket assignment
    * (strict `boundary < x` on both engines) cannot diverge.
    */
  def histogramEquiDepth(df: DataFrame, c: String, buckets: Int): DataFrame = {
    require(buckets >= 2, "need buckets >= 2")
    val x = col(c).cast("double")
    val bounds = df.where(x.isNotNull)
      .agg(expr(s"percentile(CAST($c AS DOUBLE), array(${
        (1 until buckets).map(i => s"${i.toDouble / buckets}").mkString(",")}))")
        .as("bs"))
    df.where(x.isNotNull).crossJoin(broadcast(bounds))
      .select(x.as("x"), size(filter(col("bs"), b => b < x)).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("x")).as("x_min"), max(col("x")).as("x_max"))
  }

  /** Grouped exact quantiles — per-group p50/p90/… in ONE aggregation
    * (all quantiles ride a single `percentile(col, array(…))` call per
    * group, so the pass costs one shuffle at the group grain however
    * many quantiles are asked). The per-segment latency/spend
    * dashboard shape; at 100 TB swap `percentile` for
    * `approx_percentile` exactly like [[quantileDrift]]'s sketch path
    * — same plan, sketch state.
    */
  def groupQuantiles(df: DataFrame, group: Column, c: String,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q < 1), "quantiles in (0,1)")
    df.where(col(c).isNotNull)
      .groupBy(group.as("grp"))
      .agg(expr(s"percentile(CAST($c AS DOUBLE), array(${qs.mkString(",")}))")
        .as("__q"))
      .select(col("grp") +: qs.zipWithIndex.map { case (q, i) =>
        element_at(col("__q"), i + 1).as(s"p${math.round(q * 100)}")
      }: _*)
  }

  /** Corpus dataset card — the one-row summary a dataset ships with
    * (the Datasheets-for-Datasets headline numbers): volume (docs,
    * chars, whitespace tokens), composition breadth (distinct
    * sources/languages), concentration (top source's exact ppm share
    * — the "is this corpus secretly one website" number), and shape
    * (mean/max doc length). ONE aggregation pass; the top-source
    * share reuses the struct-max trick over the tiny source grain, so
    * nothing is collected and no second scan exists.
    */
  def datasetCard(docs: DataFrame): DataFrame = {
    val perSource = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val top = perSource.agg(
      max(struct(col("n"), col("source"))).as("top"),
      count(lit(1)).as("n_sources"),
      sum(col("n")).as("n_docs"))
    val body = docs.agg(
      sum(length(col("text"))).as("total_chars"),
      sum(size(Tokens.of(col("text")))).as("total_tokens"),
      count_distinct(col("lang")).as("n_langs"),
      max(length(col("text"))).cast("long").as("max_doc_chars"))
    body.crossJoin(broadcast(top))
      .select(col("n_docs"), col("n_sources"), col("n_langs"),
        col("total_chars").cast("long").as("total_chars"),
        col("total_tokens").cast("long").as("total_tokens"),
        expr("total_chars DIV n_docs").as("mean_doc_chars"),
        col("max_doc_chars"),
        col("top.source").as("top_source"),
        expr("top.n * 1000000 DIV n_docs").as("top_source_ppm"))
  }

  /** Key-continuity audit — for a column that SHOULD be a dense
    * sequence (ingest offsets, surrogate keys, event ids), the
    * gaps-and-duplicates report: span vs distinct count gives the
    * exact missing-id count, row count vs distinct the duplicate
    * count. The five-second answer to "did the loader drop a range or
    * double-deliver" that otherwise needs an anti-join against a
    * generated series (which at 100 TB is a second giant input). ONE
    * aggregation pass, all exact integers; NULL keys surface in their
    * own column rather than silently vanishing from the span.
    */
  def sequenceGaps(df: DataFrame, c: String): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      count(col(c)).as("n_nonnull"),
      count_distinct(col(c)).as("n_distinct"),
      min(col(c)).cast("long").as("min_key"),
      max(col(c)).cast("long").as("max_key"))
      .select(col("n_rows"), col("n_nonnull"), col("n_distinct"),
        col("min_key"), col("max_key"),
        (col("n_rows") - col("n_nonnull")).as("n_null"),
        (col("max_key") - col("min_key") + 1 - col("n_distinct")).as("n_missing"),
        (col("n_nonnull") - col("n_distinct")).as("n_dups"))

  /** Missingness-pattern profile — which NULL COMBINATIONS occur and
    * how often: per-column null counts ([[profile]]) can't distinguish
    * "custkey and totalprice are null on the SAME rows" (one broken
    * upstream join) from independent 1% drips; the pattern bitmask
    * can, and is the standard MCAR-vs-systematic screening view. One
    * map-side-combinable count at the ≤ 2^cols pattern grain.
    */
  def nullPatterns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val mask = concat(cols.map(c =>
      when(col(c).isNull, lit("1")).otherwise(lit("0"))): _*)
    df.groupBy(mask.as("pattern"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(df.agg(count(lit(1)).as("total"))))
      .select(col("pattern"), col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * 1000000 DIV total").as("share_ppm"))
  }

  /** Weekly seasonality profile — volume by (day-of-week, hour): the
    * baseline grid [[dailyAnomalies]]-style monitors compare against
    * (traffic has a weekly pulse; a flat z-score fence over raw daily
    * volume false-alarms every weekend). One map-side-combinable count
    * at the 168-cell grain + a 1-row broadcast total; share in exact
    * integer ppm. `dow` is 0=Sunday..6 (Spark's `dayofweek` − 1,
    * matching SQL EXTRACT(DOW)).
    */
  def weeklyProfile(df: DataFrame, ts: Column): DataFrame =
    df.where(ts.isNotNull)
      .groupBy((dayofweek(ts) - 1).cast("long").as("dow"),
        hour(ts).cast("long").as("hr"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(
        df.where(ts.isNotNull).agg(count(lit(1)).as("total"))))
      .select(col("dow"), col("hr"), col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * 1000000 DIV total").as("share_ppm"))

  /** Per-stream freshness/staleness report — the ingestion-health
    * dashboard row every feed-driven warehouse checks first: for each
    * key (a source, a topic, an event type), the last-seen timestamp,
    * its lag in whole seconds behind the freshest key, and a stale
    * flag at `staleSec`. ONE input scan, structurally: the corpus max
    * is a global window over the KEY-GRAIN frame — the raw input is
    * aggregated once and the max-of-maxima never touches it again (a
    * crossJoin of a re-aggregation reads the plan tree twice; Catalyst
    * does not reuse the exchange across the two branches — measured,
    * and spec-asserted as a single scan). The unpartitioned window is
    * over #keys rows (a handful of sources/topics), the same
    * bounded-k shape as the Zipf head window — integer second
    * arithmetic, cross-engine exact. A silently-dead upstream shows
    * up here hours before any volume-anomaly z-score can accumulate
    * evidence.
    */
  def freshness(df: DataFrame, key: Column, ts: Column,
      staleSec: Long = 3600L): DataFrame =
    freshnessFinish(freshnessPerKey(df, key, ts), staleSec)

  /** The key-grain aggregate freshness reduces to — ALSO the exact
    * shape a streaming twin maintains in state (one (last_seen, n)
    * row per key, updated per micro-batch; see
    * [[graft.streaming.Streaming.freshnessStream]]), so batch and
    * stream share [[freshnessFinish]] verbatim.
    */
  def freshnessPerKey(df: DataFrame, key: Column, ts: Column): DataFrame =
    df.where(ts.isNotNull)
      .groupBy(key.as("key"))
      .agg(max(ts).as("last_seen"), count(lit(1)).as("n"))

  /** Stateless finish over the key-grain frame: corpus max as a
    * global window over the #keys rows (the Zipf-head bounded-k
    * shape), lag in whole seconds, stale flag.
    */
  def freshnessFinish(perKey: DataFrame, staleSec: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    perKey
      .withColumn("corpus_max",
        max(col("last_seen")).over(Window.partitionBy()))
      .select(col("key"), col("last_seen"), col("n"),
        (unix_timestamp(col("corpus_max")) - unix_timestamp(col("last_seen")))
          .as("lag_sec"))
      .withColumn("stale", col("lag_sec") >= staleSec)
  }

  /** Benford's-law first-digit audit — the classic "were these
    * numbers generated or measured" data-quality screen (fabricated,
    * truncated, or unit-mangled amount columns drift from the
    * log-uniform first-digit distribution real multiplicative data
    * follows). Per digit 1..9: observed count, observed ppm, expected
    * Benford ppm (⌊log10(1+1/d)·10⁶⌋ as integer LITERALS — no float
    * log in either engine), and the absolute deviation.
    *
    * The digit comes from the STRING of the floored integer part —
    * arithmetic `floor(x / 10^floor(log10 x))` would hit
    * correctly-rounded-log10 edge cases near powers of ten and
    * diverge cross-engine; integer-to-string is exact everywhere.
    * Rows with |x| < 1 are excluded (no leading digit). One
    * map-side-combinable aggregation at the 9-row digit grain.
    */
  def benford(df: DataFrame, c: String): DataFrame = {
    val expected = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
      66946L, 57991L, 51152L, 45757L) // floor(log10(1+1/d) * 1e6)
    val whole = abs(col(c).cast("double"))
    val digit = substring(floor(whole).cast("long").cast("string"), 1, 1).cast("long")
    val counts = df
      // upper bound is 2^63 (not Double.MaxValue): the digit extraction
      // casts floor(whole) to LONG, which saturates to Long.MaxValue for
      // |x| >= 2^63 under non-ANSI Spark (digit misreported as 9) and
      // ERRORS under ANSI Spark / the DuckDB oracle — exactly the
      // cross-engine divergence this guard exists to exclude. NaN fails
      // both comparisons; 9.223372036854776e18 is exactly 2^63 in
      // binary64, and `<` keeps every double whose floor fits a long.
      .where(col(c).isNotNull && whole >= 1.0 && whole < 9.223372036854776e18)
      .groupBy(digit.as("digit"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    val exp = expected.zipWithIndex
      .map { case (ppm, i) => struct(lit(i + 1L).as("digit"), lit(ppm).as("expected_ppm")) }
    val expDf = df.sparkSession.range(1).select(
        explode(array(exp: _*)).as("e"))
      .select(col("e.digit").as("digit"), col("e.expected_ppm").as("expected_ppm"))
    counts.crossJoin(broadcast(total))
      .join(broadcast(expDf), Seq("digit"))
      .select(col("digit"), col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * 1000000 DIV total").as("observed_ppm"),
        col("expected_ppm"),
        abs(expr("CAST(n AS DECIMAL(38,0)) * 1000000 DIV total")
          - col("expected_ppm")).as("deviation_ppm"))
  }

  /** Count-min sketch twin of [[keySkew]] — the 100 TB path when even
    * one row per DISTINCT key is too much shuffle state: the sketch
    * aggregates in O(depth·width) constant memory per partition and
    * merges associatively, so the key-count pass never materializes
    * the key grain. Like [[profile]]'s `exact = false` gate row, the
    * output carries the EXACT top-k values (hash-matchable
    * cross-engine) plus a `sketch_ok` bit asserting the CMS estimate
    * landed inside its one-sided guarantee (never under, ≤ exact +
    * eps·N at the given confidence) — the sketch path genuinely
    * executes, the gate stays bit-stable.
    *
    * Driver state: one serialized sketch + topK annotated rows —
    * the kmeans-centroid bounded-collect pattern.
    */
  def keySkewSketch(df: DataFrame, key: Column, topK: Int = 10,
      eps: Double = 1e-4, conf: Double = 0.99): DataFrame = {
    val agg = df.agg(
      count_min_sketch(key.cast("string"), lit(eps), lit(conf), lit(42)).as("sk"),
      count(lit(1)).as("n")).head()
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(agg.getAs[Array[Byte]](0)))
    val slack = math.ceil(eps * agg.getLong(1)).toLong
    val rows = keySkew(df, key, topK).collect().toSeq // ≤ topK rows
    val sp = df.sparkSession
    import sp.implicits._
    rows.map { x =>
      // a NULL key never entered the sketch (agg inputs skip nulls):
      // est 0 under its exact count reads as an honest sketch_ok=false
      val est = Option(x.getString(0)).map(cms.estimateCount(_)).getOrElse(0L)
      (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        est >= x.getLong(1) && est <= x.getLong(1) + slack)
    }.toDF("key_value", "n", "share_ppm", "hot_x1000", "sketch_ok")
      .orderBy(col("n").desc, col("key_value"))
  }

  /** Sketched join-size estimate — [[joinCardinality]]'s constant-
    * state twin via the classic count-min INNER PRODUCT: hash each
    * side's keys into `depth` independent rows of `width` buckets
    * (one explode + one map-side-combinable count, ≤ depth·width rows
    * of state per side regardless of key cardinality), then
    * estimate Σ_k na(k)·nb(k) as min over rows of the bucket-count dot
    * product. Never underestimates; a row's expected overshoot is
    * ≤ n_left·n_right / width, and the min over `depth` rows
    * concentrates it. The gate row carries the EXACT histogram values
    * plus a `sketch_ok` bit checking the estimate against
    * exact ≤ est ≤ exact + 3·n_left·n_right/width.
    */
  def joinCardinalitySketch(a: DataFrame, ka: Column, b: DataFrame, kb: Column,
      width: Int = 65536, depth: Int = 4): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def cmTable(df: DataFrame, k: Column, cnt: String): DataFrame = {
      val rb = (0 until depth).map { i =>
        struct(lit(i).as("row"),
          pmod(xxhash64(lit(i), k.cast("string")), lit(width.toLong)).as("bucket"))
      }
      df.select(explode(array(rb: _*)).as("rb"))
        .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
        .agg(count(lit(1)).as(cnt))
    }
    val est = cmTable(a, ka, "ca").join(cmTable(b, kb, "cb"), Seq("row", "bucket"))
      .groupBy(col("row"))
      .agg(sum(col("ca").cast(dec) * col("cb").cast(dec)).as("dot"))
      .agg(coalesce(min(col("dot")), lit(0).cast(dec)).as("est"))
    joinCardinality(a, ka, b, kb).crossJoin(broadcast(est))
      .select(col("n_left"), col("n_right"),
        col("n_join_rows").cast("long").as("n_join_rows"),
        col("max_key_rows").cast("long").as("max_key_rows"),
        (col("est") >= col("n_join_rows") &&
          col("est").cast("double") <= col("n_join_rows").cast("double")
            + lit(3.0) * col("n_left") * col("n_right") / lit(width.toDouble))
          .as("sketch_ok"))
  }

  /** Robust outlier stats via the median absolute deviation — the
    * z-score's ([[dailyAnomalies]]) breakdown-resistant sibling: one
    * corrupt upstream batch can drag a mean/stddev fence arbitrarily
    * far, but the MAD fence moves only when >50% of the data does.
    *
    * Exact form is inherently multi-pass (median → MAD needs the
    * median first): pass 1 exact `percentile(x, 0.5)`, pass 2
    * `percentile(|x − med|, 0.5)` with the 1-row median broadcast,
    * pass 3 counts rows beyond `med ± k·mad`. [[madOutliersApprox]] is
    * the 100 TB form — both percentiles as `approx_percentile`, sketch
    * passes with bounded state — same trade as [[profile]]'s
    * `exact = false`. The fence arithmetic is one fixed
    * double expression tree (`k * mad`, no reassociation), so the
    * verdict is bit-identical cross-engine.
    */
  def madOutliers(df: DataFrame, c: String, k: Double = 3.0): DataFrame = {
    require(k > 0, "need k > 0")
    val x = col(c).cast("double")
    val med = df.agg(expr(s"percentile(CAST($c AS DOUBLE), 0.5)").as("med"))
    val dev = df.select(x.as("x")).crossJoin(broadcast(med))
      .select(col("x"), col("med"), abs(col("x") - col("med")).as("dev"))
    val mad = dev.agg(expr("percentile(dev, 0.5)").as("mad"),
      min(col("med")).as("med"))
    dev.select(col("x"), col("med"), col("dev")).crossJoin(broadcast(mad.select(col("mad"))))
      .agg(
        min(col("med")).as("median"),
        min(col("mad")).as("mad"),
        count(lit(1)).as("n"),
        sum(when(col("dev") > lit(k) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Sketch form of [[madOutliers]] — the same three-pass shape with
    * both exact percentiles swapped for `approx_percentile` (KLL-style
    * bounded sketch state per pass instead of the exact percentile's
    * hold-every-value aggregation buffer): the 100 TB path the exact
    * form's scaladoc promises. `accuracy` is Spark's approx_percentile
    * knob (error ≤ 1/accuracy of rank).
    */
  def madOutliersApprox(df: DataFrame, c: String, k: Double = 3.0,
      accuracy: Int = 10000): DataFrame = {
    require(k > 0, "need k > 0")
    val x = col(c).cast("double")
    val med = df.agg(
      expr(s"approx_percentile(CAST($c AS DOUBLE), 0.5, $accuracy)").as("med"))
    val dev = df.select(x.as("x")).crossJoin(broadcast(med))
      .select(col("x"), col("med"), abs(col("x") - col("med")).as("dev"))
    val mad = dev.agg(expr(s"approx_percentile(dev, 0.5, $accuracy)").as("mad"))
    dev.crossJoin(broadcast(mad))
      .agg(
        min(col("med")).as("median"),
        min(col("mad")).as("mad"),
        count(lit(1)).as("n"),
        sum(when(col("dev") > lit(k) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Gate twin pairing [[madOutliers]] with [[madOutliersApprox]] —
    * the dq_qdrift / dq_skew_sketch rule: the row carries the EXACT
    * values (hash-matchable cross-engine) plus a `sketch_ok` bit
    * asserting the sketch path genuinely executed and landed inside
    * tolerance (median/MAD within `relTol` relative, outlier count
    * within max(5, relTol·n) absolute — the fence is a threshold, so
    * a sketch-moved fence flips only boundary rows).
    */
  def madOutliersSketch(df: DataFrame, c: String, k: Double = 3.0,
      relTol: Double = 0.05): DataFrame = {
    val a = madOutliersApprox(df, c, k).select(
      col("median").as("amed"), col("mad").as("amad"),
      col("n_outliers").as("aout"))
    def close(e: org.apache.spark.sql.Column, g: org.apache.spark.sql.Column) =
      abs(g - e) <= lit(relTol) * greatest(abs(e), lit(1.0))
    madOutliers(df, c, k).crossJoin(broadcast(a))
      .select(col("median"), col("mad"), col("n"), col("n_outliers"),
        (close(col("median"), col("amed")) && close(col("mad"), col("amad")) &&
          abs(col("aout") - col("n_outliers")).cast("double")
            <= greatest(lit(5.0), lit(relTol) * col("n").cast("double")))
          .as("sketch_ok"))
  }

  // ---------------------------------------------------------------- gate

  private val OrdersCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_profile" -> ((s, dir) =>
      profile(table(s, dir, "orders")).orderBy("column_name")),

    // The 100 TB path (exact=false): HLL sketches keep the profile a
    // genuine single pass with O(k) state. The sketch estimate is
    // engine-private, so — like q22_approx_distinct — the gate row
    // carries the EXACT distinct count plus a `sketch_ok` bit
    // asserting the HLL estimate landed within 5% of it: hash-
    // matchable cross-engine while still executing the sketch path.
    "dq_profile_approx" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val approx = profile(o, exact = false)
        .select(col("column_name"), col("n_distinct").as("nd_approx"))
      profile(o)
        .join(approx, Seq("column_name"))
        .select(col("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"),
          (abs(col("nd_approx").cast("double") - col("n_distinct")) / col("n_distinct") <= 0.05)
            .as("sketch_ok"))
        .orderBy("column_name")
    }),

    // Equi-width histogram over order value: one aggregation, fixed
    // bounds (the streaming/100 TB-friendly shape — no quantile sort)
    "dq_histogram" -> ((s, dir) =>
      histogram(table(s, dir, "orders"), "o_totalprice", 0.0, 600000.0, 12)
        .orderBy("bucket")),

    // Equi-depth variant: exact-quantile boundaries, ~n/8 rows each
    "dq_histogram_eqdepth" -> ((s, dir) =>
      histogramEquiDepth(table(s, dir, "orders"), "o_totalprice", 8)
        .orderBy("bucket")),

    // Benford first-digit screen over order value
    "dq_benford" -> ((s, dir) =>
      benford(table(s, dir, "orders"), "o_totalprice").orderBy("digit")),

    // weekly (dow x hour) volume grid with exact ppm shares
    "dq_weekly" -> ((s, dir) =>
      weeklyProfile(table(s, dir, "events"), col("ts")).orderBy("dow", "hr")),

    // per-event-type ingestion freshness: last_seen, lag vs freshest,
    // stale flag at 1h
    "dq_freshness" -> ((s, dir) =>
      freshness(table(s, dir, "events"), col("event_type"), col("ts"))
        .orderBy("key")),

    // per-event-type exact value quantiles, one aggregation
    "dq_group_quantiles" -> ((s, dir) =>
      groupQuantiles(table(s, dir, "events"), col("event_type"), "value",
        Seq(0.5, 0.9, 0.99)).orderBy("grp")),

    // missingness patterns over a frame with PLANTED correlated nulls
    // o_orderkey is deliberately sparse in TPC-H (≈1/4 of its span is
    // populated) — the gap count is large and meaningful, dups zero
    "dq_seq_gaps" -> ((s, dir) =>
      sequenceGaps(table(s, dir, "orders"), "o_orderkey")),

    // the corpus headline numbers in one pass
    "dq_dataset_card" -> ((s, dir) =>
      datasetCard(table(s, dir, "documents"))),

    // (custkey+totalprice null together every 7th order, priority null
    // independently every 11th) — the correlation is visible as its
    // own pattern row
    "dq_null_pattern" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val planted = o.select(
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit(null))
          .otherwise(col("o_custkey")).as("o_custkey"),
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit(null))
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        when(pmod(col("o_orderkey"), lit(11)) === 0, lit(null))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"))
      nullPatterns(planted, Seq("o_custkey", "o_totalprice", "o_orderpriority"))
        .orderBy("pattern")
    }),

    // Exact numeric stats: mean via DECIMAL(38,6) sums — deterministic
    // across engines and partitionings, unlike a float avg()
    "dq_numeric" -> ((s, dir) =>
      numericStats(table(s, dir, "orders"), Seq("o_custkey", "o_totalprice"))
        .orderBy("column_name")),

    // Distribution drift between two deterministic snapshot halves of
    // orders (even vs odd orderkey): per-bucket counts + exact
    // cross-product TV numerators. The test-scale numerators fit BIGINT
    // for the gate hash; the operator keeps DECIMAL(38,0) for scale.
    "dq_winsorize" -> ((s, dir) =>
      winsorize(table(s, dir, "orders"), "o_totalprice")),

    "dq_drift" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      histogramDrift(
        o.where(pmod(col("o_orderkey"), lit(2)) === 0),
        o.where(pmod(col("o_orderkey"), lit(2)) === 1),
        "o_totalprice", 0.0, 600000.0, 12)
        .select(col("bucket"), col("n_a"), col("n_b"),
          col("cross_delta").cast("long").as("cross_delta"))
        .orderBy("bucket")
    }),

    // The one-row total-variation summary of the same drift
    "dq_drift_tvd" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      histogramDriftTvd(
        o.where(pmod(col("o_orderkey"), lit(2)) === 0),
        o.where(pmod(col("o_orderkey"), lit(2)) === 1),
        "o_totalprice", 0.0, 600000.0, 12)
    }),

    // Binning-free drift: exact two-sample KS over the order-price
    // distribution, 1995 vs 1996 — integer-ppm, argmin tie-break
    "dq_ks" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      ksDrift(
        o.where(year(col("o_orderdate")) === 1995),
        o.where(year(col("o_orderdate")) === 1996),
        "o_totalprice", bucketWidth = 10000.0)
    }),

    // Pearson correlation over cent-quantized lineitem measures: one
    // pass, exact integer sums, fixed double expression tree
    "dq_corr" -> ((s, dir) =>
      correlation(table(s, dir, "lineitem"), CorrPairs)
        .orderBy("x_col", "y_col")),

    // Daily event-volume anomalies per event type (z-score vs the
    // type's own 30-day history)
    "dq_anomaly" -> ((s, dir) =>
      dailyAnomalies(table(s, dir, "events"), col("ts"), col("event_type"))
        .orderBy("key", "day")),

    // Functional-dependency audit over part: the key FD holds, the
    // name->type and brand->type FDs are violated (shared vocab)
    "dq_fd" -> ((s, dir) =>
      functionalDependencies(table(s, dir, "part"), FdPairs)
        .orderBy("determinant", "dependent")),

    // cross-table referential integrity: the lineitem->orders FK holds;
    // events.user_id against an even-keys-only parent is violated
    "dq_ri" -> ((s, dir) => {
      val cust = table(s, dir, "customer")
      referentialIntegrity(Seq(
        ("lineitem.l_orderkey -> orders",
          table(s, dir, "lineitem"), col("l_orderkey"),
          table(s, dir, "orders"), col("o_orderkey")),
        ("events.user_id -> customer(even)",
          table(s, dir, "events"), col("user_id"),
          cust.where(pmod(col("c_custkey"), lit(2)) === 0), col("c_custkey"))))
        .orderBy("relation")
    }),

    // profile read as contracts: unique-key / not-null candidates
    "dq_constraints" -> ((s, dir) =>
      constraintCandidates(table(s, dir, "orders")).orderBy("column_name")),

    // exact join-output size from the two key histograms, no join run
    "dq_join_est" -> ((s, dir) =>
      joinCardinality(
        table(s, dir, "lineitem"), col("l_orderkey"),
        table(s, dir, "orders"), col("o_orderkey"))
        .select(col("n_left"), col("n_right"),
          col("n_join_rows").cast("long").as("n_join_rows"),
          col("max_key_rows").cast("long").as("max_key_rows"))),

    // JSON schema profile over a planted variant payload (base fields
    // always present; cents on every 3rd event, a bool on every 5th)
    "dq_json_schema" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val planted = concat(
        lit("{\"uid\": "), col("user_id"),
        lit(", \"t\": \""), col("event_type"), lit("\""),
        when(pmod(col("event_id"), lit(3)) === 0,
          concat(lit(", \"cents\": "),
            round(col("value") * 100).cast("long"))).otherwise(lit("")),
        when(pmod(col("event_id"), lit(5)) === 0,
          concat(lit(", \"vip\": "),
            (pmod(col("user_id"), lit(2)) === 0).cast("string"))).otherwise(lit("")),
        lit("}"))
      jsonSchemaProfile(ev.select(planted.as("j")), col("j"))
        .orderBy("key", "vtype")
    }),

    // Bound-free quantile drift between the two snapshot halves, with
    // the sketch path executed beside the exact gate values
    "dq_qdrift" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      quantileDrift(
        o.where(pmod(col("o_orderkey"), lit(2)) === 0),
        o.where(pmod(col("o_orderkey"), lit(2)) === 1),
        "o_totalprice")
        .orderBy("quantile")
    }),

    // Pre-join skew audit: hottest event users by exact ppm share
    "dq_skew" -> ((s, dir) =>
      keySkew(table(s, dir, "events"), col("user_id"), topK = 10)),

    // Column-level concentration: distinct counts, exact top share,
    // gini impurity — one row per profiled categorical column
    "dq_gini" -> ((s, dir) =>
      concentration(table(s, dir, "documents"), Seq("source", "lang"))
        .orderBy("column_name")),

    // The sketch path beside it: CMS key counts, exact gate values,
    // sketch_ok asserting the estimate obeyed its eps*N guarantee
    "dq_skew_sketch" -> ((s, dir) =>
      keySkewSketch(table(s, dir, "events"), col("user_id"), topK = 10)),

    // CMS inner-product join-size estimate beside the exact histogram
    "dq_join_sketch" -> ((s, dir) =>
      joinCardinalitySketch(
        table(s, dir, "lineitem"), col("l_orderkey"),
        table(s, dir, "orders"), col("o_orderkey"))),

    // Robust MAD outlier fence over order value (k = 3 MADs)
    "dq_mad" -> ((s, dir) =>
      madOutliers(table(s, dir, "orders"), "o_totalprice")),

    // The sketch path beside it: approx_percentile passes executed,
    // exact gate values, sketch_ok asserting the sketch landed inside
    // tolerance — the dq_skew_sketch rule
    "dq_mad_sketch" -> ((s, dir) =>
      madOutliersSketch(table(s, dir, "orders"), "o_totalprice")),

    // Two-snapshot profile diff (even vs odd orderkey halves)
    "dq_profile_diff" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      profileDiff(
        o.where(pmod(col("o_orderkey"), lit(2)) === 0),
        o.where(pmod(col("o_orderkey"), lit(2)) === 1),
        OrdersCols)
        .orderBy("column_name")
    }))

  private val FdPairs = Seq(
    "p_partkey" -> "p_name",
    "p_name" -> "p_type",
    "p_brand" -> "p_type")

  private def fdSql(det: String, dep: String): String =
    s"""SELECT '$det' AS determinant, '$dep' AS dependent,
       | COUNT(*) AS n_det_values,
       | CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       | MAX(n_dep) AS max_distinct,
       | (CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0) AS holds
       |FROM (SELECT $det, COUNT(DISTINCT $dep) AS n_dep FROM part GROUP BY 1)""".stripMargin

  private val CorrPairs = Seq(
    "l_quantity" -> "l_extendedprice",
    "l_extendedprice" -> "l_discount",
    "l_quantity" -> "l_tax")

  private def corrSql(x: String, y: String): String =
    s"""SELECT '$x' AS x_col, '$y' AS y_col, n,
       | CASE WHEN den > 0 THEN num / den ELSE 0.0 END AS pearson_r
       |FROM (SELECT n,
       |  CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
       |   - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS num,
       |  sqrt(GREATEST(CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
       |   - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE), 0))
       |   * sqrt(GREATEST(CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
       |   - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE), 0)) AS den
       | FROM (SELECT COUNT(*) AS n,
       |   SUM(qx) AS sx, SUM(qy) AS sy,
       |   SUM(qx * qx) AS sxx, SUM(qy * qy) AS syy, SUM(qx * qy) AS sxy
       |  FROM (SELECT CAST(round(CAST($x AS DOUBLE) * 100) AS HUGEINT) AS qx,
       |               CAST(round(CAST($y AS DOUBLE) * 100) AS HUGEINT) AS qy
       |        FROM lineitem WHERE $x IS NOT NULL AND $y IS NOT NULL)))""".stripMargin

  private def profileSql(select: String): String =
    OrdersCols.map { c =>
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
         | COUNT(*) - COUNT($c) AS n_nulls,
         | COUNT(DISTINCT $c) AS n_distinct,
         | CAST(MIN($c) AS VARCHAR) AS min_str,
         | CAST(MAX($c) AS VARCHAR) AS max_str FROM orders""".stripMargin
    }.mkString(s"SELECT $select FROM (\n", "\nUNION ALL\n", "\n) ORDER BY column_name")

  /** Shared drift CTE: bucketed counts per snapshot half (even/odd
    * orderkey), full-joined with totals — mirrors [[histogramDrift]]'s
    * bucket math exactly (same literals as the dq_histogram oracle).
    */
  private val driftCte = {
    def half(parity: Int, n: String) =
      s"""SELECT CASE WHEN CAST(o_totalprice AS DOUBLE) < 0.0 THEN CAST(-1 AS BIGINT)
         |             WHEN CAST(o_totalprice AS DOUBLE) >= 600000.0 THEN CAST(12 AS BIGINT)
         |             ELSE CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - 0.0) / 50000.0) AS BIGINT)
         |        END AS bucket, COUNT(*) AS $n
         | FROM orders WHERE o_totalprice IS NOT NULL AND o_orderkey % 2 = $parity
         | GROUP BY 1""".stripMargin
    s"""ha AS (${half(0, "n_a")}),
       |hb AS (${half(1, "n_b")}),
       |j AS (SELECT COALESCE(ha.bucket, hb.bucket) AS bucket,
       |   COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
       |  FROM ha FULL JOIN hb ON ha.bucket = hb.bucket),
       |t AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM j)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "dq_profile" -> profileSql("*"),
    "dq_profile_approx" -> profileSql(
      "column_name, n_rows, n_nulls, n_distinct, TRUE AS sketch_ok"),
    "dq_winsorize" ->
      """WITH qs AS (SELECT quantile_cont(o_totalprice, 0.01) AS p_lo,
        |  quantile_cont(o_totalprice, 0.99) AS p_hi FROM orders)
        |SELECT MIN(p_lo) AS p_lo, MIN(p_hi) AS p_hi,
        | CAST(SUM(CASE WHEN o_totalprice < p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
        | CAST(SUM(CASE WHEN o_totalprice > p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
        | CAST(SUM(CASE WHEN o_totalprice BETWEEN p_lo AND p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(SUM(CASE WHEN o_totalprice BETWEEN p_lo AND p_hi
        |       THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS kept_sum
        |FROM orders CROSS JOIN qs""".stripMargin,
    "dq_drift" ->
      s"""WITH $driftCte
         |SELECT bucket, n_a, n_b,
         | CAST(ABS(n_a * tb - n_b * ta) AS BIGINT) AS cross_delta
         |FROM j, t ORDER BY bucket""".stripMargin,
    "dq_drift_tvd" ->
      s"""WITH $driftCte,
         |s AS (SELECT CAST(SUM(ABS(n_a * tb - n_b * ta)) AS VARCHAR) AS num,
         |   CAST(ta AS VARCHAR) AS na, CAST(tb AS VARCHAR) AS nb
         |  FROM j, t GROUP BY ta, tb)
         |SELECT CAST(num AS DOUBLE)
         |  / (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS tvd
         |FROM s""".stripMargin,
    // single-node window cumsum — DuckDB doesn't need the engine's
    // bucket-offset decomposition; the MATH is identical (exact
    // integer cross-products, one final integer division)
    "dq_ks" ->
      """WITH vg AS (SELECT v,
        |   SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n_a,
        |   SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n_b
        |  FROM (
        |   SELECT CAST(o_totalprice AS DOUBLE) AS v, 0 AS side FROM orders
        |    WHERE year(o_orderdate) = 1995 AND o_totalprice IS NOT NULL
        |   UNION ALL
        |   SELECT CAST(o_totalprice AS DOUBLE), 1 FROM orders
        |    WHERE year(o_orderdate) = 1996 AND o_totalprice IS NOT NULL)
        |  GROUP BY v),
        |cum AS (SELECT v,
        |   SUM(n_a) OVER (ORDER BY v) AS c_a,
        |   SUM(n_b) OVER (ORDER BY v) AS c_b,
        |   SUM(n_a) OVER () AS ta, SUM(n_b) OVER () AS tb
        |  FROM vg),
        |g AS (SELECT v, ta, tb,
        |   ABS(CAST(c_a AS HUGEINT) * tb - CAST(c_b AS HUGEINT) * ta) AS gap
        |  FROM cum)
        |SELECT CAST(MAX(ta) AS BIGINT) AS n_a, CAST(MAX(tb) AS BIGINT) AS n_b,
        | CAST(MAX(gap) * 1000000 // (MAX(ta) * CAST(MAX(tb) AS HUGEINT))
        |   AS BIGINT) AS ks_ppm,
        | MIN(CASE WHEN gap = (SELECT MAX(gap) FROM g) THEN v END) AS ks_at
        |FROM g""".stripMargin,
    "dq_group_quantiles" ->
      """SELECT event_type AS grp, q[1] AS p50, q[2] AS p90, q[3] AS p99
        |FROM (SELECT event_type,
        |   quantile_cont(CAST(value AS DOUBLE), [0.5, 0.9, 0.99]) AS q
        |  FROM events WHERE value IS NOT NULL GROUP BY 1)
        |ORDER BY grp""".stripMargin,

    "dq_dataset_card" ->
      """WITH ps AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
        |top AS (SELECT n, source FROM ps ORDER BY n DESC, source DESC LIMIT 1),
        |agg AS (SELECT COUNT(*) AS n_sources, SUM(n) AS n_docs FROM ps),
        |body AS (SELECT
        |  SUM(LENGTH(text)) AS total_chars,
        |  SUM(len(string_split_regex(trim(text), ' +'))) AS total_tokens,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST(MAX(LENGTH(text)) AS BIGINT) AS max_doc_chars
        | FROM documents)
        |SELECT CAST(agg.n_docs AS BIGINT) AS n_docs,
        | agg.n_sources AS n_sources, body.n_langs AS n_langs,
        | CAST(body.total_chars AS BIGINT) AS total_chars,
        | CAST(body.total_tokens AS BIGINT) AS total_tokens,
        | CAST(body.total_chars // agg.n_docs AS BIGINT) AS mean_doc_chars,
        | body.max_doc_chars AS max_doc_chars,
        | top.source AS top_source,
        | CAST(top.n * 1000000 // agg.n_docs AS BIGINT) AS top_source_ppm
        |FROM body CROSS JOIN agg CROSS JOIN top""".stripMargin,

    "dq_seq_gaps" ->
      """SELECT COUNT(*) AS n_rows,
        | COUNT(o_orderkey) AS n_nonnull,
        | COUNT(DISTINCT o_orderkey) AS n_distinct,
        | CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        | CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
        | COUNT(*) - COUNT(o_orderkey) AS n_null,
        | CAST(MAX(o_orderkey) - MIN(o_orderkey) + 1
        |   - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_missing,
        | COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS n_dups
        |FROM orders""".stripMargin,

    "dq_null_pattern" ->
      """WITH p AS (SELECT
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS c1,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS c2,
        |  CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_orderpriority END AS c3
        | FROM orders),
        |g AS (SELECT
        |  (CASE WHEN c1 IS NULL THEN '1' ELSE '0' END)
        |   || (CASE WHEN c2 IS NULL THEN '1' ELSE '0' END)
        |   || (CASE WHEN c3 IS NULL THEN '1' ELSE '0' END) AS pattern,
        |  COUNT(*) AS n
        | FROM p GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g)
        |SELECT g.pattern, g.n,
        | CAST(g.n * 1000000 // t.total AS BIGINT) AS share_ppm
        |FROM g CROSS JOIN t ORDER BY g.pattern""".stripMargin,

    "dq_weekly" ->
      """WITH g AS (SELECT CAST(EXTRACT(DOW FROM ts) AS BIGINT) AS dow,
        |  CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hr, COUNT(*) AS n
        | FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g)
        |SELECT g.dow, g.hr, g.n,
        | CAST(g.n * 1000000 // t.total AS BIGINT) AS share_ppm
        |FROM g CROSS JOIN t ORDER BY g.dow, g.hr""".stripMargin,

    "dq_freshness" ->
      """WITH g AS (SELECT event_type AS key, MAX(ts) AS last_seen,
        |  CAST(COUNT(*) AS BIGINT) AS n
        | FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |m AS (SELECT MAX(ts) AS corpus_max FROM events WHERE ts IS NOT NULL)
        |SELECT g.key, g.last_seen, g.n,
        | CAST(FLOOR(epoch(m.corpus_max)) - FLOOR(epoch(g.last_seen)) AS BIGINT)
        |   AS lag_sec,
        | (FLOOR(epoch(m.corpus_max)) - FLOOR(epoch(g.last_seen))) >= 3600 AS stale
        |FROM g CROSS JOIN m ORDER BY g.key""".stripMargin,

    "dq_benford" ->
      """WITH d AS (SELECT CAST(substring(
        |   CAST(CAST(FLOOR(ABS(CAST(o_totalprice AS DOUBLE))) AS BIGINT) AS VARCHAR),
        |   1, 1) AS BIGINT) AS digit
        | FROM orders
        | WHERE o_totalprice IS NOT NULL AND ABS(CAST(o_totalprice AS DOUBLE)) >= 1.0
        |   AND ABS(CAST(o_totalprice AS DOUBLE)) <= 1.7976931348623157e308),
        |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT SUM(n) AS total FROM c),
        |e AS (SELECT UNNEST([1,2,3,4,5,6,7,8,9]) AS digit,
        |      UNNEST([301029,176091,124938,96910,79181,66946,57991,51152,45757])
        |        AS expected_ppm)
        |SELECT c.digit, c.n,
        | CAST(c.n * 1000000 // t.total AS BIGINT) AS observed_ppm,
        | CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
        | CAST(ABS(c.n * 1000000 // t.total - e.expected_ppm) AS BIGINT)
        |   AS deviation_ppm
        |FROM c JOIN e ON e.digit = c.digit CROSS JOIN t
        |ORDER BY c.digit""".stripMargin,

    "dq_histogram_eqdepth" ->
      """WITH bs AS (SELECT quantile_cont(CAST(o_totalprice AS DOUBLE),
        |   [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS b
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |a AS (SELECT CAST(o_totalprice AS DOUBLE) AS x,
        |   CAST(len(list_filter(bs.b, v -> v < CAST(o_totalprice AS DOUBLE)))
        |     AS BIGINT) AS bucket
        |  FROM orders, bs WHERE o_totalprice IS NOT NULL)
        |SELECT bucket, COUNT(*) AS n, MIN(x) AS x_min, MAX(x) AS x_max
        |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin,

    "dq_histogram" ->
      """WITH b AS (
        | SELECT CASE WHEN CAST(o_totalprice AS DOUBLE) < 0.0 THEN CAST(-1 AS BIGINT)
        |             WHEN CAST(o_totalprice AS DOUBLE) >= 600000.0 THEN CAST(12 AS BIGINT)
        |             ELSE CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - 0.0) / 50000.0) AS BIGINT)
        |        END AS bucket
        | FROM orders WHERE o_totalprice IS NOT NULL)
        |SELECT bucket,
        | CAST(0.0 AS DOUBLE) + bucket * CAST(50000.0 AS DOUBLE) AS bucket_lo,
        | CAST(0.0 AS DOUBLE) + (bucket + 1) * CAST(50000.0 AS DOUBLE) AS bucket_hi,
        | COUNT(*) AS n
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "dq_numeric" -> Seq("o_custkey", "o_totalprice").map { c =>
      s"""SELECT '$c' AS column_name, COUNT($c) AS n,
         | MIN(CAST($c AS DOUBLE)) AS min_val, MAX(CAST($c AS DOUBLE)) AS max_val,
         | CAST(SUM(CAST(CAST($c AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) / COUNT($c) AS mean_val
         |FROM orders""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY column_name"),
    "dq_corr" -> CorrPairs.map { case (x, y) => corrSql(x, y) }
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY x_col, y_col"),
    "dq_anomaly" ->
      """WITH g AS (SELECT event_type AS key,
        |        CAST(date_trunc('day', ts) AS DATE) AS day,
        |        COUNT(*) AS n
        |       FROM events GROUP BY 1, 2),
        |st AS (SELECT key, COUNT(*) AS n_days, SUM(n) AS s1, SUM(n * n) AS s2
        |       FROM g GROUP BY 1),
        |sc AS (SELECT g.key, g.day, g.n,
        |  CAST(s1 AS DOUBLE) / n_days AS mean_n,
        |  CASE WHEN n_days > 1 THEN
        |   sqrt(GREATEST(CAST(n_days AS DOUBLE) * s2
        |     - CAST(s1 AS DOUBLE) * s1, 0.0)
        |    / (CAST(n_days AS DOUBLE) * (n_days - 1)))
        |  ELSE 0.0 END AS sd_n
        | FROM g JOIN st USING (key)),
        |z AS (SELECT *, CASE WHEN sd_n > 0
        |   THEN (CAST(n AS DOUBLE) - mean_n) / sd_n ELSE 0.0 END AS z
        | FROM sc)
        |SELECT key, day, n, mean_n, sd_n, z, (abs(z) >= 2.0) AS is_anomaly
        |FROM z ORDER BY key, day""".stripMargin,
    "dq_fd" -> FdPairs.map { case (det, dep) => fdSql(det, dep) }
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY determinant, dependent"),
    "dq_profile_diff" -> {
      def sideSql(parity: Int): String = OrdersCols.map { c =>
        s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
           | COUNT(*) - COUNT($c) AS n_nulls,
           | COUNT(DISTINCT $c) AS n_distinct,
           | CAST(MIN($c) AS VARCHAR) AS min_str,
           | CAST(MAX($c) AS VARCHAR) AS max_str
           |FROM orders WHERE o_orderkey % 2 = $parity""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH pa AS (${sideSql(0)}),
         |pb AS (${sideSql(1)})
         |SELECT column_name,
         | pa.n_rows AS n_rows_a, pb.n_rows AS n_rows_b,
         | pa.n_nulls AS n_nulls_a, pb.n_nulls AS n_nulls_b,
         | pa.n_distinct AS n_distinct_a, pb.n_distinct AS n_distinct_b,
         | (pa.min_str IS NOT DISTINCT FROM pb.min_str
         |  AND pa.max_str IS NOT DISTINCT FROM pb.max_str) AS bounds_equal
         |FROM pa FULL JOIN pb USING (column_name)
         |ORDER BY column_name""".stripMargin
    },

    "dq_ri" -> {
      def rel(label: String, childSql: String, ck: String,
          parentSql: String, pk: String): String =
        s"""SELECT '$label' AS relation,
           | COUNT(*) AS n_child_keys,
           | CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_keys,
           | CAST(SUM(CASE WHEN p.k IS NULL THEN n_rows ELSE 0 END) AS BIGINT) AS n_orphan_rows,
           | (CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) = 0) AS ri_holds
           |FROM (SELECT $ck AS k, COUNT(*) AS n_rows FROM $childSql GROUP BY 1) c
           |LEFT JOIN (SELECT DISTINCT $pk AS k FROM $parentSql) p ON c.k = p.k""".stripMargin
      rel("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey") +
        "\nUNION ALL\n" +
        rel("events.user_id -> customer(even)", "events", "user_id",
          "(SELECT * FROM customer WHERE c_custkey % 2 = 0)", "c_custkey") +
        "\nORDER BY relation"
    },

    "dq_constraints" -> OrdersCols.map { c =>
      s"""SELECT '$c' AS column_name,
         | (COUNT(*) - COUNT($c) = 0 AND COUNT(DISTINCT $c) = COUNT(*))
         |   AS unique_candidate,
         | (COUNT(*) - COUNT($c) = 0) AS not_null
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),

    "dq_join_est" ->
      """WITH ca AS (SELECT l_orderkey AS k, COUNT(*) AS na FROM lineitem GROUP BY 1),
        |cb AS (SELECT o_orderkey AS k, COUNT(*) AS nb FROM orders GROUP BY 1),
        |p AS (SELECT CAST(na AS HUGEINT) * nb AS p FROM ca JOIN cb USING (k))
        |SELECT (SELECT COUNT(*) FROM lineitem) AS n_left,
        | (SELECT COUNT(*) FROM orders) AS n_right,
        | CAST(COALESCE(SUM(p), 0) AS BIGINT) AS n_join_rows,
        | CAST(COALESCE(MAX(p), 0) AS BIGINT) AS max_key_rows
        |FROM p""".stripMargin,

    "dq_json_schema" ->
      """WITH p AS (SELECT
        |  '{"uid": ' || user_id || ', "t": "' || event_type || '"'
        |   || CASE WHEN event_id % 3 = 0
        |        THEN ', "cents": ' || CAST(round(value * 100) AS BIGINT) ELSE '' END
        |   || CASE WHEN event_id % 5 = 0
        |        THEN ', "vip": ' || (CASE WHEN user_id % 2 = 0 THEN 'true' ELSE 'false' END)
        |        ELSE '' END
        |   || '}' AS j FROM events),
        |k AS (SELECT j, unnest(json_keys(j)) AS key FROM p),
        |v AS (SELECT key, json_extract_string(j, '$.' || key) AS v FROM k)
        |SELECT key,
        | CASE WHEN regexp_matches(v, '^-?[0-9]+$') THEN 'int'
        |      WHEN v IN ('true', 'false') THEN 'bool'
        |      ELSE 'string' END AS vtype,
        | COUNT(*) AS n
        |FROM v GROUP BY key, vtype ORDER BY key, vtype""".stripMargin,

    "dq_qdrift" ->
      """WITH a AS (SELECT quantile_cont(CAST(o_totalprice AS DOUBLE), [0.5, 0.9, 0.99]) AS ex
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |b AS (SELECT quantile_cont(CAST(o_totalprice AS DOUBLE), [0.5, 0.9, 0.99]) AS ex
        |  FROM orders WHERE o_orderkey % 2 = 1),
        |q AS (SELECT UNNEST([1, 2, 3]) AS i, UNNEST([0.5, 0.9, 0.99]) AS quantile)
        |SELECT CAST(quantile AS DOUBLE) AS quantile, a.ex[i] AS p_a, b.ex[i] AS p_b,
        | b.ex[i] - a.ex[i] AS delta, TRUE AS sketch_ok
        |FROM q, a, b ORDER BY quantile""".stripMargin,

    "dq_skew" ->
      """WITH k AS (SELECT CAST(user_id AS VARCHAR) AS key_value, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |t AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys FROM k)
        |SELECT key_value, n,
        | CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
        | CAST(n * n_keys * 1000 // total AS BIGINT) AS hot_x1000
        |FROM k, t ORDER BY n DESC, key_value LIMIT 10""".stripMargin,

    // gini replay: (column, value) counts from the same unpivot, both
    // double casts before the one division so the IEEE value matches
    "dq_gini" ->
      """WITH p AS (
        |  SELECT 'source' AS column_name, CAST(source AS VARCHAR) AS v
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', CAST(lang AS VARCHAR) FROM documents),
        |g AS (SELECT column_name, v, COUNT(*) AS c FROM p GROUP BY 1, 2),
        |a AS (SELECT column_name, COUNT(*) AS n_distinct,
        |  CAST(SUM(c) AS BIGINT) AS n_rows, MAX(c) AS top_count,
        |  SUM(CAST(c AS HUGEINT) * c) AS ss
        | FROM g GROUP BY 1)
        |SELECT column_name, n_distinct, n_rows, top_count,
        | CAST(CAST(top_count AS HUGEINT) * 1000000 // n_rows AS BIGINT)
        |   AS top_share_ppm,
        | 1.0 - CAST(ss AS DOUBLE)
        |   / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)) AS gini
        |FROM a ORDER BY column_name""".stripMargin,

    // the CMS estimate itself is engine-private (Spark's sketch
    // hashing); the oracle checks the exact values and that the
    // guarantee HELD (sketch_ok TRUE) — the q22/dq_profile_approx rule
    "dq_skew_sketch" ->
      """WITH k AS (SELECT CAST(user_id AS VARCHAR) AS key_value, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |t AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys FROM k)
        |SELECT key_value, n,
        | CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
        | CAST(n * n_keys * 1000 // total AS BIGINT) AS hot_x1000,
        | TRUE AS sketch_ok
        |FROM k, t ORDER BY n DESC, key_value LIMIT 10""".stripMargin,

    "dq_join_sketch" ->
      """WITH ca AS (SELECT l_orderkey AS k, COUNT(*) AS na FROM lineitem GROUP BY 1),
        |cb AS (SELECT o_orderkey AS k, COUNT(*) AS nb FROM orders GROUP BY 1),
        |p AS (SELECT CAST(na AS HUGEINT) * nb AS p FROM ca JOIN cb USING (k))
        |SELECT (SELECT COUNT(*) FROM lineitem) AS n_left,
        | (SELECT COUNT(*) FROM orders) AS n_right,
        | CAST(COALESCE(SUM(p), 0) AS BIGINT) AS n_join_rows,
        | CAST(COALESCE(MAX(p), 0) AS BIGINT) AS max_key_rows,
        | TRUE AS sketch_ok
        |FROM p""".stripMargin,

    "dq_mad" ->
      """WITH m AS (SELECT quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS med
        |  FROM orders),
        |d AS (SELECT CAST(o_totalprice AS DOUBLE) AS x, med,
        |   ABS(CAST(o_totalprice AS DOUBLE) - med) AS dev
        |  FROM orders, m),
        |s AS (SELECT quantile_cont(dev, 0.5) AS mad FROM d)
        |SELECT MIN(med) AS median, MIN(mad) AS mad, COUNT(*) AS n,
        | CAST(SUM(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_outliers
        |FROM d, s""".stripMargin,

    // sketch estimates are engine-private (KLL merge order); the
    // oracle checks the exact values and that the guarantee HELD
    "dq_mad_sketch" ->
      """WITH m AS (SELECT quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS med
        |  FROM orders),
        |d AS (SELECT CAST(o_totalprice AS DOUBLE) AS x, med,
        |   ABS(CAST(o_totalprice AS DOUBLE) - med) AS dev
        |  FROM orders, m),
        |s AS (SELECT quantile_cont(dev, 0.5) AS mad FROM d)
        |SELECT MIN(med) AS median, MIN(mad) AS mad, COUNT(*) AS n,
        | CAST(SUM(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_outliers, TRUE AS sketch_ok
        |FROM d, s""".stripMargin)
}
