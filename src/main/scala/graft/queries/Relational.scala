package graft.queries

import graft.GraftSession.table
import graft.operators.Tokens
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The general relational layer. The reference delegates all of this to
  * PG/Oracle by shipping the user's `qry` string
  * (/root/reference/scribedb/base.py:39; SURVEY §2.1) — the Spark
  * analog is Catalyst evaluating the same queries over registered
  * sources. Each entry is written DataFrame-first with the plan shape
  * chosen for scale (broadcast dims, partial aggregation, single
  * shuffle) and has an exact DuckDB oracle.
  *
  * Numeric determinism: money-valued doubles are cast to
  * DECIMAL(18,2) BEFORE aggregation, summed exactly, and cast back to
  * double — identical bit-for-bit across engines regardless of
  * addition order. Plain double sums would differ between Spark and
  * the oracle by accumulation order.
  */
object Relational {

  private val dec = DecimalType(18, 2)

  /** Registers each DataFrame under a UNIQUE temp-view name, builds the
    * SQL with the generated names, and drops the views as soon as the
    * plan exists (`SparkSession.sql` analyzes eagerly, so the returned
    * DataFrame no longer needs the catalog entries). Fixed view names
    * mutate shared session state — a concurrent gate execution or an
    * unlucky collision would silently rebind them mid-query.
    */
  private def withUniqueViews(s: SparkSession, dfs: (String, DataFrame)*)(
      sql: Seq[String] => String): DataFrame = {
    val names = dfs.map { case (prefix, df) =>
      val n = s"${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      df.createOrReplaceTempView(n)
      n
    }
    try s.sql(sql(names))
    finally names.foreach(s.catalog.dropTempView(_))
  }

  /** SCD2 (type-2 slowly-changing-dimension) history build — the
    * product form of the `q44_scd2` gate: collapse each entity's
    * ordered change stream into [valid_from, valid_to) intervals of
    * constant `state` — the change-collapse every warehouse needs to
    * turn snapshots/CDC feeds into queryable history. Output one row
    * per run: (entity, run_seq, state, valid_from, valid_to, n_events,
    * is_current); run_seq is the surrogate key, the open interval
    * (valid_to null) is flagged is_current.
    *
    * Scale shape: ONE shuffle on the entity key — both windows and the
    * run rollup reuse that partitioning, so per-entity cost is bounded
    * by per-entity row count (the only scale shape an inherently
    * ordered-per-entity op can have; no global sort anywhere).
    */
  def scd2History(events: DataFrame, entityCol: String, tsCol: String,
      tieCol: String, stateCol: String): DataFrame = {
    val byEnt = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieCol))
    val runs = events
      .select(col(entityCol), col(tsCol), col(tieCol), col(stateCol))
      .withColumn("changed",
        when(lag(col(stateCol), 1).over(byEnt).isNull ||
          lag(col(stateCol), 1).over(byEnt) =!= col(stateCol), 1L)
          .otherwise(0L))
      .withColumn("run_seq",
        sum(col("changed")).over(byEnt.rowsBetween(Window.unboundedPreceding, 0)))
    val hist = runs.groupBy(col(entityCol), col("run_seq"))
      .agg(min(col(stateCol)).as(stateCol), // constant within a run
        min(col(tsCol)).as("valid_from"),
        count(lit(1)).as("n_events"))
    val byRun = Window.partitionBy(col(entityCol)).orderBy(col("run_seq"))
    hist
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byRun))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col(entityCol), col("run_seq"), col(stateCol),
        col("valid_from"), col("valid_to"), col("n_events"), col("is_current"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: single scan, map-side partial agg, one shuffle of
    // |groups| rows. At 100 TB this stays a two-stage job whose shuffle
    // volume is O(groups), not O(rows).
    "q1_agg" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec))))
            .cast("double").as("sum_disc_price"),
          (sum(col("l_quantity").cast(dec)).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Filter + projection: predicate and column pruning reach the
    // parquet scan (PushedFilters / 3-column ReadSchema).
    "q2_filter_project" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      li.where(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // Join with a broadcast dimension: customer is tiny at every SF
    // relative to orders; broadcast avoids shuffling the fact table.
    "q3_join_broadcast" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment")
    }),

    // Multi-way star join: region⋈nation⋈customer broadcast down the
    // dimension chain, then one shuffle join against orders⋈lineitem.
    "q4_join_multi" -> ((s, dir) => {
      val r = table(s, dir, "region"); val n = table(s, dir, "nation")
      val c = table(s, dir, "customer"); val o = table(s, dir, "orders")
      val li = table(s, dir, "lineitem")
      val dims = broadcast(
        r.join(n, r("r_regionkey") === n("n_regionkey"))
          .join(c, n("n_nationkey") === c("c_nationkey"))
          .select(col("c_custkey"), col("n_name"), col("r_name")))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(dims, o("o_custkey") === dims("c_custkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum((col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    // Window functions: top-2 orders per customer by price, plus a
    // running sum. Partition-local windows — one shuffle on o_custkey.
    "q5_window" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val wr = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.withColumn("rk", row_number().over(w))
        .withColumn("running", sum(col("o_totalprice").cast(dec)).over(wr).cast("double"))
        .where(col("rk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"), col("running"))
    }),

    // Global sort + limit: Spark executes as TakeOrderedAndProject —
    // per-partition top-k then a k-row merge on one reducer; never a
    // full global sort.
    "q6_topk" -> ((s, dir) =>
      table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),

    // Grouping sets via rollup (reference has none — SURVEY §2.1).
    "q7_rollup" -> ((s, dir) =>
      table(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          sum(col("o_totalprice").cast(dec)).cast("double").as("total"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),

    // Exact + distinct aggregation. countDistinct expands to a
    // two-phase aggregate; partials still combine map-side.
    "q8_distinct" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    // Set operations (reference's only set op is a driver-side Python
    // set diff, /root/reference/main.py:116-137; here bag semantics,
    // distributed).
    "q9_setops" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val hi = o.where(col("o_totalprice") > 150000).select(col("o_custkey"))
      val pri = o.where(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      hi.intersect(pri).unionAll(hi.exceptAll(pri).distinct())
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .orderBy("o_custkey")
    }),

    // Semi/anti joins = EXISTS / NOT EXISTS. Broadcast the filter side.
    "q10_semi_anti" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      val buyers = o.where(col("o_totalprice") > 100000).select(col("o_custkey"))
      val withO = c.join(broadcast(buyers), c("c_custkey") === buyers("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_big_order").as("status"))
      val without = c.join(broadcast(buyers), c("c_custkey") === buyers("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_big_order").as("status"))
      withO.unionAll(without).orderBy("c_custkey")
    }),

    // Scalar function library: string/date/math/conditional — all
    // codegen'd builtins, no UDFs (reference has no scalar library at
    // all beyond canonicalization, SURVEY §2.1).
    "q11_scalar_funcs" -> ((s, dir) =>
      table(s, dir, "orders")
        .select(
          col("o_orderkey"),
          upper(substring(col("o_orderpriority"), 1, 1)).as("prio_code"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          month(col("o_orderdate")).cast("long").as("o_month"),
          length(col("o_orderstatus")).cast("long").as("status_len"),
          abs(col("o_totalprice").cast(dec) * lit(-1).cast(dec)).cast("double").as("abs_price"),
          when(col("o_totalprice") > 200000, "high")
            .when(col("o_totalprice") > 100000, "mid")
            .otherwise("low").as("band"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("~open~")).as("status_or_token"))
        .orderBy("o_orderkey")),

    // Aggregation over a computed date bucket — the batch shape of the
    // streaming tumbling window (see graft.streaming).
    "q12_time_bucket" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(
          date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
        .orderBy("hour", "event_type")),

    // Sessionization (gap > 30 min): the batch twin of the streaming
    // flatMapGroupsWithState operator — equality asserted in
    // StreamingSpec, oracle-checked here.
    "q13_sessionize" -> ((s, dir) =>
      graft.streaming.Streaming.sessionizeBatch(
        table(s, dir, "events")
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value")))
        .orderBy("user_id", "session_start")),

    // As-of join: each click paired with the user's most recent
    // at-or-before purchase. Implemented the scale way — union the two
    // event roles, one window pass per user ordered by time (single
    // shuffle on user_id, no range-condition row explosion; a
    // nested-loop BETWEEN join would be O(clicks × purchases) per user).
    "q14_asof_join" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), lit(null).cast("timestamp").as("p_ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(lit(null).cast("long").as("event_id"), col("user_id"), col("ts"), col("ts").as("p_ts"))
      // nulls LAST so an equal-ts purchase sorts BEFORE the click row
      // and lands in its frame — 'at-or-before' is inclusive, matching
      // the oracle's ASOF ... ON p.ts <= c.ts
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("p_ts").asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionAll(purchases)
        .withColumn("asof_purchase_ts", last(col("p_ts"), ignoreNulls = true).over(w))
        .where(col("event_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts").as("click_ts"),
          col("asof_purchase_ts"))
        .orderBy("event_id")
    }),

    // Range join: orders banded by price against an in-query band
    // dimension. The band table is broadcast; the non-equi condition
    // runs as a broadcast nested-loop over 4 rows — never a shuffle.
    "q15_range_join" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val bands = broadcast(Seq(
        ("low", 0d, 100000d), ("mid", 100000d, 200000d),
        ("high", 200000d, 300000d), ("top", 300000d, 1e9))
        .toDF("band", "lo", "hi"))
      table(s, dir, "orders")
        .join(bands, col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("total"))
        .orderBy("band")
    }),

    // Pivot: order counts by status × priority, explicit pivot values
    // so the output schema is deterministic.
    "q16_pivot" -> ((s, dir) =>
      table(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("o_orderstatus"), col("1-URGENT").as("p1"), col("2-HIGH").as("p2"),
          col("3-MEDIUM").as("p3"), col("4-NOT SPECIFIED").as("p4"), col("5-LOW").as("p5"))
        .orderBy("o_orderstatus")),

    // Exact percentiles (continuous interpolation) per group.
    "q17_percentiles" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          expr("percentile(l_extendedprice, 0.99)").as("p99_price"))
        .orderBy("l_returnflag")),

    // Full grouping-sets lattice via cube (rollup covered by q7).
    "q19_cube" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(dec)).cast("double").as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // Correlated scalar subquery: orders above their customer's average.
    // Catalyst decorrelates this into an aggregate + join — no
    // per-row subquery execution.
    "q20_corr_subquery" -> ((s, dir) =>
      withUniqueViews(s, "__orders" -> table(s, dir, "orders")) { case Seq(ord) =>
        s"""SELECT o_orderkey, o_custkey, o_totalprice
           |FROM $ord o
           |WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM $ord i
           |                            WHERE i.o_custkey = o.o_custkey)
           |ORDER BY o_orderkey""".stripMargin
      }),

    // Unpivot (wide → long) via stack — the inverse of q16's pivot.
    "q21_unpivot" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast(dec)).cast("double").as("qty"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("price"),
          sum(col("l_discount").cast(dec)).cast("double").as("disc"))
        .selectExpr("l_returnflag",
          "stack(3, 'qty', qty, 'price', price, 'disc', disc) AS (measure, value)")
        .orderBy("l_returnflag", "measure")),

    // Approximate distinct (HLL++ sketch): implementation-specific
    // estimates, so no exact cross-engine oracle — accuracy vs exact
    // counts is asserted in the test suite instead (±5%). At 100 TB
    // this replaces a two-phase exact distinct (full shuffle of the
    // distinct keys) with constant-size mergeable sketch state.
    // The sketch estimate itself is engine-private, so the gate row
    // carries the EXACT distinct count plus a `sketch_ok` bit asserting
    // the HLL estimate landed within 5% — cross-engine hash-matchable
    // while still exercising the sketch path.
    "q22_approx_distinct" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"), col("exact_parts"), col("n_rows"),
          (abs(col("approx").cast("double") - col("exact_parts")) / col("exact_parts") <= 0.05)
            .as("sketch_ok"))
        .orderBy("l_returnflag")),

    // Window-function battery beyond q5's row_number/running-sum:
    // lead/lag/rank/dense_rank/ntile/percent_rank/cume_dist.
    "q23_window_battery" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      table(s, dir, "orders")
        .where(col("o_orderkey") < 2000)
        .select(
          col("o_orderkey"), col("o_orderstatus"),
          lag(col("o_orderkey"), 1).over(w).as("prev_key"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"))
        .orderBy("o_orderkey")
    }),

    // String-function battery: levenshtein, pad, translate,
    // regexp_extract, reverse, repeat, split-part.
    "q24_string_battery" -> ((s, dir) =>
      table(s, dir, "orders")
        .where(col("o_orderkey") < 500)
        .select(
          col("o_orderkey"),
          levenshtein(col("o_orderpriority"), lit("1-URGENT")).cast("long").as("lev"),
          lpad(col("o_orderstatus"), 5, "_").as("padded"),
          translate(col("o_orderpriority"), "-", "_").as("translated"),
          regexp_extract(col("o_orderpriority"), "^(\\d+)-", 1).as("prio_num"),
          reverse(col("o_orderstatus")).as("rev"),
          repeat(col("o_orderstatus"), 3).as("rep"),
          split(col("o_orderpriority"), "-").getItem(1).as("prio_word"))
        .orderBy("o_orderkey")),

    // Date arithmetic battery: add/diff/trunc/last_day/extract — all
    // integer-exact across engines.
    "q25_date_battery" -> ((s, dir) =>
      table(s, dir, "orders")
        .where(col("o_orderkey") < 500)
        .select(
          col("o_orderkey"),
          date_add(col("o_orderdate"), 30).as("plus30"),
          datediff(lit("1998-12-01").cast("date"), col("o_orderdate")).cast("long").as("age_days"),
          last_day(col("o_orderdate")).as("month_end"),
          date_trunc("quarter", col("o_orderdate")).cast("date").as("quarter_start"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          weekofyear(col("o_orderdate")).cast("long").as("woy"))
        .orderBy("o_orderkey")),

    // Approximate percentile: the gate row carries the EXACT
    // interpolated median ×200 (integral — prices have 2 decimals, the
    // midpoint adds one factor of 2, so the double arithmetic is exact)
    // plus a `sketch_ok` bit asserting the sketch landed within 5%.
    "q27_approx_percentile" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(CAST(l_extendedprice AS DOUBLE), 0.5, 1000)").as("approx"),
          expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.5)").as("exact"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          expr("CAST(round(exact * 200) AS BIGINT)").as("p50_x200"),
          (abs(col("approx") - col("exact")) / col("exact") <= 0.05).as("sketch_ok"))
        .orderBy("l_returnflag")),

    // Typed Aggregator UDAF (Dataset aggregation API): exact weighted
    // average via decimal sums + one final IEEE division.
    "q28_weighted_avg" -> ((s, dir) => {
      import org.apache.spark.sql.functions.udaf
      s.udf.register("wavg", udaf(graft.functions.WeightedAvg))
      // rounded to 6 decimals: decimal→double conversion is not
      // guaranteed correctly-rounded on either engine (1-ulp skew)
      withUniqueViews(s, "__li_wavg" -> table(s, dir, "lineitem")) { case Seq(li) =>
        s"""SELECT l_returnflag, round(wavg(l_extendedprice, l_quantity), 6) AS wavg_price
           |FROM $li GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
      }
    }),

    // Lateral view / table-generating explode: one row per word with
    // its position — the UDTF shape (reference has none, SURVEY §2.1).
    "q26_explode" -> ((s, dir) =>
      table(s, dir, "documents")
        .where(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(Tokens.of(col("text"))).as(Seq("pos", "word")))
        .where(col("pos") < 5)
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("word"))
        .orderBy("doc_id", "pos")),

    // Array functions over tokenized text: size, distinct count,
    // sorted slice, containment.
    "q29_array_funcs" -> ((s, dir) =>
      table(s, dir, "documents")
        .where(col("doc_id") < 50)
        .select(col("doc_id"), Tokens.of(col("text")).as("ws"))
        .select(
          col("doc_id"),
          size(col("ws")).cast("long").as("n"),
          size(array_distinct(col("ws"))).cast("long").as("n_distinct"),
          // array_join: the gate's compare sorts rows in pandas, which
          // can't order list-valued cells — ship scalars across engines
          array_join(slice(sort_array(col("ws")), 1, 3), "|").as("first3_sorted"),
          array_contains(col("ws"), "the").as("has_the"))
        .orderBy("doc_id")),

    // Map functions over a constructed map column (props JSON → map).
    "q30_map_funcs" -> ((s, dir) =>
      table(s, dir, "events")
        .where(col("event_id") < 200)
        .select(col("event_id"),
          from_json(col("props"), lit("map<string,bigint>")).as("m"))
        .select(
          col("event_id"),
          // sorted + joined: scalar cell for the pandas row-sort (above)
          array_join(sort_array(map_keys(col("m"))), "|").as("ks"),
          size(col("m")).cast("long").as("n_entries"),
          element_at(col("m"), "k").as("k_value"))
        .orderBy("event_id")),

    // JSON functions over the events.props payload column.
    "q18_json" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")),

    // Large-large shuffle join: at 100 TB BOTH sides of lineitem ⋈
    // orders are fact-scale, so neither broadcasts — the dominant join
    // is a shuffle (sort-merge) join on the key. The merge hint pins
    // that strategy so the gate exercises the SMJ path even at test SFs
    // where orders would fit under the broadcast threshold;
    // PlanShapeSpec asserts SortMergeJoin appears and no broadcast does.
    "q31_join_shuffle" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      li.hint("merge").join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_price"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    }),

    // Time-RANGE window frame: per user, how many events (and how much
    // cent-exact value) landed in the trailing hour at each event —
    // the batch form of a sliding window, expressed as a RANGE frame
    // over epoch seconds. One shuffle on user_id, frame bounds applied
    // by ordinal value (not row count), so bursty users and quiet
    // users get the same time semantics. Sums are over exact cents:
    // windowed double accumulation would be addition-order-dependent.
    "q33_range_window" -> ((s, dir) => {
      // epoch MICROSECONDS, not seconds: unix_timestamp() truncates
      // sub-second parts while an oracle's epoch() keeps them — the
      // trailing-hour frame must mean the same instant set on every
      // engine, so the ordering key is the exact integer micros.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("epoch_us"))
        .rangeBetween(-3600L * 1000 * 1000, 0L)
      table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          unix_micros(col("ts")).as("epoch_us"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("n_trailing_hour", count(lit(1)).over(w))
        .withColumn("cents_trailing_hour", sum(col("cents")).over(w))
        .select(col("event_id"), col("user_id"), col("n_trailing_hour"),
          col("cents_trailing_hour"))
        .orderBy("event_id")
    }),

    // LATERAL correlated subquery in FROM: for each high-value order,
    // its top-2 lineitems by price — the per-row top-n shape Catalyst
    // decorrelates into a window + join rather than executing N
    // subqueries.
    "q34_lateral_topn" -> ((s, dir) =>
      withUniqueViews(s,
        "__ord" -> table(s, dir, "orders"),
        "__li" -> table(s, dir, "lineitem")) { case Seq(ord, li) =>
        s"""SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
           |FROM $ord o,
           | LATERAL (SELECT l_linenumber, l_extendedprice FROM $li l
           |          WHERE l.l_orderkey = o.o_orderkey
           |          ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
           |WHERE o.o_totalprice > 400000
           |ORDER BY o.o_orderkey, t.l_extendedprice DESC, t.l_linenumber""".stripMargin
      }),

    // Explicit GROUPING SETS (the general form rollup/cube specialize):
    // per-(flag,status) detail plus per-flag and grand totals in ONE
    // aggregation pass — Spark expands to a single Expand + hash-agg,
    // not three scans. grouping_id disambiguates the NULL produced by
    // set expansion from a NULL grouping value.
    "q32_grouping_sets" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast(dec)).cast("double").as("qty"))
        .select(col("l_returnflag"), col("l_linestatus"), col("gid"), col("n"), col("qty"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // Ordered funnel (view -> click -> purchase): a user advances a
    // step only with an event STRICTLY AFTER the previous step's first
    // completion. One shuffle on user_id; both "first prior step" marks
    // are running-min window frames over the SAME (user_id, ts,
    // event_id) sort, so Catalyst plans a single Exchange + one sort
    // and the funnel costs no joins at all — the shape that holds when
    // the event log is 100 TB and a per-step self-join would be three
    // fact-scale shuffles.
    "q35_funnel" -> ((s, dir) => {
      val prior = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prior_view",
          min(when(col("event_type") === "view", col("ts"))).over(prior))
        .withColumn("is_click2",
          col("event_type") === "click" && col("prior_view").isNotNull)
        .withColumn("prior_click2",
          min(when(col("is_click2"), col("ts"))).over(prior))
        .agg(
          countDistinct(when(col("event_type") === "view", col("user_id")))
            .as("users_view"),
          countDistinct(when(col("is_click2"), col("user_id")))
            .as("users_click_after_view"),
          countDistinct(when(col("event_type") === "purchase" &&
            col("prior_click2").isNotNull, col("user_id")))
            .as("users_purchase_funnel"))
    }),

    // First-touch attribution: every purchase credits the event type
    // that OPENED its session (>30-min-gap sessionization, the q13
    // rule). No session table is materialized and no join runs: the
    // session-opener's type rides forward on a running last-non-null
    // window over the same (user_id, ts, event_id) sort the gap
    // detection uses, so the whole attribution is ONE user_id shuffle
    // and a final O(event_types) aggregation. Revenue sums exact cents.
    "q37_attribution" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, 0)
      table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000 * 1000,
            1L).otherwise(0L))
        .withColumn("first_type",
          last(when(col("new_sess") === 1, col("event_type")), ignoreNulls = true)
            .over(run))
        .where(col("event_type") === "purchase")
        .groupBy(col("first_type"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("cents"))
        .orderBy("first_type")
    }),

    // Cohort retention: users grouped by first-active day, distinct
    // actives counted at each day offset. The cohort table comes from
    // ONE user_id-keyed aggregation; the join back reuses that hash
    // partitioning (exchange reuse, no second fact shuffle), and the
    // final (cohort, offset) aggregation shuffles only
    // O(cohorts x offsets) partially-aggregated rows.
    "q36_retention" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("d"), col("cohort_day")).cast("long").as("offset_days"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "offset_days")
    }),

    // Markov transition matrix over per-user event sequences: one
    // user_id shuffle for the lead() ordering, then the raw stream
    // collapses to the k×k (from, to) grain — transition probabilities
    // are one correctly-rounded division over a window sum at that
    // tiny grain, never over the input.
    "q38_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val grain = table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      grain
        .withColumn("p", col("n").cast("double")
          / sum(col("n")).over(Window.partitionBy(col("from_type"))))
        .orderBy("from_type", "to_type")
    }),

    // Top behavioural paths: per-user event TRIGRAMS from two lead()
    // windows sharing ONE user_id shuffle (same window spec ⇒ one
    // Window node, one sort), collapsed to the ≤k³ path grain before
    // the top-k — which Spark executes as TakeOrderedAndProject
    // (per-partition partial top-k, no global sort shuffle).
    "q39_paths" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .where(col("e3").isNotNull)
        .groupBy(col("event_type").as("step1"), col("e2").as("step2"),
          col("e3").as("step3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
        .limit(20)
    }),

    // SCD2 (type-2 slowly-changing-dimension) history build: collapse
    // each user's event stream into [valid_from, valid_to) intervals of
    // constant event_type — the change-collapse every warehouse needs
    // to turn snapshots/CDC feeds into queryable history. One shuffle
    // on the entity key; both windows and the run rollup reuse that
    // partitioning (per-entity cost bounded by per-entity row count —
    // the only scale shape an inherently ordered-per-entity op can
    // have; no global sort anywhere). run_seq is the surrogate key;
    // the open interval (valid_to null) is flagged is_current.
    "q44_scd2" -> ((s, dir) =>
      scd2History(table(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")
        .orderBy("user_id", "run_seq")),

    // Skew-safe per-group top-k via the native bounded-heap aggregate
    // ([[graft.functions.TopKAgg]]): map-side partial combine ships at
    // most k pairs per group per input partition — the window
    // row_number form ships every row of a group to one reducer, so
    // one hot key serializes the stage at scale. Same rows, same
    // order, plan-asserted ObjectHashAggregate partial+final.
    "q45_group_topk" -> ((s, dir) =>
      table(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(graft.functions.TopKAgg(
          col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("idx", "t")))
        .select(col("o_custkey"), (col("idx") + 1).cast("long").as("rank"),
          col("t.id").as("o_orderkey"), col("t.score").as("o_totalprice"))
        .orderBy("o_custkey", "rank")),
  )

  def oracles: Map[String, String] = Map(
    "q45_group_topk" ->
      """SELECT o_custkey, CAST(rn AS BIGINT) AS rank, o_orderkey, o_totalprice
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |   ROW_NUMBER() OVER (PARTITION BY o_custkey
        |     ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rank""".stripMargin,
    "q44_scd2" ->
      """WITH o AS (SELECT user_id, ts, event_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |r AS (SELECT user_id, ts, event_type,
        |    SUM(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run_seq
        |  FROM o),
        |h AS (SELECT user_id, CAST(run_seq AS BIGINT) AS run_seq,
        |    MIN(event_type) AS event_type, MIN(ts) AS valid_from,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM r GROUP BY 1, 2)
        |SELECT user_id, run_seq, event_type, valid_from,
        |  LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_seq) AS valid_to,
        |  n_events,
        |  (LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_seq) IS NULL) AS is_current
        |FROM h ORDER BY user_id, run_seq""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45 AND l_returnflag = 'R'""".stripMargin,
    "q3_join_broadcast" ->
      """SELECT c_mktsegment,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q4_join_multi" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q5_window" ->
      """SELECT o_custkey, o_orderkey, rk, running FROM (
        | SELECT o_custkey, o_orderkey,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
        | FROM orders) WHERE rk <= 2""".stripMargin,
    "q6_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
    "q7_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        | COUNT(*) AS n
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q8_distinct" ->
      """SELECT l_returnflag,
        | COUNT(DISTINCT l_partkey) AS n_parts,
        | COUNT(DISTINCT l_suppkey) AS n_supps,
        | COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q9_setops" ->
      """WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000),
        | pri AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        | m AS (SELECT * FROM (SELECT DISTINCT o_custkey FROM hi INTERSECT SELECT DISTINCT o_custkey FROM pri)
        |       UNION ALL
        |       SELECT DISTINCT o_custkey FROM (SELECT * FROM hi EXCEPT ALL SELECT * FROM pri))
        |SELECT o_custkey, COUNT(*) AS n FROM m GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q10_semi_anti" ->
      """SELECT c_custkey,
        | CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |      THEN 'has_big_order' ELSE 'no_big_order' END AS status
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q11_scalar_funcs" ->
      """SELECT o_orderkey,
        | UPPER(SUBSTRING(o_orderpriority, 1, 1)) AS prio_code,
        | CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
        | CAST(MONTH(o_orderdate) AS BIGINT) AS o_month,
        | CAST(LENGTH(o_orderstatus) AS BIGINT) AS status_len,
        | CAST(ABS(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(-1 AS DECIMAL(18,2))) AS DOUBLE) AS abs_price,
        | CASE WHEN o_totalprice > 200000 THEN 'high'
        |      WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS band,
        | COALESCE(NULLIF(o_orderstatus, 'O'), '~open~') AS status_or_token
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q12_time_bucket" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q14_asof_join" ->
      """SELECT c.event_id, c.user_id, c.ts AS click_ts, p.ts AS asof_purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,
    "q15_range_join" ->
      """WITH bands(band, lo, hi) AS (VALUES
        | ('low', 0, 100000), ('mid', 100000, 200000),
        | ('high', 200000, 300000), ('top', 300000, 1000000000))
        |SELECT band, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "q16_pivot" ->
      """SELECT o_orderstatus,
        | COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS p1,
        | COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS p2,
        | COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3,
        | COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
        | COUNT(*) FILTER (o_orderpriority = '5-LOW') AS p5
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q17_percentiles" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.5) AS p50,
        | quantile_cont(l_quantity, 0.9) AS p90,
        | quantile_cont(l_extendedprice, 0.99) AS p99_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q19_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q20_corr_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders i
        |                            WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q22_approx_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
        | COUNT(*) AS n_rows, TRUE AS sketch_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q21_unpivot" ->
      """WITH a AS (
        | SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, measure, value FROM (
        | SELECT l_returnflag, 'qty' AS measure, qty AS value FROM a
        | UNION ALL SELECT l_returnflag, 'price', price FROM a
        | UNION ALL SELECT l_returnflag, 'disc', disc FROM a)
        |ORDER BY l_returnflag, measure""".stripMargin,
    "q23_window_battery" ->
      """SELECT o_orderkey, o_orderstatus,
        | lag(o_orderkey, 1) OVER w AS prev_key,
        | lead(o_orderkey, 1) OVER w AS next_key,
        | CAST(rank() OVER w AS BIGINT) AS rnk,
        | CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | percent_rank() OVER w AS prank,
        | cume_dist() OVER w AS cdist
        |FROM orders WHERE o_orderkey < 2000
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q24_string_battery" ->
      """SELECT o_orderkey,
        | CAST(levenshtein(o_orderpriority, '1-URGENT') AS BIGINT) AS lev,
        | lpad(o_orderstatus, 5, '_') AS padded,
        | translate(o_orderpriority, '-', '_') AS translated,
        | regexp_extract(o_orderpriority, '^(\d+)-', 1) AS prio_num,
        | reverse(o_orderstatus) AS rev,
        | repeat(o_orderstatus, 3) AS rep,
        | split_part(o_orderpriority, '-', 2) AS prio_word
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin,
    "q25_date_battery" ->
      """SELECT o_orderkey,
        | CAST(o_orderdate AS DATE) + 30 AS plus30,
        | CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01') AS BIGINT) AS age_days,
        | last_day(CAST(o_orderdate AS DATE)) AS month_end,
        | CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
        | CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS dow,
        | CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS woy
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin,
    "q29_array_funcs" ->
      """SELECT doc_id,
        | CAST(len(ws) AS BIGINT) AS n,
        | CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
        | array_to_string(list_sort(ws)[1:3], '|') AS first3_sorted,
        | list_contains(ws, 'the') AS has_the
        |FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS ws
        |      FROM documents WHERE doc_id < 50)
        |ORDER BY doc_id""".stripMargin,
    "q30_map_funcs" ->
      """SELECT event_id,
        | array_to_string(list_sort(json_keys(props)), '|') AS ks,
        | CAST(len(json_keys(props)) AS BIGINT) AS n_entries,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
        |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin,
    "q27_approx_percentile" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        | CAST(round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) * 200) AS BIGINT) AS p50_x200,
        | TRUE AS sketch_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q28_weighted_avg" ->
      """SELECT l_returnflag,
        | round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
        |  / CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 6) AS wavg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q26_explode" ->
      """SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
        |FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS ws
        |      FROM documents WHERE doc_id < 50),
        |     UNNEST(range(1, len(ws) + 1)) AS r(i)
        |WHERE i <= 5
        |ORDER BY doc_id, pos""".stripMargin,
    "q18_json" ->
      """WITH e AS (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k,
        | MIN(k) AS min_k, MAX(k) AS max_k
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q31_join_shuffle" ->
      """SELECT o_orderpriority,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q13_sessionize" ->
      """WITH e AS (
        | SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |        OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000
        |       THEN 1 ELSE 0 END AS new_sess
        | FROM events),
        |s AS (
        | SELECT user_id, ts,
        |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_idx
        | FROM e)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sess_idx ORDER BY user_id, session_start""".stripMargin,
    "q33_range_window" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS epoch_us,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        | COUNT(*) OVER w AS n_trailing_hour,
        | CAST(SUM(cents) OVER w AS BIGINT) AS cents_trailing_hour
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q34_lateral_topn" ->
      """SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
        |FROM orders o,
        | LATERAL (SELECT l_linenumber, l_extendedprice FROM lineitem l
        |          WHERE l.l_orderkey = o.o_orderkey
        |          ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
        |WHERE o.o_totalprice > 400000
        |ORDER BY o.o_orderkey, t.l_extendedprice DESC, t.l_linenumber""".stripMargin,
    "q32_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q35_funnel" ->
      """WITH e AS (
        | SELECT user_id, ts, event_id, event_type,
        |  MIN(CASE WHEN event_type = 'view' THEN ts END) OVER
        |   (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view
        | FROM events),
        |e2 AS (
        | SELECT *, (event_type = 'click' AND prior_view IS NOT NULL) AS is_click2
        | FROM e),
        |e3 AS (
        | SELECT *,
        |  MIN(CASE WHEN is_click2 THEN ts END) OVER
        |   (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_click2
        | FROM e2)
        |SELECT
        | COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS users_view,
        | COUNT(DISTINCT CASE WHEN is_click2 THEN user_id END) AS users_click_after_view,
        | COUNT(DISTINCT CASE WHEN event_type = 'purchase' AND prior_click2 IS NOT NULL
        |       THEN user_id END) AS users_purchase_funnel
        |FROM e3""".stripMargin,
    "q38_transitions" ->
      """WITH seq AS (
        | SELECT event_type AS from_type,
        |  LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        | FROM events),
        |g AS (SELECT from_type, to_type, COUNT(*) AS n
        |      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        | CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS p
        |FROM g ORDER BY from_type, to_type""".stripMargin,
    "q39_paths" ->
      """WITH seq AS (
        | SELECT event_type AS step1,
        |  LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step2,
        |  LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step3
        | FROM events)
        |SELECT step1, step2, step3, COUNT(*) AS n
        |FROM seq WHERE step3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3 LIMIT 20""".stripMargin,
    "q37_attribution" ->
      """WITH e AS (
        | SELECT user_id, ts, event_id, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |       THEN 1 ELSE 0 END AS new_sess
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |e2 AS (
        | SELECT *,
        |  LAST_VALUE(CASE WHEN new_sess = 1 THEN event_type END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS UNBOUNDED PRECEDING) AS first_type
        | FROM e)
        |SELECT first_type, COUNT(*) AS n_purchases, CAST(SUM(cents) AS BIGINT) AS cents
        |FROM e2 WHERE event_type = 'purchase'
        |GROUP BY first_type ORDER BY first_type""".stripMargin,
    "q36_retention" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, MIN(d) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT cohort_day,
        | CAST(date_diff('day', cohort_day, d) AS BIGINT) AS offset_days,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM ev JOIN c USING (user_id)
        |GROUP BY cohort_day, offset_days
        |ORDER BY cohort_day, offset_days""".stripMargin,
  )
}
