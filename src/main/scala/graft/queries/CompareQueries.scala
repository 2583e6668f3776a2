package graft.queries

import graft.GraftSession.table
import graft.diff.{Comparator, CompareOptions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The comparator's own operator surface (SURVEY §2 O6/O7/O8/O15/O16/O17),
  * exposed as gate-checkable queries. The "target" dataset is derived
  * in-query from lineitem by a deterministic 1-row mutation — the
  * reference's own worked example mutates one row (`update … where a=50`,
  * /root/reference/example.md:259-265) and expects that row reported
  * from both sides.
  */
object CompareQueries {

  private val dec = DecimalType(18, 2)

  /** lineitem with one deterministic mutated row: the lexicographically
    * first (l_orderkey, l_linenumber) row gets l_quantity+1. Lazy — the
    * min is a broadcast scalar join, not a driver action. (Not "min
    * orderkey, linenumber=1": some SF samples have no linenumber 1 for
    * the min orderkey, which would silently make the mutation a no-op.)
    */
  def mutated(li: DataFrame): DataFrame = {
    val mk = broadcast(li.agg(
      min(struct(col("l_orderkey"), col("l_linenumber"))).as("__mk")))
    li.crossJoin(mk)
      .withColumn("l_quantity",
        when(struct(col("l_orderkey"), col("l_linenumber")) === col("__mk"),
          col("l_quantity") + 1).otherwise(col("l_quantity")))
      .drop("__mk")
      // restore original column order
      .select(li.columns.map(col).toIndexedSeq: _*)
  }

  /** Canonical row text for the parity fingerprint (O8/O9): explicit,
    * engine-independent rendering — ints verbatim, money as
    * DECIMAL(18,2) text, timestamps `yyyy-MM-dd HH:mm:ss` (the explicit
    * version of the reference forcing NLS_TIMESTAMP_FORMAT,
    * /root/reference/scribedb/oracle.py:140-145).
    */
  private def liCanon = concat_ws("|",
    col("l_orderkey"), col("l_linenumber"),
    col("l_quantity").cast(dec), col("l_extendedprice").cast(dec),
    col("l_returnflag"), col("l_linestatus"),
    date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O6 count aggregate.
    "cmp_count" -> ((s, dir) =>
      table(s, dir, "lineitem").agg(count(lit(1)).as("n"))),

    // O7 chunking: the reference re-creates a view per chunk with
    // LIMIT/OFFSET — O(chunks·n) total scan work
    // (/root/reference/scribedb/postgres.py:84-88). Here: ONE pass —
    // range-partitioned sort, then global row numbers from per-partition
    // offsets (zipWithIndex pattern). No single-partition window: a
    // `Window.orderBy` with no partitionBy funnels ALL rows through one
    // task, which is exactly the anti-pattern at scale. (The comparator
    // itself buckets by hash — no total order needed at all.)
    "cmp_bucket_assign" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val li = table(s, dir, "lineitem")
      val sorted = li
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
      val rn = sorted.as[(Long, Long)].rdd
        .zipWithIndex()
        .map { case ((k, _), i) => (k, i) }
        .toDF("l_orderkey", "rn")
      rn.withColumn("bucket_id", floor(col("rn") / 1000))
        .groupBy(col("bucket_id"))
        .agg(count(lit(1)).as("n"),
          min(col("l_orderkey")).as("first_key"),
          max(col("l_orderkey")).as("last_key"))
        .orderBy("bucket_id")
    }),

    // O8/O9 bucket fingerprint, parity form: per-bucket MD5 over the
    // sorted canonical rows. Order-insensitive by construction
    // (explicit sort inside the bucket) — fixing the reference's
    // order-source ambiguity (SURVEY §4 hazards). Computed as the
    // Parity.sortedMd5 streaming fold (repartition + sort-within-
    // partitions + incremental digest): O(1) memory per bucket, so the
    // parity form itself now survives arbitrary bucket sizes — no
    // collect_list materialization anywhere (PlanShapeSpec asserts).
    "cmp_fingerprint" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val c = li.select(liCanon.as("canon"))
      graft.functions.Parity
        .sortedMd5(c, substring(md5(col("canon")), 1, 1), col("canon"))
        .orderBy("bucket")
    }),

    // Hierarchical (Merkle) fingerprint tree over the same canonical
    // text: 256 leaf digests -> 16 prefix digests -> 1 root, parents =
    // md5 over child digests in node order. The store/localize walk
    // (FingerprintStore.writeMerkle/merkleLocalize) is spec-tested;
    // this gates the tree construction bit-for-bit.
    "cmp_merkle" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val c = li.select(liCanon.as("canon"))
      graft.diff.FingerprintStore.merkleTreePlan(c, hexLen = 2).df
        .orderBy("level", "node")
    }),

    // O15: hash-compare src vs mutated tgt at bucket granularity — the
    // mutated row's canon moves bucket, so up to 2 buckets differ.
    // 256 buckets (2 hex chars). Same streaming-fold fingerprint as
    // cmp_fingerprint: each side is one repartition+sort pass with O(1)
    // digest state per bucket, then the two O(256)-row fingerprint sets
    // full-outer join. (The default comparator fingerprint — commutative
    // hash sums — remains the production path; this is the byte-parity
    // twin.)
    "cmp_hash_detect" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      def fp(df: DataFrame, side: String) = {
        val c = df.select(liCanon.as("canon"))
        graft.functions.Parity
          .sortedMd5(c, substring(md5(col("canon")), 1, 2), col("canon"))
          .select(col("bucket"), col("fingerprint").as(s"${side}_fp"))
      }
      fp(li, "src").join(fp(mutated(li), "tgt"), Seq("bucket"), "full_outer")
        .where(col("src_fp") =!= col("tgt_fp") ||
          col("src_fp").isNull || col("tgt_fp").isNull)
        .select(col("bucket"))
        .orderBy("bucket")
    }),

    // O16+O17: row-level diff, both directions, bag semantics.
    "cmp_diff_orphans" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val tgt = mutated(li)
      val cols = li.columns.map(col).toIndexedSeq
      li.exceptAll(tgt).select(lit("source").as("side") +: cols: _*)
        .unionAll(tgt.exceptAll(li).select(lit("target").as("side") +: cols: _*))
        .orderBy("side")
    }),

    // The ACTION form of the diff: every orphan row rendered as one
    // executable reconciliation statement (insert the missing source
    // row, delete the extra target row) — exact DML text is the gate.
    // Orphans come from the PRODUCTION comparator path (fingerprint
    // compare + bucket-restricted fetch), not a corpus-wide bag diff:
    // at 100x data this is the cmp_verdict scale shape (~6x), where
    // the raw exceptAll diff measured 15.6x on the same legs.
    // The fixture plants BOTH diff kinds: a value mutation (one
    // insert + one delete) and a multiplicity diff (two extra copies
    // of the max-orderkey row, bag delta -2) — the latter must come
    // back flagged `delete_all_copies`, the over-delete hazard signal
    "cmp_repair" -> ((s, dir) => {
      val raw = table(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"), col("l_shipdate"))
      // mutate on the raw double, THEN fix the money type on both
      // sides (decimal + 1 would widen to (19,2) and trip the
      // positional schema gate — correctly)
      def money(df: DataFrame) = df.withColumn("l_quantity",
        col("l_quantity").cast("decimal(18,2)"))
      val src = money(raw)
      val base = money(mutated(raw))
      // the planted duplicate: the max-orderkey row (lowest linenumber)
      // appears three times in tgt, exploded in the one pass that
      // builds tgt against a 1-row broadcast key — no checkpoint job
      def lineKey = struct(col("l_orderkey"), -col("l_linenumber"))
      val key = broadcast(raw.agg(max(lineKey).as("__xk")))
      val tgt = base.crossJoin(key)
        .withColumn("__copy", explode(when(lineKey === col("__xk"),
          array(lit(1), lit(2), lit(3))).otherwise(array(lit(1)))))
        .select(base.columns.map(col).toIndexedSeq: _*)
      val rep = Comparator.compare(src, tgt, CompareOptions(numBuckets = 512))
      // orphansWithCopies: the over-delete flag rides the diff
      // aggregation's own bag delta — no full-row window in the plan
      Comparator.repairActions(rep.orphansWithCopies, "lineitem")
        .orderBy("action", "dml")
    }),

    // Full comparator end-to-end (the product): summary verdict row.
    "cmp_verdict" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val rep = Comparator.compare(li, mutated(li), CompareOptions(numBuckets = 512))
      rep.release() // scalar fields extracted below; drop the report caches
      import s.implicits._
      Seq((rep.srcRows, rep.tgtRows, rep.orphanSrc, rep.orphanTgt))
        .toDF("src_rows", "tgt_rows", "orphan_src", "orphan_tgt")
    }),

    // Post-migration audit: tgt dropped l_tax and added a load
    // timestamp; the aligned compare runs on the 10 shared columns
    // (where the planted mutation still lives) and REPORTS both
    // exclusions instead of failing the schema gate
    "cmp_aligned" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val migrated = mutated(li)
        .drop("l_tax")
        .withColumn("l_loaded_at", lit("2026-01-01"))
      val (rep, srcOnly, tgtOnly) = Comparator.compareAligned(
        li, migrated, CompareOptions(numBuckets = 512))
      rep.release()
      import s.implicits._
      Seq((rep.srcRows, rep.tgtRows, rep.orphanSrc, rep.orphanTgt,
        srcOnly.mkString(","), tgtOnly.mkString(",")))
        .toDF("src_rows", "tgt_rows", "orphan_src", "orphan_tgt",
          "src_only", "tgt_only")
    }),

    // Identical-input fast path: zero mismatched buckets, no row fetch.
    "cmp_verdict_identical" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val rep = Comparator.compare(li, table(s, dir, "lineitem"), CompareOptions(numBuckets = 512))
      rep.release()
      import s.implicits._
      Seq((rep.srcRows, rep.tgtRows, rep.mismatchedBuckets, rep.differences))
        .toDF("src_rows", "tgt_rows", "mismatched_buckets", "differences")
    }),

    // O8/O9 byte-parity fingerprint: the reference's exact chained-MD5
    // aggregate semantics (state ← upper(md5(state‖row)), init ''),
    // folded per bucket in explicit canonical order.
    "cmp_chained_md5" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val prep = li.select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(dec).as("l_quantity"),
        col("l_returnflag"), col("l_shipdate"))
      val canon = graft.functions.Parity.pgRecordText(prep)
      graft.functions.Parity.chainedMd5(prep, substring(md5(canon), 1, 1), canon)
        .orderBy("bucket")
    }),

    // O10 PG record-syntax canonical text incl. the whitespace-quoting
    // rule — demonstrated on documents (free text with spaces).
    "fn_pg_record" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      d.select(col("doc_id"),
        graft.functions.Parity.pgRecordText(d, Seq("doc_id", "text", "lang")).as("rec"))
        .orderBy("doc_id")
    }),

    // CDC classification over a synthetic keyed snapshot pair: one
    // update, one delete, one insert, the rest unchanged — the keyed
    // change feed next to the bag diff's orphan report
    "cmp_cdc" -> ((s, dir) => {
      val src = s.range(1, 1001).select(
        col("id").as("a"), (col("id") % 97).as("b"),
        concat(lit("row "), col("id")).as("c"))
      val tgt = src
        .withColumn("b", when(col("a") === 50, col("b") + 1).otherwise(col("b")))
        .where(col("a") =!= 77)
        .unionAll(s.range(1001, 1002).select(
          col("id").as("a"), lit(7L).as("b"), lit("new row").as("c")))
      Comparator.cdc(src, tgt, Seq("a"))
        .groupBy(col("verdict")).agg(count(lit(1)).as("n"))
        .orderBy("verdict")
    }),

    // sampled keyed audit: the same snapshots, 25% of the KEYSPACE —
    // every verdict inside the sample is exact (keys are fully in or
    // fully out on both sides)
    "cmp_cdc_sampled" -> ((s, dir) => {
      val src = s.range(1, 1001).select(
        col("id").as("a"), (col("id") % 97).as("b"),
        concat(lit("row "), col("id")).as("c"))
      val tgt = src
        .withColumn("b", when(col("a") === 50, col("b") + 1).otherwise(col("b")))
        .where(col("a") =!= 77)
        .unionAll(s.range(1001, 1002).select(
          col("id").as("a"), lit(7L).as("b"), lit("new row").as("c")))
      Comparator.cdcSampled(src, tgt, Seq("a"), fraction = 0.25)
        .groupBy(col("verdict")).agg(count(lit(1)).as("n"))
        .orderBy("verdict")
    }),

    // Morton layout code over two layout columns — the clustered-write
    // ordering key (Sinks.writeZOrdered); pure codegen'd bit ladder
    "fn_zorder" -> ((s, dir) => {
      val p = table(s, dir, "part")
      p.select(col("p_partkey"), col("p_size"),
        graft.functions.ZOrder.zorder2(col("p_partkey"), col("p_size")).as("z"))
        .orderBy("p_partkey")
    }),

    // 3-column Morton code (the zorderN generic ladder) — same
    // bit-for-bit contract as fn_zorder, third dimension from the
    // type-string length (deterministic in both engines)
    "fn_zorder3" -> ((s, dir) => {
      val p = table(s, dir, "part")
      p.select(col("p_partkey"), col("p_size"),
        length(col("p_type")).cast("long").as("tlen"),
        graft.functions.ZOrder.zorderN(Seq(
          col("p_partkey"), col("p_size"),
          length(col("p_type")))).as("z"))
        .orderBy("p_partkey")
    }),

    // The reference's own worked example, end to end: t_test(a,b,c)
    // with 50,000 generated rows, one row mutated (`update … where
    // a=50`), the mutated row reported from BOTH sides
    // (/root/reference/example.md:116-122,259-325). Bench-comparable
    // to BASELINE's ~16 s wall for this exact scenario.
    "cmp_ref_scenario" -> ((s, dir) => {
      val src = s.range(1, 50001).select(
        col("id").cast("int").as("a"),
        (col("id") % 1000).cast("int").as("b"),
        concat(lit("the quick brown fox jumped over the lazy dog number "), col("id")).as("c"))
      val tgt = src
        .withColumn("b", when(col("a") === 50, col("b") + 10).otherwise(col("b")))
        .withColumn("c", when(col("a") === 50, concat(col("c"), lit(" changed"))).otherwise(col("c")))
      val rep = Comparator.compare(src, tgt, CompareOptions(numBuckets = 512))
      rep.orphans.orderBy("side", "a")
    }),

    // Column-level keyed diff: WHICH cells changed, not just which
    // rows — finer-grained than the reference's whole-row orphan print.
    // Keyed on orders.o_orderkey (unique — validated; lineitem's
    // (orderkey, linenumber) is NOT unique in this corpus).
    "cmp_column_diff" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      Comparator.validateKeys(o, Seq("o_orderkey"))
      Comparator.columnDiff(o, mutatedOrders(o), Seq("o_orderkey"))
        .orderBy("o_orderkey", "column")
    }),
  )

  /** orders with the min-orderkey row's o_totalprice bumped by 1. */
  def mutatedOrders(o: DataFrame): DataFrame = {
    val mk = broadcast(o.agg(min(col("o_orderkey")).as("__mk")))
    o.crossJoin(mk)
      .withColumn("o_totalprice",
        when(col("o_orderkey") === col("__mk"), col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")))
      .drop("__mk")
      .select(o.columns.map(col).toIndexedSeq: _*)
  }

  private val ordNonKeyCols = Seq("o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")

  private val liCanonSql =
    """l_orderkey || '|' || l_linenumber || '|' ||
      | CAST(l_quantity AS DECIMAL(18,2)) || '|' || CAST(l_extendedprice AS DECIMAL(18,2)) || '|' ||
      | l_returnflag || '|' || l_linestatus || '|' || strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')"""
      .stripMargin.replaceAll("\\s+", " ")

  private val mutatedSql =
    """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
      | CASE WHEN l_orderkey = (SELECT MIN(l_orderkey) FROM lineitem)
      |       AND l_linenumber = (SELECT MIN(l_linenumber) FROM lineitem
      |                           WHERE l_orderkey = (SELECT MIN(l_orderkey) FROM lineitem))
      |      THEN l_quantity + 1 ELSE l_quantity END AS l_quantity,
      | l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
      |FROM lineitem""".stripMargin

  def oracles: Map[String, String] = Map(
    "cmp_count" -> "SELECT COUNT(*) AS n FROM lineitem",
    "cmp_bucket_assign" ->
      """SELECT bucket_id, COUNT(*) AS n, MIN(l_orderkey) AS first_key, MAX(l_orderkey) AS last_key
        |FROM (SELECT l_orderkey,
        |  CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1) / 1000) AS BIGINT) AS bucket_id
        |  FROM lineitem)
        |GROUP BY bucket_id ORDER BY bucket_id""".stripMargin,
    "cmp_fingerprint" ->
      s"""WITH c AS (SELECT $liCanonSql AS canon FROM lineitem)
         |SELECT substr(md5(canon), 1, 1) AS bucket,
         |  md5(string_agg(canon, chr(10) ORDER BY canon)) AS fingerprint,
         |  COUNT(*) AS n
         |FROM c GROUP BY 1 ORDER BY bucket""".stripMargin,
    "cmp_merkle" ->
      s"""WITH c AS (SELECT $liCanonSql AS canon FROM lineitem),
         |l0 AS (SELECT substr(md5(canon), 1, 2) AS node,
         |   md5(string_agg(canon, chr(10) ORDER BY canon)) AS fingerprint,
         |   COUNT(*) AS n
         |  FROM c GROUP BY 1),
         |l1 AS (SELECT substr(node, 1, 1) AS node,
         |   md5(string_agg(fingerprint, chr(10) ORDER BY node)) AS fingerprint,
         |   CAST(SUM(n) AS BIGINT) AS n
         |  FROM l0 GROUP BY 1),
         |l2 AS (SELECT '' AS node,
         |   md5(string_agg(fingerprint, chr(10) ORDER BY node)) AS fingerprint,
         |   CAST(SUM(n) AS BIGINT) AS n
         |  FROM l1)
         |SELECT 0 AS level, node, fingerprint, CAST(n AS BIGINT) AS n FROM l0
         |UNION ALL SELECT 1 AS level, node, fingerprint, n FROM l1
         |UNION ALL SELECT 2 AS level, node, fingerprint, n FROM l2
         |ORDER BY level, node""".stripMargin,
    "cmp_hash_detect" ->
      s"""WITH src AS (SELECT substr(md5(canon),1,2) AS bucket,
         |   md5(string_agg(canon, chr(10) ORDER BY canon)) AS src_fp
         |  FROM (SELECT $liCanonSql AS canon FROM lineitem) GROUP BY 1),
         | tgtc AS (SELECT $liCanonSql AS canon FROM ($mutatedSql)),
         | tgt AS (SELECT substr(md5(canon),1,2) AS bucket,
         |   md5(string_agg(canon, chr(10) ORDER BY canon)) AS tgt_fp
         |  FROM tgtc GROUP BY 1)
         |SELECT COALESCE(src.bucket, tgt.bucket) AS bucket
         |FROM src FULL OUTER JOIN tgt ON src.bucket = tgt.bucket
         |WHERE src_fp IS DISTINCT FROM tgt_fp
         |ORDER BY bucket""".stripMargin,
    // the repair replay: same projected diff, every value rendered
    // through the canonical text + ''-doubled SQL quoting, identical
    // statement assembly (uniform quoting, numbers included)
    "cmp_repair" -> {
      val render = Map(
        "l_orderkey" -> "CAST(l_orderkey AS VARCHAR)",
        "l_linenumber" -> "CAST(l_linenumber AS VARCHAR)",
        "l_quantity" -> "CAST(l_quantity AS VARCHAR)",
        "l_returnflag" -> "l_returnflag",
        "l_shipdate" -> "strftime(l_shipdate, '%Y-%m-%d %H:%M:%S.%f')")
      val colsR = Seq("l_orderkey", "l_linenumber", "l_quantity",
        "l_returnflag", "l_shipdate")
      def q(n: String) =
        s"(CASE WHEN $n IS NULL THEN 'NULL' ELSE '''' || replace(${render(n)}, '''', '''''') || '''' END)"
      val insertVals = colsR.map(q).mkString(" || ', ' || ")
      val whereCond = colsR.map(n =>
        s"(CASE WHEN $n IS NULL THEN '$n IS NULL' ELSE '$n = ' || ${q(n)} END)")
        .mkString(" || ' AND ' || ")
      s"""WITH src AS (SELECT l_orderkey, l_linenumber,
         |  CAST(l_quantity AS DECIMAL(18,2)) AS l_quantity,
         |  l_returnflag, l_shipdate FROM lineitem),
         |mk AS (SELECT MIN(l_orderkey) AS mo FROM lineitem),
         |mk2 AS (SELECT MIN(l_linenumber) AS ml FROM lineitem
         |        WHERE l_orderkey = (SELECT mo FROM mk)),
         |xk AS (SELECT MAX(l_orderkey) AS xo FROM lineitem),
         |xk2 AS (SELECT MIN(l_linenumber) AS xl FROM lineitem
         |        WHERE l_orderkey = (SELECT xo FROM xk)),
         |tgt0 AS (SELECT l_orderkey, l_linenumber,
         |  CAST(CASE WHEN l_orderkey = (SELECT mo FROM mk)
         |             AND l_linenumber = (SELECT ml FROM mk2)
         |            THEN l_quantity + 1 ELSE l_quantity END
         |       AS DECIMAL(18,2)) AS l_quantity,
         |  l_returnflag, l_shipdate FROM lineitem),
         |extra AS (SELECT * FROM tgt0
         |  WHERE l_orderkey = (SELECT xo FROM xk)
         |    AND l_linenumber = (SELECT xl FROM xk2)),
         |tgt AS (SELECT * FROM tgt0 UNION ALL SELECT * FROM extra
         |        UNION ALL SELECT * FROM extra),
         |so AS (SELECT * FROM src EXCEPT ALL SELECT * FROM tgt),
         |to2 AS (SELECT * FROM tgt EXCEPT ALL SELECT * FROM src),
         |acts AS (
         | SELECT 'source' AS side, 'insert' AS action,
         |  'INSERT INTO lineitem (${colsR.mkString(", ")}) VALUES ('
         |   || $insertVals || ')' AS dml
         | FROM so
         | UNION ALL
         | SELECT 'target' AS side,
         |  CASE WHEN COUNT(*) OVER (PARTITION BY ${colsR.mkString(", ")}) > 1
         |       THEN 'delete_all_copies' ELSE 'delete' END AS action,
         |  'DELETE FROM lineitem WHERE ' || $whereCond AS dml
         | FROM to2)
         |SELECT side, action, dml FROM acts ORDER BY action, dml""".stripMargin
    },
    "cmp_diff_orphans" ->
      s"""WITH tgt AS ($mutatedSql)
         |SELECT 'source' AS side, * FROM (SELECT * FROM lineitem EXCEPT ALL SELECT * FROM tgt)
         |UNION ALL
         |SELECT 'target' AS side, * FROM (SELECT * FROM tgt EXCEPT ALL SELECT * FROM lineitem)
         |ORDER BY side""".stripMargin,
    "cmp_verdict" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS src_rows, CAST(COUNT(*) AS BIGINT) AS tgt_rows,
        | CAST(1 AS BIGINT) AS orphan_src, CAST(1 AS BIGINT) AS orphan_tgt
        |FROM lineitem""".stripMargin,
    "cmp_verdict_identical" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS src_rows, CAST(COUNT(*) AS BIGINT) AS tgt_rows,
        | CAST(0 AS BIGINT) AS mismatched_buckets, CAST(0 AS BIGINT) AS differences
        |FROM lineitem""".stripMargin,
    "cmp_aligned" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS src_rows,
        | CAST(COUNT(*) AS BIGINT) AS tgt_rows,
        | CAST(1 AS BIGINT) AS orphan_src, CAST(1 AS BIGINT) AS orphan_tgt,
        | 'l_tax' AS src_only, 'l_loaded_at' AS tgt_only
        |FROM lineitem""".stripMargin,
    "cmp_chained_md5" ->
      """WITH c AS (SELECT '(' || l_orderkey || ',' || l_linenumber || ','
        |  || CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) || ','
        |  || l_returnflag || ','
        |  || strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') || ')' AS canon
        | FROM lineitem)
        |SELECT substr(md5(canon), 1, 1) AS bucket,
        | list_reduce(list_prepend('', list(canon ORDER BY canon)),
        |             (s, x) -> upper(md5(s || x))) AS chain_md5
        |FROM c GROUP BY 1 ORDER BY bucket""".stripMargin,
    "fn_pg_record" ->
      """SELECT doc_id, '(' || doc_id || ','
        | || CASE WHEN regexp_matches(text, '\s') THEN '"' || text || '"' ELSE COALESCE(text, '') END || ','
        | || COALESCE(lang, '') || ')' AS rec
        |FROM documents ORDER BY doc_id""".stripMargin,
    "cmp_cdc" ->
      """WITH src AS (SELECT r AS a, r % 97 AS b, 'row ' || r AS c
        |  FROM range(1, 1001) t(r)),
        |tgt AS (SELECT a, CASE WHEN a = 50 THEN b + 1 ELSE b END AS b, c
        |  FROM src WHERE a <> 77
        |  UNION ALL SELECT 1001, 7, 'new row'),
        |hs AS (SELECT a, md5(COALESCE(md5(CAST(b AS VARCHAR)), 'N')
        |  || COALESCE(md5(c), 'N')) AS h FROM src),
        |ht AS (SELECT a, md5(COALESCE(md5(CAST(b AS VARCHAR)), 'N')
        |  || COALESCE(md5(c), 'N')) AS h FROM tgt),
        |j AS (SELECT hs.h AS h1, ht.h AS h2
        |  FROM hs FULL JOIN ht ON hs.a = ht.a),
        |v AS (SELECT CASE WHEN h1 IS NULL THEN 'insert'
        |  WHEN h2 IS NULL THEN 'delete'
        |  WHEN h1 <> h2 THEN 'update' ELSE 'unchanged' END AS verdict FROM j)
        |SELECT verdict, COUNT(*) AS n FROM v
        |GROUP BY verdict ORDER BY verdict""".stripMargin,
    "cmp_cdc_sampled" -> {
      val frac = graft.operators.Sampling.hashFractionSql("CAST(a AS VARCHAR)", "cdc")
      s"""WITH src0 AS (SELECT r AS a, r % 97 AS b, 'row ' || r AS c
         |  FROM range(1, 1001) t(r)),
         |tgt0 AS (SELECT a, CASE WHEN a = 50 THEN b + 1 ELSE b END AS b, c
         |  FROM src0 WHERE a <> 77
         |  UNION ALL SELECT 1001, 7, 'new row'),
         |src AS (SELECT * FROM src0 WHERE $frac < 0.25),
         |tgt AS (SELECT * FROM tgt0 WHERE $frac < 0.25),
         |hs AS (SELECT a, md5(COALESCE(md5(CAST(b AS VARCHAR)), 'N')
         |  || COALESCE(md5(c), 'N')) AS h FROM src),
         |ht AS (SELECT a, md5(COALESCE(md5(CAST(b AS VARCHAR)), 'N')
         |  || COALESCE(md5(c), 'N')) AS h FROM tgt),
         |j AS (SELECT hs.h AS h1, ht.h AS h2
         |  FROM hs FULL JOIN ht ON hs.a = ht.a),
         |v AS (SELECT CASE WHEN h1 IS NULL THEN 'insert'
         |  WHEN h2 IS NULL THEN 'delete'
         |  WHEN h1 <> h2 THEN 'update' ELSE 'unchanged' END AS verdict FROM j)
         |SELECT verdict, COUNT(*) AS n FROM v
         |GROUP BY verdict ORDER BY verdict""".stripMargin
    },

    "fn_zorder" ->
      """WITH s0 AS (SELECT p_partkey, p_size,
        |  CAST(p_partkey AS BIGINT) & 65535 AS a,
        |  CAST(p_size AS BIGINT) & 65535 AS b FROM part),
        |s1 AS (SELECT *, (a | (a << 8)) & 16711935 AS a1,
        |  (b | (b << 8)) & 16711935 AS b1 FROM s0),
        |s2 AS (SELECT *, (a1 | (a1 << 4)) & 252645135 AS a2,
        |  (b1 | (b1 << 4)) & 252645135 AS b2 FROM s1),
        |s3 AS (SELECT *, (a2 | (a2 << 2)) & 858993459 AS a3,
        |  (b2 | (b2 << 2)) & 858993459 AS b3 FROM s2),
        |s4 AS (SELECT *, (a3 | (a3 << 1)) & 1431655765 AS a4,
        |  (b3 | (b3 << 1)) & 1431655765 AS b4 FROM s3)
        |SELECT p_partkey, p_size, a4 | (b4 << 1) AS z
        |FROM s4 ORDER BY p_partkey""".stripMargin,
    // the zorderN generic ladder reproduced term-for-term: column j's
    // bit i lands at position 3i + j (16 bits per column, 48 total)
    "fn_zorder3" -> {
      def spread(src: String, j: Int): String =
        (0 until 16)
          .map(i => s"((($src >> $i) & 1) << ${3 * i + j})")
          .mkString(" | ")
      s"""WITH s0 AS (SELECT p_partkey, p_size,
         |  CAST(LENGTH(p_type) AS BIGINT) AS tlen,
         |  CAST(p_partkey AS BIGINT) & 65535 AS xa,
         |  CAST(p_size AS BIGINT) & 65535 AS xb,
         |  CAST(LENGTH(p_type) AS BIGINT) & 65535 AS xc FROM part)
         |SELECT p_partkey, p_size, tlen,
         |  ${spread("xa", 0)} |
         |  ${spread("xb", 1)} |
         |  ${spread("xc", 2)} AS z
         |FROM s0 ORDER BY p_partkey""".stripMargin
    },
    "cmp_ref_scenario" ->
      """WITH src AS (
        | SELECT CAST(r AS INT) AS a, CAST(r % 1000 AS INT) AS b,
        |  'the quick brown fox jumped over the lazy dog number ' || r AS c
        | FROM range(1, 50001) AS t(r)),
        |tgt AS (
        | SELECT a,
        |  CASE WHEN a = 50 THEN b + 10 ELSE b END AS b,
        |  CASE WHEN a = 50 THEN c || ' changed' ELSE c END AS c
        | FROM src)
        |SELECT 'source' AS side, * FROM (SELECT * FROM src EXCEPT ALL SELECT * FROM tgt)
        |UNION ALL
        |SELECT 'target' AS side, * FROM (SELECT * FROM tgt EXCEPT ALL SELECT * FROM src)
        |ORDER BY side, a""".stripMargin,
    "cmp_column_diff" -> {
      val unions = ordNonKeyCols.map { c =>
        s"""SELECT o_orderkey, '$c' AS "column",
           | CAST(s.$c AS VARCHAR) AS src_value, CAST(t.$c AS VARCHAR) AS tgt_value
           |FROM orders s JOIN tgt t USING (o_orderkey)
           |WHERE s.$c IS DISTINCT FROM t.$c""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH tgt AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |   CASE WHEN o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
         |        THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
         |   o_orderdate, o_orderpriority
         |  FROM orders)
         |SELECT * FROM (
         |$unions
         |) ORDER BY o_orderkey, "column"""".stripMargin
    },
  )
}
