package graft.diff

import graft.canon.Canonicalizer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType,
  StructField}

/** How strictly the two schemas must agree before comparing.
  * The reference's only gate is select-list arity parsed out of the SQL
  * text (/root/reference/scribedb/base.py:71-72,
  * /root/reference/main.py:157-168) — names/types are unchecked and a
  * `(int,text)` vs `(text,int)` pair fails only at hash time (SURVEY
  * §1.3). Spark's `StructType` makes stronger gates free.
  */
sealed trait SchemaCheck
object SchemaCheck {
  case object ArityOnly  extends SchemaCheck // reference-faithful
  case object Positional extends SchemaCheck // arity + types by position
  case object Exact      extends SchemaCheck // + names
}

/** Planner knobs. `maxDelta` and `fetchRows` implement, for real, the
  * reference's dead `max_delta` config field (/root/reference/main.py:153)
  * and never-read `--search_diff` flag
  * (/root/reference/command_line.py:19-27).
  */
/** `persistScans`: keep each side's hashed+bucketed rows in serialized
  * spillable storage for the duration of the compare, so the mismatch
  * path re-reads the cache instead of re-scanning and re-hashing the
  * input. Default OFF: with the no-render rowHash a second scan+hash
  * is cheaper than the cache write+read (measured 2.6× on the
  * identical-inputs case, which never needs the second pass at all),
  * and a streaming fingerprint pass puts zero pressure on executor
  * storage at any scale. Set true when a side is expensive or UNSTABLE
  * to re-scan — above all JDBC sources, where a re-scan re-runs the
  * remote query and a live database may return different rows the
  * second time (the CLI enables it automatically for JDBC sides); the
  * cache then pins the snapshot taken by the first pass.
  */
/** `progress`: per-stage progress callback (O19 analog of the
  * reference's per-chunk `i/loops OK|NOK … eta%` lines,
  * /root/reference/main.py:227-247) — stage-level here because the
  * engine runs O(1) dataflow stages, not O(chunks) round trips. No-op
  * by default; the CLI wires it to stderr.
  */
/** `maxMismatchFraction`: orphan-volume circuit breaker. When more
  * than this fraction of non-empty buckets mismatch, the inputs are
  * not "one dataset with some drift" but materially different (the
  * limit case: two unrelated 100 TB datasets mismatch EVERY bucket,
  * and the "restricted" mismatch re-scan degenerates to re-reading
  * both inputs in full). The row fetch is then skipped: the report
  * carries the bucket-level verdict + per-bucket count table and
  * signals `circuitBroken`/`countsUnknown` instead of silently
  * launching a full-input diff. 1.0 disables the breaker (always
  * fetch); 0.25 is the default guard.
  *
  * `breakerMinRows`: the breaker arms only when the projected fetch
  * volume — (srcRows+tgtRows)·mismatchFraction — reaches this many
  * rows. The breaker exists to stop a RE-SCAN-EVERYTHING accident, so
  * a high mismatch fraction over a small input (where the fetch is
  * trivially cheap — unit diffs, small tables, high-churn feeds)
  * must not withhold counts.
  */
final case class CompareOptions(
    numBuckets: Int = 4096,
    maxDelta: Long = 0L,
    fetchRows: Boolean = true,
    schemaCheck: SchemaCheck = SchemaCheck.Positional,
    persistScans: Boolean = false,
    maxMismatchFraction: Double = 0.25,
    breakerMinRows: Long = 1000000L,
    progress: String => Unit = _ => ())

/** Result of a comparison. `orphans` is lazy (a DataFrame over the
  * cached rows the mismatch fetch kept: the orphan rows of decoded
  * buckets and every row of the buckets fetched whole — consuming it
  * does not re-scan the inputs); `buckets` is the per-bucket match
  * table (bucket, src_cnt, tgt_cnt, ok — the reference's per-chunk
  * OK/NOK view, O19); the scalar fields hold the already-materialized
  * counts. Call [[DiffReport.release]] when done to drop the small
  * retained caches (orphans/buckets recompute from source afterwards).
  */
final case class DiffReport(
    srcRows: Long,
    tgtRows: Long,
    totalBuckets: Long,
    mismatchedBuckets: Long,
    orphanSrc: Long,
    orphanTgt: Long,
    maxDelta: Long,
    orphans: DataFrame,
    buckets: DataFrame,
    private val retained: Seq[DataFrame] = Nil,
    circuitBroken: Boolean = false,
    private val orphansDetail: Option[DataFrame] = None) {
  /** `orphans` plus the internal `__copies` column — the per-row bag
    * |delta| the diff aggregation already computed. Feed THIS to
    * [[Comparator.repairActions]]: the over-delete signal then rides
    * the existing aggregation instead of a full-row window over the
    * orphans (one Exchange+Sort+Window less in the repair plan).
    */
  def orphansWithCopies: DataFrame = orphansDetail.getOrElse(orphans)
  /** Unpersist the small caches backing `orphans`/`buckets`. */
  def release(): Unit = retained.foreach(_.unpersist())
  /** True when row-level counts were not fetched (fetchRows=false with
    * mismatched buckets) — difference is known but not quantified.
    */
  def countsUnknown: Boolean = orphanSrc < 0 || orphanTgt < 0
  def differences: Long = if (countsUnknown) -1L else orphanSrc + orphanTgt
  def identical: Boolean = mismatchedBuckets == 0
  /** Exit-code contract of the reference: 0 iff within tolerance
    * (/root/reference/main.py:263-267). Unquantified differences can
    * never be "within" a tolerance.
    */
  def withinTolerance: Boolean =
    identical || (!countsUnknown && differences <= maxDelta)
  def verdict: String =
    if (identical) "Datasets are identical"
    else if (circuitBroken)
      s"Datasets are materially different: $mismatchedBuckets of $totalBuckets buckets " +
        "mismatch — row fetch skipped (mismatch fraction over the circuit-breaker limit; " +
        "see the per-bucket table, or rerun with a higher max_mismatch_fraction)"
    else if (countsUnknown)
      s"Datasets are different: $mismatchedBuckets mismatched buckets (row counts not fetched)"
    else s"Datasets are different: $orphanSrc source-only, $orphanTgt target-only rows" +
      (if (withinTolerance) s" (within maxDelta=$maxDelta)" else "")
}

/** Distributed dataset-equality / data-diff engine — the Spark-native
  * rebuild of the reference's entire pipeline
  * (/root/reference/main.py:147-267), executed as THREE lazy dataflow
  * stages instead of `2·loops` sequential network round-trips:
  *
  *  1. hash each row to two independent 64-bit values over its native
  *     column values + null pattern (Canonicalizer.rowHash) — replaces
  *     the in-DB text rendering feeding the MD5 chain
  *     (/root/reference/scribedb/postgres.py:17-30) with a codegen'd
  *     no-render equivalent; the textual canonical form remains
  *     available for parity fingerprints (Parity, cmp_fingerprint).
  *  2. bucket by `pmod(rowHash, numBuckets)` and aggregate a
  *     COMMUTATIVE fingerprint per bucket: (count, sum(h1), sum(h2)).
  *     Unlike the reference's order-dependent chained MD5 — whose own
  *     Oracle parallel Merge is inconsistent with serial execution
  *     (/root/reference/scribedb/oracle.py:77-81) — a sum-of-hashes
  *     fingerprint is order-independent, bag-correct (duplicates shift
  *     the sum), map-side combinable (partial aggregation before the
  *     shuffle), and needs NO total order on the data, removing the
  *     reference's fragile user-must-ORDER-BY contract
  *     (/root/reference/example.md:188-192). One shuffle of
  *     numBuckets×3 values regardless of data size, plus, in
  *     [[compare]] only, the decode's purity checksum (`keyCheck`).
  *  3. full-outer join the two fingerprint sets on bucket_id (tiny)
  *     and decode each mismatched bucket whose delta is one distinct
  *     row (see [[compare]]); only the decoded rows, plus every row of
  *     the buckets that do not decode, are then re-scanned and
  *     bag-diffed by one signed per-row-hash multiplicity delta
  *     (bagPick — bag semantics both directions, stricter than the
  *     reference's Python set-diff which ignores multiplicity,
  *     /root/reference/main.py:116-137).
  *
  * The row hashes, the bucket, the per-bucket cell and the mismatch
  * rule of stages 1–3 are `graft.diff.Fingerprint`: one fingerprint
  * algebra, which [[FingerprintStore]] and the streaming diffs
  * ([[graft.streaming.Streaming.diffStreams]]) share, so every path
  * calls a bucket clean on the same evidence.
  *
  * At 100 TB: stage-2 output is O(numBuckets), independent of input;
  * the expensive re-scan in stage 3 reads only `mismatched/numBuckets`
  * of the data and keeps the orphan rows of decoded buckets, and the
  * bucket restriction is a semi-join (no driver collect), so nothing
  * on this path is bounded by driver memory.
  */
object Comparator {

  // types compare MODULO nullability metadata: containsNull/nullable
  // describe what a side could hold, not what it does — a parquet side
  // and a constructed side carrying identical values must pass
  private def sameType(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean =
    org.apache.spark.sql.graftshim.TypeBridge.sameTypeIgnoreNullability(a, b)

  def schemaGate(src: DataFrame, tgt: DataFrame, check: SchemaCheck): Unit = {
    val (s, t) = (src.schema, tgt.schema)
    if (s.length != t.length)
      throw new IllegalArgumentException(
        s"Schema arity mismatch: source has ${s.length} columns, target has ${t.length}")
    check match {
      case SchemaCheck.ArityOnly => ()
      case SchemaCheck.Positional =>
        s.zip(t).zipWithIndex.foreach { case ((a, b), i) =>
          if (!sameType(a.dataType, b.dataType))
            throw new IllegalArgumentException(
              s"Schema type mismatch at position $i: ${a.name}:${a.dataType} vs ${b.name}:${b.dataType}")
        }
      case SchemaCheck.Exact =>
        s.zip(t).zipWithIndex.foreach { case ((a, b), i) =>
          if (a.name != b.name || !sameType(a.dataType, b.dataType))
            throw new IllegalArgumentException(
              s"Schema mismatch at position $i: ${a.name}:${a.dataType} vs ${b.name}:${b.dataType}")
        }
    }
  }

  /** [[compare]]'s hashed and bucketed rows: `df` + `__h`, `__h2`,
    * `__bucket` (the fingerprint algebra's row hashes and bucket).
    */
  def withBuckets(df: DataFrame, numBuckets: Int,
      valueForms: Map[String, Column] = Map.empty): DataFrame =
    Fingerprint.withBuckets(df, numBuckets, "input", valueForms)

  /** Hash inputs for the positions whose source and target types
    * differ — only [[SchemaCheck.ArityOnly]] lets such a position
    * through the gate: both sides hash the same value-level text
    * ([[Canonicalizer.crossTypeText]]), so `150` vs `1.50` is a
    * difference while int vs bigint stays equal. Positions of equal
    * type keep the native hash, so every other compare (and every
    * stored fingerprint) hashes exactly as before.
    */
  private def crossTypeForms(src: DataFrame, tgt: DataFrame)
      : (Map[String, Column], Map[String, Column]) = {
    val pairs = src.schema.zip(tgt.schema).filterNot { case (a, b) =>
      sameType(a.dataType, b.dataType)
    }
    def forms(df: DataFrame, fields: Seq[(StructField, StructField)]) =
      fields.map { case (mine, other) =>
        mine.name -> Canonicalizer.crossTypeText(
          df.col(mine.name), mine.dataType, other.dataType)
      }.toMap
    (forms(src, pairs), forms(tgt, pairs.map(_.swap)))
  }

  /** Per-bucket commutative fingerprint of a [[withBuckets]] frame:
    * one row per non-empty bucket, (`__bucket`, cnt, hsum, h2sum).
    */
  def fingerprints(bucketed: DataFrame): DataFrame = Fingerprint.cells(bucketed)

  /** The decode's purity checksum of a row hash: 24 bits of an
    * independent hash of `h`. Summed per bucket it is the
    * invertible-Bloom-lookup-table "hashSum" cell: a bucket whose delta
    * is one row `k` times over has `Δcsum = k·keyCheck(key)`, which a
    * mixed bucket meets by chance about once in 2²⁴. The sum and
    * `numBuckets` alone cannot tell the two apart: every row of a
    * bucket has the same `h mod numBuckets`, so for any odd `k` a mixed
    * delta also divides and buckets back to its own bucket. 24 bits
    * keep the long sum exact up to 2³⁹ rows per bucket.
    */
  private def keyCheck(h: Column): Column = shiftrightunsigned(xxhash64(h), 40)

  /** Schema-evolution alignment — the pre-step for comparing across a
    * migration that ADDED or DROPPED columns: project both sides onto
    * their COMMON column set (matched case-insensitively, kept in the
    * source's column order so positional canonicalization stays
    * deterministic) and report what each side carries that the other
    * lacks. The explicit alternative to the schema gate's hard failure
    * when the question is "did the rows survive the migration", not
    * "are the schemas identical" — the exclusions are surfaced, never
    * silently eaten (the no-silent-caps convention).
    *
    * Returns (alignedSrc, alignedTgt, srcOnlyCols, tgtOnlyCols).
    * Refuses disjoint schemas: comparing zero shared columns would
    * vacuously pass.
    */
  def alignSchemas(src: DataFrame, tgt: DataFrame)
      : (DataFrame, DataFrame, Seq[String], Seq[String]) = {
    val tgtByLower = tgt.columns.map(c => c.toLowerCase -> c).toMap
    val srcLower = src.columns.map(_.toLowerCase).toSet
    val common = src.columns.filter(c => tgtByLower.contains(c.toLowerCase))
    if (common.isEmpty)
      throw new IllegalArgumentException(
        s"aligned compare impossible: no shared columns between " +
          s"[${src.columns.mkString(",")}] and [${tgt.columns.mkString(",")}]")
    val srcOnly = src.columns.filterNot(c => tgtByLower.contains(c.toLowerCase))
    val tgtOnly = tgt.columns.filterNot(c => srcLower.contains(c.toLowerCase))
    (src.select(common.map(col).toIndexedSeq: _*),
      tgt.select(common.map(c => col(tgtByLower(c.toLowerCase))).toIndexedSeq: _*),
      srcOnly.toIndexedSeq, tgtOnly.toIndexedSeq)
  }

  /** Rename target columns back to their pre-migration source names
    * (case-insensitive match on the target side); loud failure on a
    * rename naming a column the target doesn't have.
    */
  private def applyRenames(tgt: DataFrame,
      renames: Map[String, String]): DataFrame =
    renames.foldLeft(tgt) { case (df, (srcName, tgtName)) =>
      if (!df.columns.exists(_.equalsIgnoreCase(tgtName)))
        throw new IllegalArgumentException(
          s"rename $srcName->$tgtName: target has no column '$tgtName'")
      df.withColumnRenamed(
        df.columns.find(_.equalsIgnoreCase(tgtName)).get, srcName)
    }

  /** The aligned compare's one pre-step, shared by [[compareAligned]]
    * and the CLI's `align_columns` mode: `renames` matched back, then
    * [[alignSchemas]], with the exclusions announced through
    * `progress`. Returns what [[alignSchemas]] returns.
    */
  private[graft] def align(src: DataFrame, tgt: DataFrame,
      renames: Map[String, String], progress: String => Unit)
      : (DataFrame, DataFrame, Seq[String], Seq[String]) = {
    val aligned @ (_, _, srcOnly, tgtOnly) = alignSchemas(src, applyRenames(tgt, renames))
    if (srcOnly.nonEmpty || tgtOnly.nonEmpty)
      progress(s"aligned compare: excluding src-only " +
        s"[${srcOnly.mkString(",")}] tgt-only [${tgtOnly.mkString(",")}]")
    aligned
  }

  /** [[compare]] after [[alignSchemas]] — the post-migration audit.
    * Returns the aligned compare's report plus the excluded columns
    * per side; exclusions are also announced through `opts.progress`.
    *
    * `renames` maps SOURCE column name → the name the migration gave
    * it on the target (the other common schema evolution besides
    * add/drop): the target column is matched under its old name
    * before alignment, so a renamed column is COMPARED, not excluded.
    */
  def compareAligned(src: DataFrame, tgt: DataFrame,
      opts: CompareOptions = CompareOptions(),
      renames: Map[String, String] = Map.empty)
      : (DiffReport, Seq[String], Seq[String]) = {
    val (s, t, srcOnly, tgtOnly) = align(src, tgt, renames, opts.progress)
    (compare(s, t, opts), srcOnly, tgtOnly)
  }

  /** Full compare. Triggers two Spark actions: the fingerprint summary,
    * and (when rows are fetched) the orphan counts.
    *
    * Mismatched buckets are fetched by PEELING: a bucket whose
    * fingerprint delta comes from one distinct row names that row. With
    * `k = Δcnt ≠ 0`, the row's two hashes are `ΔΣh/k` and `ΔΣh₂/k` —
    * the pure-cell decode of an invertible Bloom lookup table (Eppstein
    * et al., "What's the Difference?", SIGCOMM 2011). A bucket decodes
    * when `k` divides both sum deltas exactly in DECIMAL(38,0), both
    * quotients fit a long, the first quotient buckets back to the
    * bucket itself, and the bucket's purity checksum is `k` times the
    * quotient's (the IBLT "hashSum" test, one extra long per bucket in
    * the fingerprint pass; see `keyCheck`). The re-scan then keeps
    * only that key's rows there. Every other mismatched bucket
    * (`k = 0`, or a mixed delta) is fetched whole.
    *
    * Verification: a decoded key counts only if the bag delta shows
    * exactly `k` surplus copies of it — checked inside the orphan-count
    * action. When it passes, the bucket's remaining differences have
    * zero count and zero sum on both 64-bit hashes: the same event the
    * bucket fingerprint already trusts not to happen. A bucket whose
    * key fails (a mixed bucket passes the checksum about once in 2²⁴)
    * is fetched again whole, in one more fetch that keeps the verified
    * keys.
    *
    * The circuit breaker still projects the fetch as whole buckets,
    * (srcRows+tgtRows)·mismatchFraction: conservative on purpose, since
    * the decode is not known until the fetch has run.
    */
  def compare(
      src: DataFrame,
      tgt: DataFrame,
      opts: CompareOptions = CompareOptions()): DiffReport = {
    schemaGate(src, tgt, opts.schemaCheck)
    opts.progress(
      s"plan: ${opts.numBuckets} buckets over ${src.columns.length} columns (schema ${opts.schemaCheck})")

    val (srcForms, tgtForms) = crossTypeForms(src, tgt)
    val sb0 = Fingerprint.withBuckets(src, opts.numBuckets, "source", srcForms)
    val tb0 = Fingerprint.withBuckets(tgt, opts.numBuckets, "target", tgtForms)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val (sb, tb) =
      if (opts.persistScans) (sb0.persist(lvl), tb0.persist(lvl)) else (sb0, tb0)

    // the stored fingerprint plus the decode's purity checksum; cached
    // narrow: the decimal sums are consumed by the decode here and
    // never stored
    val csum = sum(keyCheck(col("__h"))).as("csum")
    val joined = decodeBuckets(
      Fingerprint.joined(Fingerprint.cells(sb, csum), Fingerprint.cells(tb, csum)),
      opts.numBuckets)
      .cache()

    val t0 = System.nanoTime()
    def ms(since: Long): Long = (System.nanoTime() - since) / 1000000L
    val summary = joined.agg(
      coalesce(sum("s_cnt"), lit(0L)),
      coalesce(sum("t_cnt"), lit(0L)),
      count(lit(1)),
      coalesce(sum(when(col("mismatch"), 1L).otherwise(0L)), lit(0L)),
      count(col("kh"))).head()
    val (srcRows, tgtRows, buckets, bad, decoded) = (summary.getLong(0),
      summary.getLong(1), summary.getLong(2), summary.getLong(3), summary.getLong(4))
    opts.progress(
      s"fingerprint: $bad/$buckets buckets NOK, src=$srcRows rows, tgt=$tgtRows rows (in ${ms(t0)}ms)")

    val cols = src.columns.toSeq
    val bucketTable = joined.select(col("__bucket").as("bucket"),
      col("s_cnt").as("src_cnt"), col("t_cnt").as("tgt_cnt"),
      (!col("mismatch")).as("ok"))

    // Restrict each side to the mismatched buckets via a semi-join
    // (broadcast: ≤ numBuckets keys; no bucket-id collect to the
    // driver), keeping only the decoded key's rows in a decoded
    // bucket. Both sides land in ONE side-tagged cached relation —
    // orphan rows plus the rows of whole-fetched buckets — which feeds
    // the signed bag delta, the counts and the lazy orphan fetch
    // without re-scanning the inputs (measured 2× end-to-end on the
    // mismatch path). The target's columns take the source's names by
    // position; `__d` tags each row with its contribution to the
    // delta, and the row hashes ride along as the diff keys.
    def side(b: DataFrame, names: Seq[String], sign: Int, keys: DataFrame): DataFrame =
      b.join(broadcast(keys), b("__bucket") === keys("__bucket") &&
          (keys("kh").isNull || (b("__h") === keys("kh") && b("__h2") === keys("kh2"))),
          "left_semi")
        .select(names.zip(cols).map { case (n, c) => col(n).as(c) } ++
          Seq(col("__h"), col("__h2"), lit(sign).as("__d")): _*)

    val empty = {
      val s = src.sparkSession
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("side",
            org.apache.spark.sql.types.StringType, false) +: src.schema.fields))
    }

    // circuit breaker: when most buckets mismatch AND the inputs are
    // big, the "restricted" row fetch approaches a full re-scan of
    // both inputs — report the bucket-level verdict instead of quietly
    // diffing everything
    val projectedFetch =
      if (buckets == 0) 0.0 else (srcRows + tgtRows).toDouble * bad / buckets
    val broke = opts.fetchRows && bad > 0 &&
      bad.toDouble > opts.maxMismatchFraction * buckets &&
      projectedFetch >= opts.breakerMinRows
    if (broke) opts.progress(
      s"circuit breaker: $bad/$buckets buckets NOK exceeds " +
        s"maxMismatchFraction=${opts.maxMismatchFraction} " +
        s"(~${projectedFetch.toLong} rows to fetch) — skipping row fetch")

    val (orphans: DataFrame, detail: Option[DataFrame], oSrc: Long,
        oTgt: Long, retained: Seq[DataFrame]) =
      if (bad == 0 || !opts.fetchRows || broke) {
        val counts = if (bad == 0) (0L, 0L) else (-1L, -1L) // unknown if !fetchRows
        (empty, None, counts._1, counts._2, Seq(joined))
      } else {
        val t1 = System.nanoTime()
        // a delta row that verifies its bucket's decoded key
        val hit = col("__d") === col("__k") && col("__h2") === col("kh2")
        // (tagged rows, bag delta, delta beside the decoded keys,
        // [source orphans, target orphans, verified keys])
        def fetch(keys: DataFrame) = {
          val tagged = side(sb, cols, 1, keys)
            .unionAll(side(tb, tgt.columns.toSeq, -1, keys)).cache()
          val delta = tagged.groupBy("__h", "__h2").agg(sum("__d").as("__d"))
            .where(col("__d") =!= 0L).cache()
          // one long join key: a decoded kh names exactly one bucket
          val checked = delta.join(broadcast(keys.where(col("kh").isNotNull)),
            col("__h") === col("kh"), "left")
          // ONE action: orphan counts from the per-hash multiplicity
          // deltas, plus the decoded keys whose delta is exactly k — no
          // orphan-row materialization; the rows stay lazy over the
          // cached tagged relation until the caller consumes `orphans`
          val c = checked.agg(
            coalesce(sum(greatest(col("__d"), lit(0L))), lit(0L)),
            coalesce(sum(greatest(-col("__d"), lit(0L))), lit(0L)),
            count(when(hit, 1))).head()
          (tagged, delta, checked, c)
        }
        val keys = joined.where(col("mismatch")).select(col("__bucket"),
          col("kh"), col("kh2"), (col("s_cnt") - col("t_cnt")).as("__k"))
        val first @ (tagged1, delta1, checked1, c1) = fetch(keys)
        val failed = decoded - c1.getLong(2)
        val (tagged, delta, _, c) = if (failed == 0) first else {
          // clear the decode of the buckets whose key failed: fetch
          // those whole, keep the verified keys
          val verified = checked1.where(hit).select(col("kh"), lit(true).as("__ok"))
          val again = fetch(keys.join(verified, Seq("kh"), "left").select(
            col("__bucket"), when(col("__ok"), col("kh")).as("kh"),
            when(col("__ok"), col("kh2")).as("kh2"), col("__k")))
          tagged1.unpersist(); delta1.unpersist()
          again
        }
        opts.progress(s"peel: ${decoded - failed}/$bad mismatched buckets decoded, " +
          s"${bad - decoded + failed} fetched whole, $failed re-fetched")
        opts.progress(
          s"orphans: ${c.getLong(0)} source-only, ${c.getLong(1)} target-only (in ${ms(t1)}ms)")
        val all = bagPick(tagged, delta, cols)
        (all.drop("__copies"), Some(all), c.getLong(0), c.getLong(1),
          Seq(joined, tagged, delta))
      }

    // drop the big full-input caches; the small restricted caches stay
    // with the report (DiffReport.release) so orphans/buckets stay cheap
    if (opts.persistScans) { sb.unpersist(); tb.unpersist() }
    DiffReport(srcRows, tgtRows, buckets, bad, oSrc, oTgt, opts.maxDelta,
      orphans, bucketTable, retained, circuitBroken = broke,
      orphansDetail = detail)
  }

  /** The per-bucket table of [[compare]]: (__bucket, s_cnt, t_cnt,
    * mismatch, kh, kh2) from the full-outer-joined fingerprints. `kh`,
    * `kh2` are the decoded key of a bucket whose delta is one distinct
    * row `k = s_cnt − t_cnt` times over (and the purity checksum
    * `keyCheck` agrees), else null. All arithmetic is exact
    * DECIMAL(38,0), and nothing here can raise under ANSI mode
    * wherever the optimizer evaluates it: the divisor is null when
    * `k = 0` (subexpression elimination can hoist a division out of a
    * `when`), a sum delta of 10³² or more (a decode would need |k| >
    * 10¹³) is not decoded, so the DECIMAL(38,6) quotient cannot
    * overflow, and only an in-range quotient reaches the cast to long.
    */
  private def decodeBuckets(joined: DataFrame, numBuckets: Int): DataFrame = {
    val dec38 = DecimalType(38, 0)
    def delta(c: String, zero: Column): Column =
      coalesce(col("s_" + c), zero) - coalesce(col("t_" + c), zero)
    def quotient(d: String): Column = {
      val small = when(abs(col(d)) < lit(BigDecimal("1e32")).cast(dec38), col(d))
      val q = when(small % col("k") === 0, small / col("k"))
      when(q >= Long.MinValue && q <= Long.MaxValue, q).cast(LongType)
    }
    val pure = col("q").isNotNull && col("q2").isNotNull &&
      pmod(col("q"), lit(numBuckets.toLong)) === col("__bucket") &&
      col("k") * keyCheck(col("q")) === col("dc")
    // one projection per step: each expression reads the previous
    // step's columns instead of re-embedding their expression trees,
    // which would multiply the plan the optimizer and codegen process
    val zero = lit(0L).cast(dec38)
    joined.select(col("__bucket"),
        coalesce(col("s_cnt"), lit(0L)).as("s_cnt"),
        coalesce(col("t_cnt"), lit(0L)).as("t_cnt"),
        delta("hsum", zero).as("dh"), delta("h2sum", zero).as("dh2"),
        delta("csum", lit(0L)).as("dc"), Fingerprint.mismatch("s_", "t_").as("mismatch"))
      .withColumn("k", when(col("s_cnt") =!= col("t_cnt"),
        (col("s_cnt") - col("t_cnt")).cast(dec38)))
      .withColumn("q", quotient("dh"))
      .withColumn("q2", quotient("dh2"))
      .select(col("__bucket"), col("s_cnt"), col("t_cnt"),
        col("mismatch"), when(pure, col("q")).as("kh"), when(pure, col("q2")).as("kh2"))
  }

  /** Bag diff keyed on the two independent 64-bit row hashes carried by
    * the tagged relation (Spark's `exceptAll` shuffles whole rows and
    * rejects MapType-bearing schemas outright): equal hash pairs mean
    * equal rows — the same trust the bucket fingerprints already rest
    * on — so the signed per-key delta `d` reproduces exceptAll's bag
    * semantics exactly: d surplus copies on a side yield d orphan rows,
    * while the values (any type, maps included) ride along as payload
    * and are never compared by a set op. `delta` is the tiny
    * (h, h2, d) table; one per-key row_number over the surplus side's
    * rows picks `|d|` copies for both sides at once (keys live only in
    * mismatched buckets, so window partitions stay tiny at any input
    * scale).
    *
    * `__copies` rides along: |bag delta| per key IS the number of
    * identical orphan copies this side emits — the over-delete signal
    * repairActions needs, carried from the aggregation that already
    * computed it instead of re-derived by a full-row window over the
    * orphans (one Exchange+Sort+Window less in every repair-script
    * plan).
    */
  private def bagPick(tagged: DataFrame, delta: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("__h", "__h2").orderBy(lit(1))
    tagged.join(delta.withColumnRenamed("__d", "__copies"), Seq("__h", "__h2"))
      .where((col("__copies") > 0L) === (col("__d") > 0))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= abs(col("__copies")))
      .select(when(col("__d") > 0, lit("source")).otherwise(lit("target")).as("side")
        +: cols.map(col) :+ abs(col("__copies")).as("__copies"): _*)
  }

  /** REPAIR-SCRIPT emitter — the ACTION form of the diff, completing
    * report → repair the way the decontamination family completes
    * report → rewrite: every orphan row becomes one executable DML
    * statement that reconciles the target toward the source. A
    * `source`-side orphan (present in source, missing in target)
    * becomes an INSERT; a `target`-side orphan (extra in target)
    * becomes a full-column-predicate DELETE. This is what the
    * reference's workflow leaves to the operator by hand after
    * reading the diff (/root/reference/example.md's NOK ending) —
    * here it is a column, auditable and replayable.
    *
    * Rendering rules (deterministic, engine-independent):
    *   - every value renders through [[Canonicalizer.canonCol]] (the
    *     cross-engine-gated canonical text) and is then SQL-quoted
    *     with `''` doubling — numbers included (uniform quoting;
    *     every major engine implicitly casts quoted literals, and one
    *     rule means one escaping proof);
    *   - NULL renders as the bare keyword, and DELETE predicates use
    *     `IS NULL` for null fields;
    *   - bag semantics caveat: a DELETE's full-column predicate hits
    *     ALL copies of a duplicated row. When the diff is a
    *     multiplicity difference (bag delta k > 0 with copies
    *     remaining), the emitted statement over-deletes — exactly the
    *     ambiguity SQL DELETE has without a physical row id; emit
    *     through a ctid/rowid wrapper on engines that expose one.
    *     The detectable half of that hazard is SIGNALLED per
    *     statement, not just documented: a delete whose full row
    *     value repeats among the target orphans (bag delta ≤ −2)
    *     gets action `delete_all_copies` instead of `delete`, so a
    *     replay consumer can filter or collapse those before
    *     applying (replaying k identical full-predicate DELETEs is
    *     never k single-row deletes). A SINGLE delete orphan whose
    *     target still holds matching copies remains undetectable
    *     from the orphans frame alone — that residual case is the
    *     ctid/rowid caveat above.
    *
    * Identifier safety: data VALUES are escaped, so column names and
    * the target table must not become the injection channel —
    * both are validated against a conservative identifier pattern
    * (letters/digits/underscore/$, dotted qualification allowed for
    * the table) and rejected loudly rather than quoted silently,
    * because a name that needs quoting differs per target engine
    * and a repair script must replay verbatim.
    *
    * Input: an orphans frame shaped like [[DiffReport.orphans]]
    * (`side` + data columns). `__copies` is RESERVED: a column of
    * that name is read as the per-row copy count that
    * [[DiffReport.orphansWithCopies]] carries, never as data (the
    * comparator rejects it on its inputs, like its other internal names),
    * and must be integral (anything else is an
    * `IllegalArgumentException`).
    * Output: (side, action, dml). One narrow codegen'd projection
    * plus one window count at the full-row grain (partitions are
    * single rows except actual duplicates) — no
    * corpus-wide shuffle beyond orphan volume, which the circuit
    * breaker already bounds.
    */
  def repairActions(orphans: DataFrame, targetTable: String): DataFrame = {
    require(orphans.columns.contains("side"), "expected a 'side' column")
    // the comparator's internal multiplicity column, when the caller
    // passes DiffReport.orphansWithCopies: the bag |delta| per orphan
    // row, computed by the diff aggregation itself — equal full rows
    // hash equally, so it IS the full-row copy count the window below
    // would derive, for free (no Exchange+Sort+Window over the orphans)
    val hasCopies = orphans.columns.contains("__copies")
    if (hasCopies) {
      val t = orphans.schema("__copies").dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        "repairActions: reserved column '__copies' must be an integral " +
          s"copy count, got ${t.simpleString}")
    }
    val cols = orphans.columns.filter(c => c != "side" && c != "__copies").toSeq
    require(cols.nonEmpty, "need at least one data column")
    val ident = "[A-Za-z_][A-Za-z0-9_$]*"
    require(targetTable.matches(s"$ident(\\.$ident)*"),
      s"unsafe target table name for DML interpolation: '$targetTable'")
    cols.foreach(c => require(c.matches(ident),
      s"unsafe column name for DML interpolation: '$c'"))
    def quoted(n: String): Column = {
      val canon = Canonicalizer.canonCol(col(n), orphans.schema(n).dataType)
      when(col(n).isNull, lit("NULL"))
        .otherwise(concat(lit("'"), regexp_replace(canon, "'", "''"), lit("'")))
    }
    val insertVals = concat_ws(", ", cols.map(quoted): _*)
    val whereCond = concat_ws(" AND ", cols.map { n =>
      when(col(n).isNull, lit(s"$n IS NULL"))
        .otherwise(concat(lit(s"$n = "), quoted(n)))
    }: _*)
    val copies =
      if (hasCopies) col("__copies")
      else count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("side") +: cols.map(col): _*))
    orphans.select(col("side"),
      when(col("side") === "source", lit("insert"))
        .when(copies > 1L, lit("delete_all_copies"))
        .otherwise(lit("delete")).as("action"),
      when(col("side") === "source",
        concat(lit(s"INSERT INTO $targetTable (${cols.mkString(", ")}) VALUES ("),
          insertVals, lit(")")))
        .otherwise(concat(lit(s"DELETE FROM $targetTable WHERE "), whereCond))
        .as("dml"))
  }

  /** Estimate-only plan: what [[compareAuto]] WOULD run (the analog of
    * the reference's estimate-only config fixture,
    * /root/reference/tests/yaml/default_config_estimate.yaml — plan and
    * report, don't execute).
    */
  final case class ComparePlan(
      srcRows: Long, tgtRows: Long, numBuckets: Int, avgRowsPerBucket: Long) {
    def describe: String =
      s"plan: $numBuckets buckets (~$avgRowsPerBucket rows/bucket) " +
        s"over src=$srcRows rows, tgt=$tgtRows rows; not executed"
  }

  private def bucketsFor(rows: Long, targetRowsPerBucket: Long): Int =
    math.max(64L, math.min(1L << 21, rows / math.max(1L, targetRowsPerBucket) + 1)).toInt

  /** Row-count estimate WITHOUT scanning: Catalyst plan statistics.
    * Exact `rowCount` when the optimizer knows it; otherwise
    * `sizeInBytes` (for file sources, the on-disk length — no I/O)
    * divided by the schema's estimated row width. Only when stats are
    * unusable (unknown size propagates as a Long.MaxValue sentinel)
    * does this fall back to an actual `count()`. Order-of-magnitude
    * accuracy is all bucket sizing needs: a few-× error moves
    * rows/bucket the same few × off target, which the fingerprint
    * aggregation absorbs (O(1) state per bucket either way) and AQE
    * re-coalesces at runtime — while the saved full scan per side was
    * the dominant planning cost at any real scale.
    */
  private[graft] def estimateRows(df: DataFrame): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).getOrElse {
      val size = stats.sizeInBytes
      if (size <= 0 || size >= BigInt(Long.MaxValue) / 2) df.count()
      else {
        val width = math.max(8, df.schema.map(_.dataType.defaultSize).sum)
        math.max(1L, (size / width).toLong)
      }
    }
  }

  /** Count both sides and report the planned compare shape without
    * executing it. The only actions are the two counts. The bucket
    * count is [[compareAuto]]'s own (`planBuckets` with the same
    * hints), or the configured `numBuckets` (the YAML's num_buckets)
    * — the printed plan must be the plan the real run would execute.
    */
  def estimate(
      src: DataFrame,
      tgt: DataFrame,
      targetRowsPerBucket: Long = 100000L,
      numBuckets: Option[Int] = None,
      srcRowsHint: Option[Long] = None,
      tgtRowsHint: Option[Long] = None): ComparePlan = {
    // hints come from a pushed-down remote COUNT(*) (exact, one scalar
    // over the wire) — counting a JDBC side locally would pull the full
    // remote result just to print a plan
    val (s, t) = (srcRowsHint.getOrElse(src.count()), tgtRowsHint.getOrElse(tgt.count()))
    val buckets = numBuckets.getOrElse(
      planBuckets(src, tgt, targetRowsPerBucket, srcRowsHint, tgtRowsHint))
    ComparePlan(s, t, buckets, math.max(s, t) / math.max(1, buckets))
  }

  /** O13/O14 analog — the reference calibrates a per-chunk row budget
    * with timed probes and plans `loops = ceil(max(rows)/min(bucket))`
    * (/root/reference/scribedb/base.py:108-154,
    * /root/reference/main.py:206-208). Here planning is SCAN-FREE
    * (`estimateRows`: plan statistics, no job): bucket count scales
    * with the larger side so each bucket holds ~targetRowsPerBucket
    * rows, bounded so the fingerprint join stays tiny; AQE handles
    * residual skew at runtime. Each side is then scanned exactly once
    * on the identical-inputs path — the fingerprint pass — where the
    * previous count-based planning scanned twice.
    */
  def compareAuto(
      src: DataFrame,
      tgt: DataFrame,
      targetRowsPerBucket: Long = 100000L,
      opts: CompareOptions = CompareOptions(),
      srcRowsHint: Option[Long] = None,
      tgtRowsHint: Option[Long] = None): DiffReport = {
    // before planning, which may run a count
    Fingerprint.rejectReserved("source" -> src, "target" -> tgt)
    compare(src, tgt,
      opts.copy(numBuckets =
        planBuckets(src, tgt, targetRowsPerBucket, srcRowsHint, tgtRowsHint)))
  }

  /** The bucket count [[compareAuto]] will use — exposed so tests can
    * assert planning runs zero Spark jobs. `srcRowsHint`/`tgtRowsHint`
    * bypass `estimateRows` entirely — for JDBC sides the caller
    * supplies a pushed-down remote `COUNT(*)` (Sources.countRemote), so
    * planning never executes the full remote query (its Catalyst stats
    * are unusable — sizeInBytes unknown — and the estimateRows fallback
    * would otherwise pull every remote row just to size buckets).
    */
  private[graft] def planBuckets(
      src: DataFrame, tgt: DataFrame, targetRowsPerBucket: Long,
      srcRowsHint: Option[Long] = None, tgtRowsHint: Option[Long] = None): Int =
    bucketsFor(
      math.max(
        srcRowsHint.getOrElse(estimateRows(src)),
        tgtRowsHint.getOrElse(estimateRows(tgt))),
      targetRowsPerBucket)

  /** Time-budget calibration — the honest Spark analog of the
    * reference's timed-probe chunk sizing
    * (/root/reference/scribedb/base.py:108-154: probe queries against a
    * 5,000 ms budget decide rows per chunk). Spark jobs are whole-stage,
    * so "rows per bucket" doesn't bound job TIME — what it bounds is the
    * re-scan granularity on mismatch; this converts an operator's
    * time-budget mental model into that knob: run the real
    * scan→hash→fingerprint path over a bounded sample, measure rows/sec,
    * and return the rows-per-bucket that keeps one bucket's worth of
    * work under `budgetMs` at the measured rate. Feed the result to
    * [[compareAuto]]'s `targetRowsPerBucket`.
    */
  def calibrateRowsPerBucket(
      df: DataFrame,
      budgetMs: Long = 5000L,
      sampleRows: Long = 50000L): Long = {
    val sample = df.limit(math.max(1L, sampleRows).toInt)
    val t0 = System.nanoTime()
    val counted = fingerprints(withBuckets(sample, 64))
      .agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
    val elapsedMs = math.max(1L, (System.nanoTime() - t0) / 1000000L)
    val rowsPerMs = math.max(1.0, counted.toDouble / elapsedMs)
    math.max(1000L, (rowsPerMs * budgetMs).toLong)
  }

  /** Key-uniqueness validation (SURVEY §7.4 hazard 2): the reference's
    * OFFSET chunking silently produces wrong results when the user's
    * ORDER BY is not a total order; our hash bucketing doesn't need an
    * order at all, but KEYED operations (columnDiff) do need unique
    * keys — validate explicitly instead of failing subtly.
    */
  def validateKeys(df: DataFrame, keys: Seq[String]): Unit = {
    val r = df.agg(
      count(lit(1)).as("n"),
      count_distinct(struct(keys.map(col): _*)).as("d")).head()
    if (r.getLong(0) != r.getLong(1))
      throw new IllegalArgumentException(
        s"Keys ${keys.mkString(",")} are not unique: ${r.getLong(0)} rows, ${r.getLong(1)} distinct keys")
  }

  /** Column-level diff: which COLUMNS changed for rows present on both
    * sides (keyed). Returns (keys…, column, src_value, tgt_value) —
    * one row per changed cell, null-safe comparison. Finer-grained
    * than the reference's whole-row orphan print
    * (/root/reference/main.py:116-137). Single inner join on the keys —
    * rows present on one side only are the ORPHAN report's job
    * ([[compare]]), not a per-column "changed vs null" row; the
    * per-column comparison is a codegen'd projection.
    */
  def columnDiff(src: DataFrame, tgt: DataFrame, keys: Seq[String]): DataFrame = {
    val nonKeys = src.columns.filterNot(keys.contains).toSeq
    val joinCond = keys.map(k => col(s"s.$k") <=> col(s"t.$k")).reduce(_ && _)
    val j = src.alias("s").join(tgt.alias("t"), joinCond, "inner")
    val cells = array(nonKeys.map { c =>
      when(!(col(s"s.$c") <=> col(s"t.$c")),
        struct(lit(c).as("column"),
          col(s"s.$c").cast("string").as("src_value"),
          col(s"t.$c").cast("string").as("tgt_value")))
    }: _*)
    val keyCols = keys.map(k => coalesce(col(s"s.$k"), col(s"t.$k")).as(k))
    j.select(keyCols :+ explode(filter(cells, x => x.isNotNull)).as("d"): _*)
      .select(keys.map(col) :+ col("d.column").as("column") :+
        col("d.src_value").as("src_value") :+ col("d.tgt_value").as("tgt_value"): _*)
  }

  /** Config-style entry: compare two SQL queries over registered views —
    * the analog of the reference executing the user's `qry` in each
    * database (/root/reference/scribedb/base.py:39).
    */
  def compareSql(
      spark: SparkSession,
      srcQry: String,
      tgtQry: String,
      opts: CompareOptions = CompareOptions()): DiffReport =
    compare(spark.sql(srcQry), spark.sql(tgtQry), opts)

  /** CDC-style snapshot delta — the keyed refinement of the bag diff:
    * where [[compare]] reports WHICH rows differ (no key assumed,
    * multiplicity-aware), this classifies every PRIMARY KEY as
    * inserted / deleted / updated / unchanged between two snapshots —
    * the change feed a downstream incremental consumer actually wants.
    *
    * One full-outer join on the PK; non-key columns travel as a single
    * md5 digest, so the shuffle carries keys + 32-byte digests, never
    * full rows — the fingerprint economy applied to keyed diffing.
    *
    * The row encoding is INJECTIVE: each column hashes SEPARATELY and
    * the fixed-width hex digests concatenate (NULL → the single token
    * "N", outside md5's lowercase-hex alphabet, so the token stream is
    * uniquely decodable). A delimiter-join of raw values collides
    * under delimiter injection — ("a|b","c") vs ("a","b|c") — and any
    * in-band NULL sentinel collides with a literal sentinel value;
    * either would silently classify a changed row 'unchanged'.
    */
  /** (pk..., alias) projection carrying the non-key columns as one md5
    * digest -- shared by [[cdc]] and its streaming twin
    * ([[graft.streaming.Streaming.cdcStream]]).
    */
  private[graft] def cdcHashed(df: DataFrame, pk: Seq[String],
      nonPk: Seq[String], h: String): DataFrame = df.select(
    (pk.map(col) :+ md5(concat(
      nonPk.map(c => coalesce(md5(col(c).cast("string")), lit("N"))): _*)).as(h)): _*)

  /** SAMPLED keyed audit — [[cdc]] restricted to a deterministic
    * `fraction` of the KEYSPACE (salted md5 hash of the PK below the
    * threshold, [[graft.operators.Sampling.hashFraction]] — the same
    * function on both sides, so a key is either fully in or fully out
    * and every verdict in the sample is exact). The 100 TB shape for
    * CONTINUOUS drift auditing: scanning 1% of the keys each run costs
    * 1% of the full diff, detects any change affecting ≥ p of the keys
    * with probability 1−(1−fraction)^(p·keys), and rotating the salt
    * sweeps the whole keyspace over successive runs. Row-hash sampling
    * would NOT work here — a mutated row hashes differently on the two
    * sides and its pair would split across the sample boundary; keying
    * the sample on the PK keeps both versions of a key together.
    */
  def cdcSampled(src: DataFrame, tgt: DataFrame, pk: Seq[String],
      fraction: Double, salt: String = "cdc"): DataFrame = {
    require(fraction > 0 && fraction <= 1, "need 0 < fraction <= 1")
    val keyCol = concat_ws("|", pk.map(c => col(c).cast("string")): _*)
    def sampled(df: DataFrame) =
      df.where(graft.operators.Sampling.hashFraction(keyCol, salt) < fraction)
    cdc(sampled(src), sampled(tgt), pk)
  }

  def cdc(src: DataFrame, tgt: DataFrame, pk: Seq[String]): DataFrame = {
    require(pk.nonEmpty, "cdc needs at least one primary-key column")
    val nonPk = src.columns.filterNot(pk.contains).toSeq
    require(nonPk.nonEmpty, "cdc needs at least one non-key column")
    def hashed(df: DataFrame, h: String) = cdcHashed(df, pk, nonPk, h)
    hashed(src, "__hs").join(hashed(tgt, "__ht"), pk, "full_outer")
      .select((pk.map(col) :+
        when(col("__hs").isNull, "insert")
          .when(col("__ht").isNull, "delete")
          .when(col("__hs") =!= col("__ht"), "update")
          .otherwise("unchanged").as("verdict")): _*)
  }
}
