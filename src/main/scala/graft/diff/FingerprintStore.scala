package graft.diff

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted dataset fingerprints: compare a live dataset against a
  * stored snapshot WITHOUT rescanning the snapshot — at 100 TB the
  * stored side costs O(numBuckets) rows to read regardless of the
  * original data size. This generalizes the reference's transient
  * in-database hashes (recomputed per run,
  * /root/reference/scribedb/base.py:156-159) into a durable artifact:
  * nightly-snapshot drift detection reads yesterday's fingerprints,
  * never yesterday's data.
  *
  * The store records numBuckets; compare validates it so fingerprints
  * from different bucketings can't be silently cross-compared.
  */
object FingerprintStore {

  def write(df: DataFrame, numBuckets: Int, path: String): Unit =
    Fingerprint.cells(Fingerprint.withBuckets(df, numBuckets, "input"))
      .withColumn("num_buckets", lit(numBuckets))
      .write.mode("overwrite").parquet(path)

  def read(spark: SparkSession, path: String): (DataFrame, Int) = {
    val df = spark.read.parquet(path)
    val nb = df.select("num_buckets").head().getInt(0)
    (df.drop("num_buckets"), nb)
  }

  // ------------------------------------------------------- Merkle tree

  /** Hierarchical (Merkle) fingerprint levels over md5-PREFIX buckets:
    * level 0 = one digest per `hexLen`-hex-char bucket (the
    * [[graft.functions.Parity.sortedMd5]] streaming fold — O(1) digest
    * state per bucket), level k = one digest per (hexLen−k)-char
    * prefix, computed as md5 over the CONCATENATION of its children's
    * digests in node order (a true Merkle parent — child corruption
    * cannot cancel, unlike a sum), up to the single root digest at
    * level `hexLen` (node = empty prefix). Output:
    * (level, node, fingerprint, n).
    *
    * Why a tree instead of the flat store: a 100 TB re-audit against
    * a flat bucket table reads ALL buckets to find one drifted one;
    * against the tree, [[merkleLocalize]] reads the root (1 row), then
    * only the children of mismatched nodes per level — O(fanout ·
    * drifted-subtrees · levels) stored rows, log-narrow passes.
    *
    * The leaf pass is the only data-sized job; upper levels aggregate
    * the tiny digest table, each parent collecting ≤16 child digests
    * (`collect_list` bounded by the hex fanout). The leaf is referenced
    * by every level, so it is persisted behind the returned
    * [[graft.operators.DedupPlan]]'s release contract.
    */
  def merkleTreePlan(canon: DataFrame, hexLen: Int = 2): graft.operators.DedupPlan = {
    require(hexLen >= 1 && hexLen <= 4, "hexLen in 1..4 (16..65536 leaf buckets)")
    import org.apache.spark.storage.StorageLevel
    val leaf = graft.functions.Parity
      .sortedMd5(canon, substring(md5(col("canon")), 1, hexLen), col("canon"))
      .select(col("bucket").as("node"), col("fingerprint"), col("n"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val tree = (leaf.withColumn("level", lit(0)) +:
      upperLevels(leaf, hexLen).map { case (l, df) => df.withColumn("level", lit(l)) })
      .reduce(_.unionByName(_))
      .select(col("level"), col("node"), col("fingerprint"), col("n"))
    graft.operators.DedupPlan(tree, "merkle_tree", Seq(leaf))
  }

  /** The tree's level fold, shared by [[merkleTreePlan]] and
    * [[updateMerkle]] (one definition — the incremental path cannot
    * drift from the rebuild): levels 1..hexLen as (level, frame) pairs,
    * each parent digest = md5 of its children's digests joined by \n in
    * child-node order (mirrored verbatim by the DuckDB oracle's
    * md5(string_agg(fingerprint, chr(10) ORDER BY node))).
    */
  private def upperLevels(leaf: DataFrame, hexLen: Int): Seq[(Int, DataFrame)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, DataFrame)]
    var cur = leaf
    // prefix lengths hexLen-1 down to 0 (root)
    for (plen <- (0 until hexLen).reverse) {
      cur = cur
        .groupBy(substring(col("node"), 1, plen).as("node"))
        .agg(
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("node").as("b"), col("fingerprint").as("f")))),
              x => x.getField("f")),
            "\n")).as("fingerprint"),
          sum(col("n")).as("n"))
      out += ((hexLen - plen, cur))
    }
    out.toSeq
  }

  /** Write the Merkle fingerprint store for `df` (canonicalized with
    * [[graft.canon.Canonicalizer.canonRow]]): one parquet table
    * partitioned by (`level`, `shard`), each row carrying its `parent`
    * node id so [[merkleLocalize]]'s per-level reads are plain
    * pushdown-able equality filters (level directory pruning +
    * parent IN (...)).
    *
    * `shard` = the node's first hex character (`"_"` for the root) —
    * pure storage layout, ignored by the walk. It exists for
    * [[updateMerkle]]: a delta touching few buckets rewrites only the
    * (level, shard) partitions containing touched nodes, leaving every
    * other partition's files physically untouched — the property that
    * turns a nightly rebuild into a continuously-maintained store.
    */
  def writeMerkle(df: DataFrame, path: String, hexLen: Int = 2): Unit = {
    val canon = df.select(graft.canon.Canonicalizer.canonRow(df).as("canon"))
    val plan = merkleTreePlan(canon, hexLen)
    // An EMPTY input yields an empty tree, which parquet writes as a
    // schemaless directory no reader can open — and "no store" is not
    // the same auditable fact as "a store of zero rows". The Merkle
    // definition extends naturally: the root over zero children is the
    // digest of the empty concatenation (md5("")), n = 0, so an empty
    // snapshot gets a real, comparable root and merkleLocalize works
    // unmodified (empty-vs-empty matches at the root; empty-vs-full
    // walks down to the full side's leaves).
    val spark = df.sparkSession
    import spark.implicits._
    val tree =
      if (plan.df.isEmpty)
        Seq((hexLen, "", EmptyMd5, 0L)).toDF("level", "node", "fingerprint", "n")
      else plan.df
    storeRows(tree, hexLen).write.mode("overwrite")
      .partitionBy("level", "shard").parquet(path)
    // a full rebuild is the documented recovery from a torn
    // updateMerkle — clear its sibling sentinel (and the legacy in-dir
    // location, which the dir overwrite already removed) so the next
    // delta update is not refused against a now-clean store
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val sentinel = new org.apache.hadoop.fs.Path(
      root.getParent, root.getName + "._UPDATE_IN_PROGRESS")
    if (fs.exists(sentinel)) fs.delete(sentinel, false)
    plan.release()
  }

  /** (level, node, fingerprint, n) -> the stored row shape: + parent,
    * hex_len, shard. One definition for [[writeMerkle]] and
    * [[updateMerkle]] so the layouts cannot diverge.
    */
  private def storeRows(tree: DataFrame, hexLen: Int): DataFrame = tree
    .withColumn("parent",
      when(col("node") === "", lit(null).cast("string"))
        .otherwise(expr("substring(node, 1, length(node) - 1)")))
    .withColumn("hex_len", lit(hexLen))
    .withColumn("shard",
      when(col("node") === "", lit("_")).otherwise(substring(col("node"), 1, 1)))

  /** md5 of the empty byte string — the root digest of a zero-row
    * store (see [[writeMerkle]]).
    */
  val EmptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"

  /** [[updateMerkle]] report: the leaf buckets the delta touched, the
    * (level, shard) store partitions physically rewritten, and the
    * live rows re-digested — the incremental-cost receipt (a rebuild
    * would re-digest every row and rewrite every partition).
    */
  final case class MerkleUpdate(touchedBuckets: Seq[String],
      rewrittenPartitions: Seq[String], leafRowsRehashed: Long)

  /** INCREMENTAL Merkle maintenance — apply a CDC delta to a stored
    * tree instead of rebuilding it nightly: recompute only the leaf
    * buckets the delta touches and their ancestor paths, and rewrite
    * only the store partitions holding them. This is what makes the
    * Merkle store and the keyed CDC audit compose at 100 TB: the CDC
    * run names the changed keys, this call folds them into the audit
    * structure at O(delta + touched-bucket rows) instead of O(corpus).
    *
    * `changedRows` carries the changed-row IMAGES — the OLD image of
    * every delete/update (the bucket the row leaves) and the NEW image
    * of every insert/update (the bucket it enters), same schema as
    * `newDf`. Build it from a snapshot pair with [[changedImagesPlan]],
    * or directly from a CDC feed. A missing old image would leave a
    * stale digest in the departed bucket — which the next
    * [[merkleLocalize]] against a rebuilt snapshot would EXPOSE, not
    * hide (Merkle parents cannot cancel), but pass both images and it
    * never arises.
    *
    * Scale shape: the touched-bucket set is bounded driver state
    * (≤ 16^hexLen ids); the only data-sized job filters `newDf` to
    * touched buckets BEFORE the digest pass's repartition, so untouched
    * rows never shuffle and no chained fold runs for untouched buckets.
    * Levels ≥ 1 recompute from the merged O(16^hexLen)-row digest
    * table, never from data. The write uses dynamic partition
    * overwrite: untouched (level, shard) partitions stay byte-identical
    * on disk (spec-asserted); a touched partition whose every bucket
    * emptied is deleted explicitly (dynamic overwrite can't write zero
    * rows).
    *
    * The everything-deleted edge (no leaves remain) degrades to a full
    * rewrite of the tiny empty-root store — documented, not silent.
    *
    * CRASH SAFETY: the update is not atomic — a failure between the
    * dynamic-partition overwrite and the explicit deletes of emptied
    * partitions leaves a MIXED-GENERATION store. A
    * `<store>._UPDATE_IN_PROGRESS` sentinel file (a SIBLING of the
    * store dir, so no whole-dir overwrite can erase it mid-mutation)
    * is written before the first mutation — on BOTH branches,
    * including the everything-deleted full rewrite — and removed
    * after the last, and it is checked before the store is even read,
    * so a torn update fails with an actionable message rather than a
    * raw parquet footer error. While the sentinel exists this method
    * REFUSES to run (a later delta would fold the torn buckets' stale
    * digests into `stored − touched` and make them permanent).
    * Recovery is either (a) re-run the SAME update — pass
    * `recovering = true` — which is convergent because every touched
    * bucket's stored digest is discarded and recomputed from `newDf`
    * regardless of whether the torn write reached it, or (b) rebuild
    * via [[writeMerkle]], which clears the sentinel after its
    * whole-path overwrite commits (the option when the torn store no
    * longer READS cleanly, e.g. a crash mid-commit left partial
    * files).
    */
  def updateMerkle(newDf: DataFrame, changedRows: DataFrame,
      path: String, recovering: Boolean = false): MerkleUpdate = {
    require(changedRows.columns.sameElements(newDf.columns),
      "changedRows must carry the same schema as newDf (full row images)")
    import org.apache.spark.storage.StorageLevel
    val spark = newDf.sparkSession
    // sentinel lives BESIDE the store dir (sibling file), not inside
    // it, so (a) it survives whole-dir overwrites of the store — the
    // empty-root branch below mutates via mode("overwrite"), whose
    // dir delete would erase an in-dir marker mid-mutation — and (b)
    // it is checked BEFORE the first store read: a torn store with
    // partial parquet files must fail with the actionable message,
    // not an opaque footer exception from schema inference
    val hconf0 = spark.sparkContext.hadoopConfiguration
    val root0 = new org.apache.hadoop.fs.Path(path)
    val fs0 = root0.getFileSystem(hconf0)
    val sentinel = new org.apache.hadoop.fs.Path(
      root0.getParent, root0.getName + "._UPDATE_IN_PROGRESS")
    // legacy in-dir location from the first sentinel generation —
    // still detected so a torn store written by older code refuses too
    val legacySentinel = new org.apache.hadoop.fs.Path(root0, "_UPDATE_IN_PROGRESS")
    require(recovering ||
        (!fs0.exists(sentinel) && !fs0.exists(legacySentinel)),
      s"torn update detected at $path (sentinel exists): a prior " +
        "updateMerkle died mid-write. Re-run the SAME delta with " +
        "recovering = true, or rebuild with writeMerkle (see scaladoc).")
    val stored = spark.read.parquet(path)
    require(stored.columns.contains("shard"),
      "store predates the sharded layout — rebuild once with writeMerkle")
    val hexLen = stored.select(max(col("level"))).head().getInt(0)

    val touched = changedRows
      .select(substring(
        md5(graft.canon.Canonicalizer.canonRow(changedRows)), 1, hexLen).as("b"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    if (touched.isEmpty) return MerkleUpdate(Nil, Nil, 0L)

    // re-digest ONLY the touched buckets: the filter sits BEFORE the
    // digest pass's repartition, so untouched rows never shuffle and
    // no chained fold runs for untouched buckets
    val canon = newDf
      .select(graft.canon.Canonicalizer.canonRow(newDf).as("canon"))
      .where(substring(md5(col("canon")), 1, hexLen).isin(touched: _*))
    val fresh = graft.functions.Parity
      .sortedMd5(canon, substring(md5(col("canon")), 1, hexLen), col("canon"))
      .select(col("bucket").as("node"), col("fingerprint"), col("n"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)

    // merged leaves: stored minus touched, plus recomputed — a bucket
    // whose rows all left simply doesn't reappear. Materialized via
    // localCheckpoint (result-sized: ≤ 16^hexLen digest rows), which
    // SEVERS the lineage back to the store files — the write below
    // overwrites partitions of the very path these rows were read
    // from, and a plan still referencing it would be rejected as a
    // read-your-own-overwrite.
    val mergedLeaves = stored
      .where(col("level") === 0 && !col("node").isin(touched: _*))
      .select(col("node"), col("fingerprint"), col("n"))
      .unionByName(fresh)
      .localCheckpoint()

    def shardOf(node: String) = if (node.isEmpty) "_" else node.take(1)
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)

    def release(): Unit = {
      fresh.unpersist(blocking = false)
      org.apache.spark.sql.graftshim.CheckpointBridge.release(mergedLeaves)
    }

    if (mergedLeaves.isEmpty) {
      // everything-deleted edge: full rewrite of the empty-root store.
      // Sentinel-covered like the dynamic path — the whole-path
      // overwrite deletes the store dir before committing new files,
      // and a crash inside that window would otherwise leave a
      // partial/empty store with NO marker (the sibling sentinel
      // survives the dir delete, which is why it lives outside)
      import spark.implicits._
      val leafN = fresh.agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
      release()
      fs0.create(sentinel, true).close()
      storeRows(Seq((hexLen, "", EmptyMd5, 0L))
          .toDF("level", "node", "fingerprint", "n"), hexLen)
        .write.mode("overwrite").partitionBy("level", "shard").parquet(path)
      fs0.delete(sentinel, false)
      return MerkleUpdate(touched, Seq("<all: store emptied>"), leafN)
    }

    val tree = (mergedLeaves.withColumn("level", lit(0)) +:
      upperLevels(mergedLeaves, hexLen)
        .map { case (l, df) => df.withColumn("level", lit(l)) })
      .reduce(_.unionByName(_))
      .select(col("level"), col("node"), col("fingerprint"), col("n"))

    // partitions to rewrite: for each level, the shards holding an
    // ANCESTOR of a touched bucket (root shard "_" always included)
    val touchedParts: Seq[(Int, String)] = (0 to hexLen).flatMap(l =>
      touched.map(b => l -> shardOf(b.take(hexLen - l))).distinct).distinct
    val partCond = touchedParts
      .map { case (l, s) => col("level") === l && col("shard") === s }
      .reduce(_ || _)
    // recompute derives from the checkpointed merged leaves only —
    // tiny, so the two traversals below (partition census + write)
    // just re-fold the in-memory digest rows
    val writeRows = storeRows(tree, hexLen).where(partCond)
    val writtenParts = writeRows.select(col("level"), col("shard")).distinct()
      .collect().map(r => r.getInt(0) -> r.getString(1)).toSet
    fs0.create(sentinel, true)
      .close() // sentinel: mutation begins — see crash-safety scaladoc
    writeRows.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("level", "shard").parquet(path)
    // a touched partition with NO surviving rows can't be replaced by
    // the dynamic overwrite — drop its stale directory explicitly
    touchedParts.filterNot(writtenParts).foreach { case (l, s) =>
      val dir = new org.apache.hadoop.fs.Path(root, s"level=$l/shard=$s")
      if (fs.exists(dir)) fs.delete(dir, true)
    }
    fs0.delete(sentinel, false)
    val leafN = fresh.agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
    release()
    MerkleUpdate(touched,
      touchedParts.filter(writtenParts).sorted
        .map { case (l, s) => s"level=$l/shard=$s" },
      leafN)
  }

  /** Changed-row IMAGES for [[updateMerkle]] from a keyed snapshot
    * pair — the bridge from [[Comparator.cdc]] verdicts to the buckets
    * they touch: OLD images of deletes+updates (the bucket each row
    * leaves) unioned with NEW images of inserts+updates (the bucket it
    * enters). The verdict table gates both semi-joins, so it is
    * persisted behind the returned [[graft.operators.DedupPlan]]'s
    * release contract; only changed rows' images ever shuffle.
    */
  def changedImagesPlan(oldDf: DataFrame, newDf: DataFrame,
      pk: Seq[String]): graft.operators.DedupPlan = {
    import org.apache.spark.storage.StorageLevel
    val d = Comparator.cdc(oldDf, newDf, pk)
      .where(col("verdict") =!= "unchanged")
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    def keysWith(vs: String*) =
      d.where(col("verdict").isin(vs: _*)).select(pk.map(col): _*)
    val images = oldDf.join(keysWith("delete", "update"), pk, "left_semi")
      .unionByName(newDf.join(keysWith("insert", "update"), pk, "left_semi"))
    graft.operators.DedupPlan(images, "changed_images", Seq(d))
  }

  /** Localization result: the drifted LEAF buckets plus the read cost
    * actually paid (`nodesRead` across both stores — the number a flat
    * compare would pay is 2 · 16^hexLen regardless of drift).
    * `exhaustive` is false only when a frontier exceeded `maxFrontier`
    * and the walk degraded to comparing the full next level (never a
    * silent cap — the result says so).
    */
  final case class MerkleDiff(driftedBuckets: Seq[String], nodesRead: Long,
      exhaustive: Boolean)

  /** Top-down Merkle walk over two stored trees: compare roots (one
    * row each); descend ONLY into mismatched nodes, reading each
    * level filtered by `parent IN frontier`. Returns the drifted leaf
    * buckets without ever reading the matched subtrees — the O(log)
    * re-audit. Frontiers are driver state bounded by
    * `maxFrontier` (drifted-subtree count; a wider drift degrades to
    * full-level reads, reported via `exhaustive`).
    */
  def merkleLocalize(spark: SparkSession, pathA: String, pathB: String,
      maxFrontier: Int = 4096): MerkleDiff = {
    val a0 = spark.read.parquet(pathA)
    val b0 = spark.read.parquet(pathB)
    val hexLen = a0.select(max(col("level"))).head().getInt(0)
    require(b0.select(max(col("level"))).head().getInt(0) == hexLen,
      "stores were built with different hexLen — not comparable")
    var nodesRead = 0L
    var exhaustive = true
    def mismatched(level: Int, frontier: Option[Seq[String]]): Seq[String] = {
      def side(df: DataFrame, tag: String) = {
        val lvl = df.where(col("level") === level)
        frontier.fold(lvl)(f => lvl.where(col("parent").isin(f: _*)))
          .select(col("node"), col("fingerprint").as(s"${tag}_fp"),
            col("n").as(s"${tag}_n"))
      }
      val rows = side(a0, "a").join(side(b0, "b"), Seq("node"), "full_outer")
      val bad = rows.where(
        !(col("a_fp") <=> col("b_fp")) || !(col("a_n") <=> col("b_n")))
        .select(col("node")).collect().map(_.getString(0)).toSeq
      nodesRead += 2L * rows.count()
      bad
    }
    var frontier = mismatched(hexLen, None) // root: one node each side
    var level = hexLen - 1
    while (level >= 0 && frontier.nonEmpty) {
      val f =
        if (frontier.size <= maxFrontier) Some(frontier)
        else { exhaustive = false; None } // degrade loudly, never silently
      frontier = mismatched(level, f)
      level -= 1
    }
    MerkleDiff(frontier.sorted, nodesRead, exhaustive)
  }

  /** (mismatchedBuckets, storedRowCount, liveRowCount): the stored
    * cells against `df`'s, bucketed as the store was, by the batch
    * compare's mismatch rule.
    */
  def compareWithStored(df: DataFrame, path: String): (Long, Long, Long) = {
    val (stored, nb) = read(df.sparkSession, path)
    val live = Fingerprint.cells(Fingerprint.withBuckets(df, nb, "live"))
    val r = Fingerprint.joined(stored, live).agg(count(when(Fingerprint.mismatch("s_", "t_"), 1)),
      coalesce(sum("s_cnt"), lit(0L)), coalesce(sum("t_cnt"), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
