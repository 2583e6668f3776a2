package graft.operators

import graft.GraftSession.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sampling and frequency operators for training-data curation — the
  * reproducibility layer a 100 TB pipeline needs around dedup/quality:
  * deterministic dataset splits and corpus heavy-hitters.
  *
  * Everything is hash-deterministic (md5-derived, no engine-private
  * seeds, no Math.random): the same row lands in the same split on any
  * engine, any run, any partitioning — the property that makes
  * train/test splits reproducible and leakage-auditable, which
  * `DataFrame.randomSplit` (seed + partition-order dependent) cannot
  * guarantee across engines or repartitioning.
  *
  * Scale: both operators are one narrow pass plus (for heavy hitters)
  * one map-side-combinable aggregation; nothing materializes on the
  * driver beyond top-k rows.
  */
object Sampling {

  /** Uniform [0,1) hash of (salt, key): first 8 md5 hex digits / 2³².
    * The salt decorrelates independent splits over the same keys
    * (split for sampling ≠ split for sharding).
    */
  def hashFraction(key: Column, salt: String): Column =
    conv(substring(md5(concat_ws("|", lit(salt), key)), 1, 8), 16, 10)
      .cast("long").cast("double") / lit(4294967296.0)

  /** Deterministic weighted split assignment: each row gets the label
    * of the first cumulative-weight band its hash fraction falls in.
    * Weights need not sum to 1 — they are normalized. Assignment is a
    * pure function of (salt, key): adding/removing OTHER rows never
    * moves a row between splits (stable under incremental ingestion,
    * unlike fraction-of-position schemes).
    */
  def hashSplit(
      df: DataFrame,
      key: Column,
      weights: Seq[(String, Double)],
      salt: String = "split"): DataFrame =
    df.withColumn("split", splitLabel(key, weights, salt))

  /** The split-label expression behind [[hashSplit]] — exposed so
    * other plans (e.g. the streaming assignment's no-match fallback,
    * [[graft.streaming.Streaming.splitAssignStream]]) can embed the
    * IDENTICAL assignment function instead of re-deriving it.
    */
  private[graft] def splitLabel(
      key: Column, weights: Seq[(String, Double)], salt: String): Column = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be positive")
    val total = weights.map(_._2).sum
    val cuts = weights.map(_._2 / total).scanLeft(0.0)(_ + _)
    val f = hashFraction(key, salt)
    // last band is the otherwise-branch: float cumsum never excludes 1.0
    weights.init.zipWithIndex.foldRight(
      lit(weights.last._1): Column) { case (((label, _), i), rest) =>
      when(f < cuts(i + 1), label).otherwise(rest)
    }
  }

  /** k-fold cross-validation assignment — every row gets a fold index
    * 0..k−1 from the salted key hash: folds are equal in expectation,
    * assignment is a pure function of (salt, key) (stable under
    * ingestion, reproducible cross-engine), and fold i's
    * train/validate complement is just `fold =!= i` — no k separate
    * splits to keep consistent. Shuffle-free narrow pass, the
    * [[hashSplit]] cost shape.
    */
  def kfold(df: DataFrame, key: Column, k: Int, salt: String = "fold"): DataFrame = {
    require(k >= 2, "need k >= 2")
    // frac = m/2^32 and k·m < 2^53, so frac·k is EXACT in IEEE double
    // and the floor is engine-identical
    df.withColumn("fold", floor(hashFraction(key, salt) * k).cast("long"))
  }

  /** Exact corpus heavy-hitters: global top-k tokens by occurrence
    * count (not per-doc distinct — frequency weighting is the point).
    * One explode-and-count aggregation with map-side partial combine,
    * then a driver-side top-k (TakeOrdered — no global sort shuffle).
    * Deterministic tie-break: count desc, token asc.
    *
    * At 100 TB the exact count's shuffle carries one row per DISTINCT
    * token (Zipf-bounded, not corpus-bounded) — this is the rare
    * "exact is already the scale path" case; the CMS sketch variant
    * ([[tokenSketch]]) exists for when even the distinct-token state
    * must be constant.
    */
  def heavyHitters(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(explode(Tokens.of(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** Count-min sketch over the token stream — constant state per
    * partition regardless of vocabulary, mergeable, one pass. Returns
    * the serialized sketch (Spark's `count_min_sketch` aggregate);
    * point estimates come from `CountMinSketch.readFrom`. Accuracy
    * (estimate ≥ truth, ≤ truth + eps·N at the given confidence) is
    * test-asserted against [[heavyHitters]]; the sketch bytes are
    * engine-private, so no SQL oracle by design — same contract as the
    * HLL gate rows.
    */
  def tokenSketch(docs: DataFrame, eps: Double = 0.001, conf: Double = 0.99): Array[Byte] =
    docs
      .select(explode(Tokens.of(col("text"))).as("token"))
      .agg(count_min_sketch(col("token"), lit(eps), lit(conf), lit(42)).as("sk"))
      .head().getAs[Array[Byte]](0)

  /** Sequence packing — assign documents to fixed-token-capacity
    * training sequences (context windows). Documents are sharded by
    * key hash, then packed greedily within each shard in key order:
    * a document opens a new bin when the bin's running token total has
    * reached capacity. A document longer than the capacity overflows
    * its bin (never dropped, never split — truncation is the trainer's
    * call) and the next document starts a fresh bin further along, so
    * bin ids within a shard are increasing but may skip.
    *
    * Scale: the ONLY ordering is per-shard (window partitioned by
    * `shard`), so parallelism = number of shards and no global sort
    * exists anywhere. Assignment is a pure function of (salt, key,
    * weights-in-shard): rerunning on the same corpus reproduces the
    * same bins on any cluster layout.
    */
  def packSequences(
      df: DataFrame,
      key: Column,
      tokens: Column,
      capacity: Long,
      shards: Int,
      salt: String = "pack"): DataFrame = {
    require(capacity > 0 && shards > 0, "capacity and shards must be positive")
    import org.apache.spark.sql.expressions.Window
    val shard = floor(hashFraction(key, salt) * shards).cast("int")
    val w = Window.partitionBy(col("shard")).orderBy(key)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("shard", shard)
      .withColumn("bin",
        floor(coalesce(sum(tokens).over(w), lit(0L)) / capacity).cast("long"))
  }

  /** Packing-efficiency report over [[packSequences]]' layout — the
    * one-row audit a batch-packing decision is judged by: bin count,
    * docs, tokens, overall fill in exact ppm of bin capacity, the
    * fattest bin, and the overflow-bin count (a document longer than
    * `capacity` overflows its bin rather than splitting — the
    * documented packing semantic — so overflow bins are long-document
    * telemetry, not a bug flag). A fill_ppm far below 10⁶ means the
    * capacity/corpus pairing wastes training batch slots; re-pack
    * with a different capacity or pre-chunk the long tail.
    *
    * Scale shape: [[packSequences]]' shard-local layout, one
    * map-side-combinable (shard, bin) rollup, one single-row global
    * aggregate. Exact integer arithmetic only.
    */
  def packStats(df: DataFrame, key: Column, tokens: Column,
      capacity: Long, shards: Int, salt: String = "pack"): DataFrame =
    packSequences(df, key, tokens, capacity, shards, salt)
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(tokens).as("bin_tokens"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("bin_tokens")).as("n_tokens"),
        expr(s"sum(bin_tokens) * 1000000 DIV (count(1) * $capacity)")
          .as("fill_ppm"),
        max(col("bin_tokens")).as("max_bin_tokens"),
        sum(when(col("bin_tokens") > capacity, 1L).otherwise(0L))
          .as("n_overflow_bins"))

  /** Domain-mixture sampling — downsample groups so the kept corpus
    * matches target mixture weights, keeping as many rows as feasible:
    * the binding group (smallest n_g/w_g) is kept whole and every other
    * group is hash-thresholded down to proportion. Groups absent from
    * `weights` are dropped (weight 0). Deterministic: keep/drop is a
    * pure function of (salt, key), so the same row survives on every
    * engine and any partitioning.
    *
    * Scale: one map-side-combinable count per group (group cardinality
    * rows — tiny), broadcast back; the data pass itself is a
    * shuffle-free filter.
    */
  def mixtureSample(
      df: DataFrame,
      group: Column,
      key: Column,
      weights: Seq[(String, Double)],
      salt: String = "mix"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be positive")
    val counts = df.groupBy(group.as("__g"))
      .agg(count(lit(1)).cast("double").as("__n"))
      .withColumn("__w", weights.tail.foldLeft(
        when(col("__g") === weights.head._1, weights.head._2)) {
        case (acc, (g, wgt)) => acc.when(col("__g") === g, wgt)
      })
      .where(col("__w").isNotNull)
    val scale = counts.agg(min(col("__n") / col("__w")).as("__s"))
    val keepP = broadcast(counts.crossJoin(broadcast(scale)))
      .select(col("__g"), (col("__s") * col("__w") / col("__n")).as("__p"))
    df.join(broadcast(keepP), group === col("__g"), "inner")
      .where(hashFraction(key, salt) < col("__p"))
      .drop("__g", "__p")
  }

  /** WITH-REPLACEMENT mixture — epoch UPSAMPLING, the other half of
    * the mixing story: [[mixtureSample]] reaches target proportions by
    * DROPPING rows from over-represented sources; this reaches them by
    * REPEATING rows from under-represented ones, keeping every
    * original row at least once (the "repeat the good small source
    * 2.3x per epoch" knob every LLM data-mixing recipe has). Each
    * group's replication rate is `s·w_g / n_g` with `s = max_g(n_g /
    * w_g)` — the LEAST-upsampled group stays at exactly 1 copy and
    * everything else scales up to the target ratio. Rows get
    * `floor(rate)` copies plus one more when the salted key hash
    * falls under the fractional part — deterministic, engine-free,
    * and exact in expectation per group. Output repeats input rows
    * with a `copy` index (0-based) so downstream epoch ordering can
    * shuffle copies independently.
    *
    * Scale shape: one group-count aggregation (broadcast back), then
    * a shuffle-free per-row `explode(sequence(...))` — expansion
    * factor is bounded by max(w)/min(w), a config constant, so the
    * output stays O(input). Groups without a weight are dropped,
    * mirroring [[mixtureSample]].
    */
  def upsampleMixture(
      df: DataFrame,
      group: Column,
      key: Column,
      weights: Seq[(String, Double)],
      salt: String = "upsample"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be positive")
    val counts = df.groupBy(group.as("__g"))
      .agg(count(lit(1)).cast("double").as("__n"))
      .withColumn("__w", weights.tail.foldLeft(
        when(col("__g") === weights.head._1, weights.head._2)) {
        case (acc, (g, wgt)) => acc.when(col("__g") === g, wgt)
      })
      .where(col("__w").isNotNull)
    val scale = counts.agg(max(col("__n") / col("__w")).as("__s"))
    val rates = broadcast(counts.crossJoin(broadcast(scale)))
      .select(col("__g"), (col("__s") * col("__w") / col("__n")).as("__rate"))
    df.join(broadcast(rates), group === col("__g"), "inner")
      .withColumn("__copies",
        floor(col("__rate")).cast("long") +
          (hashFraction(key, salt) < (col("__rate") - floor(col("__rate"))))
            .cast("long"))
      .withColumn("copy", explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__g", "__rate", "__copies")
  }

  /** Quality-weighted sampling: keep each row with probability equal
    * to its quality score in [0,1] — the soft alternative to a hard
    * quality cutoff (low-quality docs are down-weighted, not banished,
    * preserving distributional coverage). Deterministic: keep/drop is
    * a pure function of (salt, key, score), reproducible across
    * engines and partitionings. One shuffle-free filter pass.
    */
  def qualityWeightedSample(
      df: DataFrame, key: Column, score: Column,
      salt: String = "qw"): DataFrame =
    df.where(hashFraction(key, salt) < score)

  /** Leakage-safe train/val/test split — the near-dup-aware form of
    * [[hashSplit]]: the split key is the document's near-duplicate
    * CLUSTER id (MinHash-LSH candidates → connected components), not
    * the document id, so two near-copies can never straddle the
    * train/test boundary and silently inflate held-out scores — the
    * eval-leakage failure [[graft.operators.Curation.decontaminate]]
    * guards against across corpora, applied to the split itself.
    * Costs one LSH candidate pass + O(log d) clustering rounds on top
    * of the plain split; the assignment stays a pure hash function of
    * the cluster key (stable under incremental ingestion as long as
    * cluster identities are).
    */
  def leakageSafeSplit(docs: DataFrame, weights: Seq[(String, Double)],
      salt: String = "split"): DataFrame =
    leakageSafeSplitFrom(docs, Dedup.minhashCandidates(docs), weights, salt)

  /** [[leakageSafeSplit]] over an ALREADY-COMPUTED candidate pair set —
    * for callers that also need the pairs themselves (e.g. the gate's
    * cross-split audit): persist the pairs once and both consumers
    * read the cache instead of re-running the LSH pass.
    */
  def leakageSafeSplitFrom(docs: DataFrame, pairs: DataFrame,
      weights: Seq[(String, Double)], salt: String = "split"): DataFrame = {
    val clusters = Dedup.connectedComponents(docs, pairs)
      .select(col("doc_id"), col("cluster_id"))
    hashSplit(docs.join(clusters, "doc_id"), col("cluster_id"), weights, salt)
  }

  /** Split-quality report for [[leakageSafeSplit]]: per-split doc
    * counts plus the number of near-dup candidate pairs straddling
    * splits — ZERO by construction (both endpoints of a candidate pair
    * share a cluster, clusters split atomically), and the audit proves
    * it from the SAME candidate pass that fed the clustering. The
    * shared pair set is persisted once and owned by the returned
    * plan's `release()` ([[DedupPlan]] ownership contract).
    */
  def leakageReportPlan(docs: DataFrame,
      weights: Seq[(String, Double)], salt: String = "split"): DedupPlan = {
    import org.apache.spark.storage.StorageLevel
    val pairs = Dedup.minhashCandidates(docs)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    // labeled feeds the audit twice (pair endpoints) plus the counts —
    // the 2+-references rule: persist, or the docs⋈clusters join
    // re-executes per reference
    val labeled = leakageSafeSplitFrom(docs, pairs, weights, salt)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val sa = labeled.select(col("doc_id").as("doc_a"), col("split").as("split_a"))
    val sb = labeled.select(col("doc_id").as("doc_b"), col("split").as("split_b"))
    val cross = pairs.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .agg(coalesce(sum(when(col("split_a") =!= col("split_b"), 1L)
        .otherwise(0L)), lit(0L)).as("n_cross_pairs"))
    val report = labeled.groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(cross))
    DedupPlan(report, "leakage_split_report", Seq(pairs, labeled))
  }

  /** EXACT stratified sampling — within every stratum keep exactly
    * ⌈frac·n⌉ rows, chosen by salted-hash order (content-blind,
    * deterministic, engine-reproducible). The hash-threshold samplers
    * keep frac±binomial-noise per group; this one is the variant for
    * when the contract is exact per-stratum counts (k-fold eval sets,
    * per-class budgets) at the cost of one window shuffle per group —
    * the [[sourceCap]] cost shape, except the data-dependent ⌈n·frac⌉
    * threshold rules out the constant-k WindowGroupLimit pushdown, so
    * the rank materializes for every row of the group. Use the
    * threshold samplers when approximate shares are acceptable.
    */
  def stratifiedSample(df: DataFrame, group: Column, key: Column,
      frac: Double, salt: String = "strat"): DataFrame = {
    require(frac > 0 && frac <= 1, "need 0 < frac <= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(group).orderBy(hashFraction(key, salt), key)
    val n = Window.partitionBy(group)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(n))
      .where(col("__rn") <= ceil(col("__n") * frac))
      .drop("__rn", "__n")
  }

  /** Deterministic epoch shuffle — the training dataloader's
    * per-epoch permutation as a pure function of (epoch, key): rows
    * shard by one salted hash, then order WITHIN their shard by an
    * epoch-salted hash. Different epochs give independent
    * permutations; the same (corpus, epoch) always replays the same
    * order, so a crashed run resumes mid-epoch from (shard, pos) with
    * no RNG state to restore, and adding a shard-parallel reader
    * never changes what any other reader sees.
    *
    * Scale shape: order is PER-SHARD by construction (a global rank
    * would serialize the corpus through one partition); one hash
    * shuffle to the shard grain, one window per shard. Readers
    * consume shards independently — exactly how a multi-worker
    * dataloader wants its input laid out.
    */
  def epochOrder(df: DataFrame, key: Column, epoch: Int,
      shards: Int, salt: String = "epoch"): DataFrame = {
    require(shards > 0 && epoch >= 0, "need shards > 0, epoch >= 0")
    import org.apache.spark.sql.expressions.Window
    val shard = floor(hashFraction(key, s"$salt-shard") * shards).cast("long")
    val w = Window.partitionBy(col("shard"))
      .orderBy(hashFraction(key, s"$salt-$epoch"), key)
    df.withColumn("shard", shard)
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  /** Exact-k deterministic corpus sample — "give me exactly k rows,
    * stably": rows ranked by the salted md5 of their key, first k
    * taken. The exact-size contract the threshold samplers can't give
    * ([[hashSplit]]/[[qualityWeightedSample]] sizes are binomial), and
    * the hash order makes the CHOICE a pure function of (salt, key) —
    * stable under repartitioning, subsetting, and re-runs, where
    * `df.sample`/`randomSplit` depend on partition layout. Taking k
    * from a different salt draws an independent sample.
    *
    * Scale shape: per-partition top-k then a k-row merge
    * (TakeOrderedAndProject, plan-asserted in the spec) — never a
    * global sort, never more than k rows past the scan.
    */
  def fixedK(df: DataFrame, key: Column, k: Int, salt: String = "fixedk"): DataFrame = {
    require(k > 0, "need k > 0")
    df.withColumn("__h", md5(concat_ws("|", lit(salt), key.cast("string"))))
      .orderBy(col("__h"))
      .limit(k)
      .drop("__h")
  }

  /** Temperature-flattened mixture sampling — the multilingual/
    * multi-source schedule trick (sample source i with probability
    * ∝ n_i^α, α < 1) realized as deterministic per-source keep rates:
    * r_i = (n_min / n_i)^(1−α), so the SMALLEST source is kept whole
    * and bigger sources are thinned toward equal share as α → 0
    * (α = 1 keeps everything — natural proportions). Rates come from
    * one tiny per-source count broadcast back; membership is the
    * same salted-hash threshold as every sampler here — stable under
    * incremental ingestion, no RNG state.
    *
    * α = ½ (the common default) computes rates via `sqrt` — correctly
    * rounded in every engine, so the gate is bit-exact. Other α go
    * through `pow`, which carries a ≤1-ulp platform tolerance: fine
    * for sampling, not for a hash gate (a boundary-straddling row
    * would need its 32-bit hash fraction to land inside that ulp).
    */
  def temperatureSample(df: DataFrame, group: Column, key: Column,
      alpha: Double = 0.5, salt: String = "temp"): DataFrame = {
    require(alpha >= 0 && alpha <= 1, "alpha in [0,1]")
    val counts = df.groupBy(group.as("__g")).agg(count(lit(1)).as("__n"))
    val nMin = counts.agg(min(col("__n")).as("__nmin"))
    val ratio = col("__nmin").cast("double") / col("__n")
    val rate =
      if (alpha == 0.5) sqrt(ratio) else pow(ratio, lit(1.0 - alpha))
    val rates = counts.crossJoin(broadcast(nMin))
      .select(col("__g"), rate.as("__rate"))
    df.join(broadcast(rates), group === col("__g"))
      .where(hashFraction(key, salt) < col("__rate"))
      .drop("__g", "__rate")
  }

  /** Per-source cap — the "at most k documents per domain" rule
    * web-scale corpora apply so one crawl host can't dominate the
    * mixture. Docs within a source are ranked by (md5(text), doc_id) —
    * a deterministic content-hash shuffle, so the kept set is unbiased
    * by ingestion order and reproducible on any engine — and rows past
    * the cap are dropped.
    *
    * Scale: one window partitioned by source (per-partition state is a
    * single counter, no global sort anywhere); a pathologically hot
    * source concentrates its rows on one partition, but those are
    * exactly the rows the cap discards, and the window short-circuits
    * after k rows of output per key.
    */
  def sourceCap(docs: DataFrame, group: Column, k: Int): DataFrame = {
    require(k > 0, "cap must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(group).orderBy(md5(col("text")), col("doc_id"))
    docs.withColumn("rank_in_source", row_number().over(w).cast("long"))
      .where(col("rank_in_source") <= k)
  }

  /** Per-source quality-score NORMALIZATION — the calibration step a
    * multi-source mixture needs before any global quality threshold:
    * raw scores aren't comparable across sources (a mid-tier web page
    * and a mid-tier academic page score very differently), so each doc
    * gets its PERCENTILE RANK within its own source. Thresholding the
    * normalized score then keeps the same fraction of every source
    * instead of silently biasing the mixture toward whichever source's
    * scorer runs hot.
    *
    * percent_rank = (rank−1)/(n−1) over the total order
    * (score, doc_id) — rank and n are exact integers and the division
    * is a single IEEE op, so the result is bit-identical across
    * engines; the doc_id tie-break makes the order total. One shuffle
    * (the window partition by source). A pathologically hot source
    * serializes its own rank pass — inherent to exact ranks; the
    * approximate alternative at that extreme is histogram buckets
    * ([[graft.operators.Profiler.histogram]]).
    */
  def qualityNormalize(docs: DataFrame, group: Column, score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("score"), col("doc_id"))
    docs.select(col("doc_id"), group.as("source"), score.as("score"))
      .withColumn("pct_rank", percent_rank().over(w))
  }

  // ---------------------------------------------------------------- gate

  private[operators] val GateWeights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private[operators] val MixWeights =
    Seq("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0, "src3" -> 1.0)
  // fractional on purpose: the gate must exercise the hash-gated
  // extra-copy path, not just integer replication
  private[operators] val UpWeights =
    Seq("src0" -> 2.5, "src1" -> 1.5, "src2" -> 1.0)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // epoch-1 dataloader order over 4 shards — a pure function of
    // (epoch, doc_id), replayable after a crash
    "sa_epoch_order" -> ((s, dir) =>
      epochOrder(table(s, dir, "documents").select(col("doc_id")),
        col("doc_id"), epoch = 1, shards = 4)
        .orderBy("shard", "pos")),

    // exactly 100 docs, chosen by salted key hash — stable under
    // partitioning where sample()/randomSplit() are not
    "sa_fixed_k" -> ((s, dir) =>
      fixedK(table(s, dir, "documents").select(col("doc_id"), col("source")),
        col("doc_id"), k = 100).orderBy("doc_id")),

    // 80/10/10 train/val/test split keyed on doc_id — every row
    // labeled, assignment a pure hash function of the key
    "sa_split" -> ((s, dir) =>
      hashSplit(table(s, dir, "documents"), col("doc_id"), GateWeights)
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")),

    // split sizes land near the weights (checked exactly by the oracle
    // re-deriving the same hash bands)
    "sa_split_counts" -> ((s, dir) =>
      hashSplit(table(s, dir, "documents"), col("doc_id"), GateWeights)
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
        .orderBy("split")),

    "ta_top_tokens" -> ((s, dir) =>
      heavyHitters(table(s, dir, "documents"), 20)),

    // near-dup-aware split: per-split doc counts plus the count of
    // candidate pairs straddling splits — which must be ZERO
    "sa_leakage_split" -> ((s, dir) =>
      // ONE LSH candidate pass feeds both the clustering and the audit;
      // the persisted pairs are owned by the plan (harness clears
      // caches per query; library callers hold the plan and release())
      leakageReportPlan(table(s, dir, "documents"), GateWeights).df
        .orderBy("split")),

    // 5-fold cross-validation assignment, every doc labeled 0..4
    "sa_kfold" -> ((s, dir) =>
      kfold(table(s, dir, "documents"), col("doc_id"), k = 5)
        .select(col("doc_id"), col("fold"))
        .orderBy("doc_id")),

    // exact 30% per source, hash-ordered — every source keeps
    // ceil(0.3 * n) docs precisely
    "sa_stratified" -> ((s, dir) =>
      stratifiedSample(table(s, dir, "documents"), col("source"),
        col("doc_id"), 0.3)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // temperature flattening over a deliberately imbalanced source mix
    // (source srcN thinned to every (N+1)-th doc): per-source totals
    // vs kept counts — bigger sources thinned harder, smallest whole
    "sa_temperature" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .where(expr("pmod(doc_id, cast(substring(source, 4, 10) as int) + 1) = 0"))
      val tot = d.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
      val kept = temperatureSample(d, col("source"), col("doc_id"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      tot.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("source")
    }),

    // per-(shard, bin) packing summary: how many docs and tokens each
    // 2048-token training sequence got, across 8 hash shards
    "sa_pack" -> ((s, dir) =>
      packSequences(table(s, dir, "documents"), col("doc_id"),
        size(Tokens.of(col("text"))).cast("long"), 2048L, 8)
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(Tokens.of(col("text"))).cast("long")).as("n_tokens"))
        .orderBy("shard", "bin")),

    // the one-row packing-efficiency audit over the same layout
    "sa_pack_stats" -> ((s, dir) =>
      packStats(table(s, dir, "documents"), col("doc_id"),
        size(Tokens.of(col("text"))).cast("long"), 2048L, 8)),

    // with-replacement upsampling to 2.5:1.5:1 over three sources —
    // exact copies per doc (incl. the hash-gated fractional copy)
    // checked row by row
    "sa_upsample" -> ((s, dir) =>
      upsampleMixture(table(s, dir, "documents"), col("source"),
        col("doc_id"), UpWeights)
        .select(col("doc_id"), col("source"), col("copy"))
        .orderBy("doc_id", "copy")),

    // mixture resampling to 4:2:1:1 over four sources (all others
    // dropped); gate checks the exact surviving rows, not just counts
    "sa_mixture" -> ((s, dir) =>
      mixtureSample(table(s, dir, "documents"), col("source"), col("doc_id"), MixWeights)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // keep-probability = alpha ratio (the ta_quality score): exact
    // surviving rows checked
    "sa_quality_weighted" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val alpha = length(regexp_replace(col("text"), "[^a-z]", ""))
        .cast("double") / length(col("text"))
      qualityWeightedSample(d, col("doc_id"), alpha)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // at most 10 docs per source, content-hash ranked — exact kept set
    // and ranks checked
    "sa_source_cap" -> ((s, dir) =>
      sourceCap(table(s, dir, "documents"), col("source"), 10)
        .select(col("doc_id"), col("source"), col("rank_in_source"))
        .orderBy("doc_id")),

    // per-source percentile normalization of a quality score (doc
    // length) — exact ranks, every row checked
    "sa_quality_norm" -> ((s, dir) =>
      qualityNormalize(table(s, dir, "documents"), col("source"),
        length(col("text")).cast("long"))
        .orderBy("doc_id")),
  )

  /** DuckDB twin of [[hashFraction]]: first 8 md5 hex digits → BIGINT
    * (DuckDB lacks base-16 conv; digit-fold instead). Shared with the
    * other operator modules' oracles so every hash-derived fraction in
    * the gate surface means exactly the same bits.
    */
  private[graft] def hex8ToLong(expr: String): String =
    s"""list_sum(list_transform(range(1, 9),
       | i -> CAST((strpos('0123456789abcdef', substr($expr, i, 1)) - 1) AS BIGINT)
       |      * CAST(POWER(16, 8 - i) AS BIGINT)))""".stripMargin.replaceAll("\\s+", " ")

  /** DuckDB twin of [[hashFraction]] as a [0,1) double expression. */
  private[graft] def hashFractionSql(keyExpr: String, salt: String): String =
    s"CAST(${hex8ToLong(s"md5('$salt|' || $keyExpr)")} AS DOUBLE) / 4294967296.0"

  /** DuckDB twin of the [[hashSplit]] CASE over an arbitrary key
    * expression. Cut points come from the SAME double cumsum the Spark
    * side uses (0.8+0.1 is 0.9000000000000001 in IEEE — a hand-written
    * 0.9 literal would disagree on hash fractions inside that ulp
    * window); Scala's Double toString is shortest-roundtrip, so DuckDB
    * parses the identical double.
    */
  private[operators] def splitCaseSql(
      keyExpr: String, weights: Seq[(String, Double)], salt: String = "split"): String = {
    val f = s"CAST(${hex8ToLong(s"md5('$salt|' || $keyExpr)")} AS DOUBLE) / 4294967296.0"
    val total = weights.map(_._2).sum
    val cuts = weights.map(_._2 / total).scanLeft(0.0)(_ + _)
    val cases = weights.init.zipWithIndex
      .map { case ((label, _), i) => s"WHEN $f < ${cuts(i + 1)} THEN '$label'" }
      .mkString(" ")
    s"CASE $cases ELSE '${weights.last._1}' END"
  }

  private val splitSql =
    s"""SELECT doc_id,
       | ${splitCaseSql("doc_id", GateWeights)} AS split
       |FROM documents""".stripMargin

  def oracles: Map[String, String] = Map(
    "sa_epoch_order" ->
      s"""SELECT doc_id,
         | CAST(FLOOR(${hashFractionSql("doc_id", "epoch-shard")} * 4) AS BIGINT)
         |   AS shard,
         | CAST(ROW_NUMBER() OVER (
         |   PARTITION BY FLOOR(${hashFractionSql("doc_id", "epoch-shard")} * 4)
         |   ORDER BY ${hashFractionSql("doc_id", "epoch-1")}, doc_id) AS BIGINT)
         |   AS pos
         |FROM documents ORDER BY shard, pos""".stripMargin,
    "sa_fixed_k" ->
      """SELECT doc_id, source FROM (
        | SELECT doc_id, source,
        |  md5('fixedk|' || CAST(doc_id AS VARCHAR)) AS h
        | FROM documents ORDER BY h LIMIT 100)
        |ORDER BY doc_id""".stripMargin,
    "sa_split" -> s"SELECT doc_id, split FROM ($splitSql) ORDER BY doc_id",
    "sa_kfold" ->
      s"""SELECT doc_id,
         | CAST(FLOOR(${hashFractionSql("doc_id", "fold")} * 5) AS BIGINT) AS fold
         |FROM documents ORDER BY doc_id""".stripMargin,
    "sa_split_counts" ->
      s"SELECT split, COUNT(*) AS n FROM ($splitSql) GROUP BY split ORDER BY split",
    "ta_top_tokens" ->
      """SELECT token, COUNT(*) AS n
        |FROM (SELECT unnest(string_split_regex(trim(text), ' +')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,
    "sa_pack" -> {
      val frac = s"CAST(${hex8ToLong("md5('pack|' || doc_id)")} AS DOUBLE) / 4294967296.0"
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS tok,
         |  CAST(FLOOR($frac * 8) AS INT) AS shard
         | FROM documents),
         |b AS (SELECT shard, tok,
         |  CAST(FLOOR(COALESCE(SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048) AS BIGINT) AS bin
         | FROM t)
         |SELECT shard, bin, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens
         |FROM b GROUP BY shard, bin ORDER BY shard, bin""".stripMargin
    },
    "sa_pack_stats" -> {
      val frac = s"CAST(${hex8ToLong("md5('pack|' || doc_id)")} AS DOUBLE) / 4294967296.0"
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS tok,
         |  CAST(FLOOR($frac * 8) AS INT) AS shard
         | FROM documents),
         |b AS (SELECT shard, tok,
         |  CAST(FLOOR(COALESCE(SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048) AS BIGINT) AS bin
         | FROM t),
         |bins AS (SELECT shard, bin, COUNT(*) AS n_docs, SUM(tok) AS bin_tokens
         | FROM b GROUP BY 1, 2)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
         | CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         | CAST(SUM(bin_tokens) AS BIGINT) AS n_tokens,
         | CAST(SUM(bin_tokens) * 1000000 // (COUNT(*) * 2048) AS BIGINT) AS fill_ppm,
         | CAST(MAX(bin_tokens) AS BIGINT) AS max_bin_tokens,
         | CAST(SUM(CASE WHEN bin_tokens > 2048 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_overflow_bins
         |FROM bins""".stripMargin
    },
    "sa_quality_weighted" ->
      s"""SELECT doc_id FROM documents
         |WHERE ${hashFractionSql("doc_id", "qw")}
         |  < CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text)
         |ORDER BY doc_id""".stripMargin,
    "sa_leakage_split" ->
      s"""WITH RECURSIVE ${Dedup.clustersCte},
         |clusters AS (SELECT u AS doc_id, MIN(v) AS cluster_id
         |  FROM reach GROUP BY u),
         |labeled AS (SELECT d.doc_id,
         |  ${splitCaseSql("cluster_id", GateWeights)} AS split
         | FROM documents d JOIN clusters USING (doc_id)),
         |cross_p AS (SELECT CAST(COALESCE(SUM(
         |   CASE WHEN la.split <> lb.split THEN 1 ELSE 0 END), 0) AS BIGINT)
         |   AS n_cross_pairs
         |  FROM pairs p
         |  JOIN labeled la ON la.doc_id = p.doc_a
         |  JOIN labeled lb ON lb.doc_id = p.doc_b)
         |SELECT split, COUNT(*) AS n_docs, n_cross_pairs
         |FROM labeled, cross_p
         |GROUP BY split, n_cross_pairs ORDER BY split""".stripMargin,
    "sa_stratified" ->
      s"""WITH r AS (SELECT doc_id, source,
         |  ROW_NUMBER() OVER (PARTITION BY source
         |    ORDER BY ${hashFractionSql("doc_id", "strat")}, doc_id) AS rn,
         |  COUNT(*) OVER (PARTITION BY source) AS n
         | FROM documents)
         |SELECT doc_id, source FROM r
         |WHERE rn <= CEIL(n * 0.3) ORDER BY doc_id""".stripMargin,
    "sa_temperature" ->
      s"""WITH d AS (SELECT doc_id, source FROM documents
         |  WHERE doc_id % (CAST(substr(source, 4) AS INT) + 1) = 0),
         |c AS (SELECT source, COUNT(*) AS n FROM d GROUP BY source),
         |m AS (SELECT MIN(n) AS nmin FROM c),
         |r AS (SELECT source, n, sqrt(CAST(nmin AS DOUBLE) / n) AS rate FROM c, m),
         |k AS (SELECT d.source AS src, COUNT(*) AS n_kept
         |  FROM d JOIN r ON d.source = r.source
         |  WHERE ${hashFractionSql("doc_id", "temp")} < rate
         |  GROUP BY d.source)
         |SELECT r.source, CAST(r.n AS BIGINT) AS n_total,
         | COALESCE(n_kept, 0) AS n_kept
         |FROM r LEFT JOIN k ON r.source = k.src ORDER BY r.source""".stripMargin,
    // rate replay in the same IEEE order as the Spark plan (max-scale,
    // then s*w/n); copies = floor(rate) + hash-gated fractional copy,
    // unnested to one row per copy
    "sa_upsample" -> {
      val frac = s"CAST(${hex8ToLong("md5('upsample|' || doc_id)")} AS DOUBLE) / 4294967296.0"
      val cases = UpWeights
        .map { case (g, w) => s"WHEN '$g' THEN $w" }.mkString(" ")
      s"""WITH g AS (SELECT source AS grp, CAST(COUNT(*) AS DOUBLE) AS n
         |  FROM documents GROUP BY source),
         |w AS (SELECT grp, n, CASE grp $cases END AS wgt FROM g),
         |w2 AS (SELECT * FROM w WHERE wgt IS NOT NULL),
         |s AS (SELECT MAX(n / wgt) AS s FROM w2),
         |r AS (SELECT grp, (s.s * wgt / n) AS rate FROM w2, s),
         |c AS (SELECT d.doc_id, d.source,
         |  CAST(FLOOR(rate) AS BIGINT)
         |   + CASE WHEN $frac < rate - FLOOR(rate) THEN 1 ELSE 0 END AS ncopies
         | FROM documents d JOIN r ON d.source = r.grp)
         |SELECT doc_id, source, CAST(u.i AS BIGINT) AS copy
         |FROM c, UNNEST(range(0, ncopies)) u(i)
         |ORDER BY doc_id, copy""".stripMargin
    },
    "sa_mixture" -> {
      val frac = s"CAST(${hex8ToLong("md5('mix|' || doc_id)")} AS DOUBLE) / 4294967296.0"
      val cases = MixWeights
        .map { case (g, w) => s"WHEN '$g' THEN $w" }.mkString(" ")
      s"""WITH g AS (SELECT source AS grp, CAST(COUNT(*) AS DOUBLE) AS n
         |  FROM documents GROUP BY source),
         |w AS (SELECT grp, n, CASE grp $cases END AS wgt FROM g),
         |w2 AS (SELECT * FROM w WHERE wgt IS NOT NULL),
         |s AS (SELECT MIN(n / wgt) AS s FROM w2),
         |p AS (SELECT grp, (s.s * wgt / n) AS p FROM w2, s)
         |SELECT d.doc_id, d.source FROM documents d JOIN p ON d.source = p.grp
         |WHERE $frac < p.p ORDER BY d.doc_id""".stripMargin
    },
    "sa_source_cap" ->
      """WITH r AS (SELECT doc_id, source,
        |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rank_in_source
        | FROM documents)
        |SELECT doc_id, source, CAST(rank_in_source AS BIGINT) AS rank_in_source
        |FROM r WHERE rank_in_source <= 10 ORDER BY doc_id""".stripMargin,
    "sa_quality_norm" ->
      """SELECT doc_id, source, CAST(length(text) AS BIGINT) AS score,
        | PERCENT_RANK() OVER (PARTITION BY source ORDER BY length(text), doc_id) AS pct_rank
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
