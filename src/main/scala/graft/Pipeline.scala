package graft

import graft.config.{PipelineSpec, StepSpec}
import graft.operators.{Curation, Dedup, Sampling, TextAnalysis}
import graft.sources.{Sinks, Sources}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Executor for YAML curation pipelines
  * ([[graft.config.PipelineLoader]]): fold the validated step list
  * over the resolved input. Each step delegates to its oracle-gated
  * operator; this layer only adapts schemas (schema-stable in/out per
  * step) so steps compose in any order. The whole run is ONE lazy
  * plan — nothing materializes until the sink (or the caller) acts —
  * with the usual CC-checkpoint exception inside near-dup steps.
  *
  * Nothing is cached between steps either, so every reference a step
  * makes to its input (a self-join, a semi-join against its own
  * aggregate, a side branch) re-runs every upstream step: perfbench
  * measures about 19× input reads on `pipe_curate`. Steps therefore
  * reference their input once where they can (`filter_stack` is one
  * `where`). [[funnel]] is the single-execution form.
  *
  * Keeper rule: the fold tracks whether the frame holds only near-dup
  * keepers, so that no two rows are MinHash-LSH candidates of each
  * other. `dedup_near` establishes it. A step keeps it if it only drops
  * rows or adds columns, without rewriting `text` or `doc_id`
  * (candidacy depends on the two documents alone, so a subset of
  * keepers holds no candidate pair); any other step clears it. While it
  * holds, `split(leakage_safe)` keys on `doc_id`, because each keeper is
  * its own cluster: the same rows as clustering again, without a second
  * MinHash pass and connected-components loop. The rule assumes that
  * `doc_id` keys one document, as the near-dup operators do when they
  * group shingles by it.
  */
object Pipeline {

  /** Upper bound on a bpe_annotate step's merge-table rows: far above
    * any real vocabulary (production tokenizers are ~30-100k merges)
    * and far below anything corpus-sized.
    */
  val MaxMergeTableRows: Int = 1 << 20

  def run(spark: SparkSession, spec: PipelineSpec): DataFrame =
    withKeepers(spec.steps).foldLeft(Sources.resolve(spark, spec.input)) {
      case (df, (s, keepersOnly)) => applyStep(spark, df, s, keepersOnly)
    }

  /** Each step paired with whether its input holds only near-dup
    * keepers (the keeper rule in the object doc).
    */
  private def withKeepers(steps: Seq[StepSpec]): Seq[(StepSpec, Boolean)] =
    steps.zip(steps.scanLeft(false)((k, s) => keepsKeepers(s, k)))

  // exhaustive on purpose: a new step must say whether it keeps the rule
  private def keepsKeepers(s: StepSpec, keepers: Boolean): Boolean = s match {
    case StepSpec.DedupNear => true
    case StepSpec.FilterStack | _: StepSpec.DedupExact |
        _: StepSpec.Decontaminate | _: StepSpec.SourceCap | _: StepSpec.Forget |
        _: StepSpec.LmFilter | _: StepSpec.Temperature | _: StepSpec.Stratified |
        _: StepSpec.Mixture | _: StepSpec.QualityWeighted | _: StepSpec.FixedK |
        _: StepSpec.Kfold | _: StepSpec.Split | _: StepSpec.QualityNormalize |
        _: StepSpec.KAnonSuppress | _: StepSpec.LDiversitySuppress |
        _: StepSpec.EpochOrder | _: StepSpec.Pack | _: StepSpec.BpeTrain => keepers
    case _: StepSpec.NormalizeText | _: StepSpec.RedactPii | _: StepSpec.Pseudonymize |
        _: StepSpec.DecontaminateRewrite | _: StepSpec.DedupSpanRewrite |
        _: StepSpec.Upsample | _: StepSpec.BpeAnnotate | _: StepSpec.Chunk |
        _: StepSpec.Scd2 | _: StepSpec.Freshness | _: StepSpec.KsDrift => false
  }

  /** Run and, if the spec has an output, write it. Returns the final
    * frame either way.
    */
  def execute(spark: SparkSession, spec: PipelineSpec): DataFrame = {
    val out = run(spark, spec)
    spec.output.foreach(o =>
      Sinks.write(out, o.path, Sinks.SinkSpec(format = o.format)))
    out
  }

  /** Per-step retention funnel — the report a curation run ships next
    * to its output: rows in, rows out, and the exact drop in ppm of
    * each step's input, one row per step plus the input row. The
    * answer to "which step ate my corpus" that otherwise needs a
    * re-run per hypothesis.
    *
    * Diagnostic form, deliberately EAGER: each stage is cached,
    * counted once, handed to the next step, and released as soon as
    * its successor is materialized — the chain executes once (never
    * steps² recomputation) and no stage cache outlives the call.
    * Production runs use [[run]]/[[execute]] (one lazy plan, zero
    * extra materialization); the funnel is the opt-in ops pass.
    */
  def funnel(spark: SparkSession, spec: PipelineSpec): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    var cur = Sources.resolve(spark, spec.input)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    var prev = cur.count()
    val rows = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long, Long)]()
    rows += ((0, "input", prev, prev, 0L))
    withKeepers(spec.steps).zipWithIndex.foreach { case ((s, keepersOnly), i) =>
      val next = applyStep(spark, cur, s, keepersOnly)
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      val n = next.count() // materialize BEFORE releasing the input stage
      cur.unpersist(blocking = false)
      rows += ((i + 1, stepName(s), prev, n,
        if (prev > 0) (prev - n) * 1000000L / prev else 0L))
      cur = next; prev = n
    }
    cur.unpersist(blocking = false)
    import spark.implicits._
    rows.toSeq.toDF("step_idx", "step", "rows_in", "rows_out", "dropped_ppm")
  }

  private def stepName(s: StepSpec): String = s match {
    case StepSpec.FilterStack        => "filter_stack"
    case _: StepSpec.NormalizeText   => "normalize_text"
    case _: StepSpec.RedactPii       => "redact_pii"
    case _: StepSpec.Pseudonymize    => "pseudonymize"
    case _: StepSpec.DedupExact      => "dedup_exact"
    case StepSpec.DedupNear          => "dedup_near"
    case _: StepSpec.Decontaminate   => "decontaminate"
    case _: StepSpec.DecontaminateRewrite => "decontaminate_rewrite"
    case _: StepSpec.DedupSpanRewrite => "dedup_span_rewrite"
    case _: StepSpec.SourceCap       => "source_cap"
    case _: StepSpec.Split           => "split"
    case _: StepSpec.Forget          => "forget"
    case _: StepSpec.LmFilter        => "lm_filter"
    case _: StepSpec.Temperature     => "temperature"
    case _: StepSpec.Stratified      => "stratified"
    case _: StepSpec.Kfold           => "kfold"
    case _: StepSpec.QualityNormalize => "quality_normalize"
    case _: StepSpec.Mixture         => "mixture"
    case _: StepSpec.Upsample        => "upsample"
    case _: StepSpec.QualityWeighted => "quality_weighted"
    case _: StepSpec.FixedK          => "fixed_k"
    case _: StepSpec.EpochOrder      => "epoch_order"
    case _: StepSpec.Pack            => "pack"
    case _: StepSpec.KAnonSuppress   => "k_anon_suppress"
    case _: StepSpec.LDiversitySuppress => "l_diversity_suppress"
    case _: StepSpec.BpeTrain        => "bpe_train"
    case _: StepSpec.BpeAnnotate     => "bpe_annotate"
    case _: StepSpec.Chunk           => "chunk"
    case _: StepSpec.Scd2            => "scd2"
    case _: StepSpec.Freshness       => "freshness"
    case _: StepSpec.KsDrift         => "ks_drift"
  }

  /** One step over `df`. `keepersOnly` says that `df` holds only
    * near-dup keepers (the keeper rule); only `split(leakage_safe)`
    * reads it.
    */
  private[graft] def applyStep(spark: SparkSession, df: DataFrame, step: StepSpec,
      keepersOnly: Boolean = false): DataFrame = step match {
    case StepSpec.FilterStack =>
      df.where(TextAnalysis.filterStackKeep)

    case StepSpec.NormalizeText(textCol, form) =>
      TextAnalysis.normalizeText(df, textCol, form)

    case StepSpec.RedactPii(textCol) =>
      Curation.redactPii(df, col(textCol))
        .withColumn(textCol, col("text_redacted"))
        .drop("text_redacted", "n_pii_email", "n_pii_ip", "n_pii_phone")

    case StepSpec.Pseudonymize(cols, salt) =>
      Curation.pseudonymize(df, cols, salt)

    case StepSpec.DedupExact(idCol, textCol) =>
      df.join(
        df.groupBy(md5(col(textCol)).as("__h"))
          .agg(min(col(idCol)).as(idCol)).drop("__h"),
        Seq(idCol), "left_semi")

    case StepSpec.DedupNear =>
      val clusters = Dedup.connectedComponents(df, Dedup.minhashCandidates(df))
      val scores = df.select(col("doc_id"),
        length(col("text")).cast("long").as("score"))
      val keepers = Dedup.keeperByQuality(clusters, scores)
        .select(col("keeper").as("doc_id"))
      df.join(keepers, Seq("doc_id"), "left_semi")

    case StepSpec.Decontaminate(bench, maxHits, bloom) =>
      val benchDf = Sources.resolve(spark, bench)
      val hits =
        if (bloom) Curation.decontaminateBloom(df, benchDf)
        else Curation.decontaminate(df, benchDf)
      df.join(hits.where(col("bench_hits") > maxHits).select(col("doc_id")),
        Seq("doc_id"), "left_anti")

    case StepSpec.DecontaminateRewrite(bench, minKept) =>
      val benchDf = Sources.resolve(spark, bench)
      // one row per input doc: (doc_id, text_clean, n_tokens,
      // cut_tokens); text replaced in place so the step is
      // schema-stable, then the kept-token floor drops documents that
      // were substantially the benchmark item
      val rw = Curation.decontaminateRewrite(df, benchDf)
        .select(col("doc_id"), col("text_clean"),
          (col("n_tokens") - col("cut_tokens")).as("__kept"))
      df.join(rw, Seq("doc_id"))
        .withColumn("text", col("text_clean"))
        .where(col("__kept") >= minKept)
        .drop("text_clean", "__kept")

    case StepSpec.DedupSpanRewrite(blockTokens, minKept) =>
      // (doc_id, text_deduped, n_blocks_kept) one row per input doc;
      // text replaced in place (schema-stable), then the kept-block
      // floor drops documents C4 would leave as empty pages
      val rw = graft.operators.Dedup.spanDedupRewrite(df, blockTokens)
      df.join(rw, Seq("doc_id"))
        .withColumn("text", col("text_deduped"))
        .where(col("n_blocks_kept") >= minKept)
        .drop("text_deduped", "n_blocks_kept")

    case StepSpec.SourceCap(groupCol, k) =>
      Sampling.sourceCap(df, col(groupCol), k).drop("rank_in_source")

    case StepSpec.Split(weights, salt, leakageSafe) =>
      if (leakageSafe && keepersOnly) {
        // every keeper is its own cluster, and a singleton's cluster id
        // is its doc_id: the full path's rows (its inner join drops a
        // null doc_id) in its join's column order
        val rest = df.drop("doc_id").columns.map(c => df(s"`$c`"))
        Sampling.hashSplit(df.select(df("doc_id") +: rest: _*)
          .where(col("doc_id").isNotNull), col("doc_id"), weights, salt)
      } else if (leakageSafe)
        Sampling.leakageSafeSplit(df, weights, salt).drop("cluster_id")
      else Sampling.hashSplit(df, col("doc_id"), weights, salt)

    case StepSpec.Forget(tombstones, keyCol) =>
      Curation.forget(df, col(keyCol), Sources.resolve(spark, tombstones))

    case StepSpec.LmFilter(minPpm, maxPpm) =>
      // corpus-as-LM self-scoring (the CCNet shape); like DedupNear,
      // the step's internal bigram cache follows the documented
      // pipeline cache contract
      df.join(TextAnalysis.lmScorePlan(df).df
          .where(col("lm_score_ppm").between(minPpm, maxPpm))
          .select(col("doc_id")),
        Seq("doc_id"), "left_semi")

    case StepSpec.Temperature(groupCol, keyCol, alpha, salt) =>
      Sampling.temperatureSample(df, col(groupCol), col(keyCol), alpha, salt)

    case StepSpec.Stratified(groupCol, keyCol, frac, salt) =>
      Sampling.stratifiedSample(df, col(groupCol), col(keyCol), frac, salt)

    case StepSpec.Kfold(keyCol, k, salt) =>
      Sampling.kfold(df, col(keyCol), k, salt)

    case StepSpec.QualityNormalize(groupCol, scoreCol, keyCol, minPct) =>
      // annotate with the within-group percentile (like split/kfold,
      // the step ADDS its assignment column), optionally thresholded.
      // Computed as a window DIRECTLY over the incoming frame — the
      // operator-output self-join alternative executes every upstream
      // step twice (df appears on both sides) for the same one-shuffle
      // window; same (score, key) total order, identical pct_rank
      df.withColumn("pct_rank",
          org.apache.spark.sql.functions.percent_rank().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col(groupCol)).orderBy(col(scoreCol), col(keyCol))))
        .where(col("pct_rank") >= minPct)

    case StepSpec.Mixture(groupCol, keyCol, weights, salt) =>
      Sampling.mixtureSample(df, col(groupCol), col(keyCol), weights, salt)

    case StepSpec.Upsample(groupCol, keyCol, weights, salt) =>
      Sampling.upsampleMixture(df, col(groupCol), col(keyCol), weights, salt)

    case StepSpec.QualityWeighted(keyCol, scoreCol, salt) =>
      Sampling.qualityWeightedSample(df, col(keyCol), col(scoreCol), salt)

    case StepSpec.FixedK(keyCol, k, salt) =>
      Sampling.fixedK(df, col(keyCol), k, salt)

    case StepSpec.EpochOrder(keyCol, epoch, shards, salt) =>
      Sampling.epochOrder(df, col(keyCol), epoch, shards, salt)

    case StepSpec.Pack(keyCol, tokensCol, capacity, shards, salt) =>
      // after an epoch_order step the frame already carries a reader
      // layout (shard, pos); packing must BIN THAT ORDER, not impose a
      // second differently-salted shard — packSequences' withColumn
      // would silently overwrite the epoch shard while pos survived,
      // leaving a (shard, pos) pair that is not a permutation. Inside
      // an epoch layout, bins are contiguous runs of the reader order
      if (df.columns.contains("shard") && df.columns.contains("pos")) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("pos"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        df.withColumn("bin",
          floor(coalesce(sum(col(tokensCol)).over(w), lit(0L)) / capacity)
            .cast("long"))
      } else Sampling.packSequences(df, col(keyCol), col(tokensCol), capacity,
        shards, salt)

    case StepSpec.KAnonSuppress(quasiCols, k) =>
      // group-size predicate as a window count DIRECTLY over the
      // incoming frame (one shuffle to the quasi grain) — the
      // operator-output anti-join alternative puts df on both join
      // sides and executes every upstream step twice. Same k-anonymity
      // contract as [[Curation.kAnonymityViolations]]: rows whose
      // quasi combination is shared by fewer than k rows are dropped
      df.withColumn("__qn",
          org.apache.spark.sql.functions.count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(quasiCols.map(col): _*)))
        .where(col("__qn") >= k)
        .drop("__qn")

    case StepSpec.LDiversitySuppress(quasiCols, sensitiveCol, l) =>
      // distinct-count-per-group WITHOUT a per-group set and without
      // the self-join double-execution trap (see KAnonSuppress):
      // dense_rank over (quasi ORDER BY sensitive) tops out at the
      // group's distinct sensitive count, and max of it over the same
      // partition broadcasts that count to every row — two window
      // passes over ONE quasi-grain shuffle, state O(1) per row.
      // Same contract as [[graft.operators.Curation.lDiversityViolations]]
      // (nulls count as a value, matching its (quasi, sensitive)
      // grouping grain).
      {
        import org.apache.spark.sql.expressions.Window
        val byQuasi = Window.partitionBy(quasiCols.map(col): _*)
        df.withColumn("__dr",
            dense_rank().over(byQuasi.orderBy(col(sensitiveCol))))
          .withColumn("__nd", max(col("__dr")).over(byQuasi))
          .where(col("__nd") >= l)
          .drop("__dr", "__nd")
      }

    case StepSpec.BpeTrain(merges, textCol, keyCol, path, sampleK) =>
      // EAGER side-output boundary by design: the merge table must
      // exist on disk before a later bpe_annotate step resolves its
      // table: source (steps apply in order, and bpe_annotate's
      // collect is itself eager). The main frame passes through
      // untouched — training is a side effect, not a transform.
      // Upstream steps therefore compute once here and again at final
      // materialization (documented on the StepSpec) — place this
      // step early, or use funnel() for single-execution stages.
      val trainInput = sampleK.fold(df)(k =>
        Sampling.fixedK(df, col(keyCol), k, "bpe"))
      Sinks.write(TextAnalysis.bpeTrain(trainInput, merges, textCol), path,
        Sinks.SinkSpec())
      df

    case StepSpec.BpeAnnotate(tableSide, textCol, minRank) =>
      // the merge table is DRIVER-SIDE state by design (a trained
      // vocabulary, k rows) — bound the collect so a table: source
      // pointed at a corpus-sized frame is a loud config error, not a
      // driver OOM. limit(cap+1) keeps the fetch driver-bounded by
      // construction whatever the source size.
      val rows = Sources.resolve(spark, tableSide)
        .orderBy(col("rank"))
        .select(col("left_tok"), col("right_tok"))
        .limit(MaxMergeTableRows + 1)
        .collect()
      require(rows.length <= MaxMergeTableRows,
        s"bpe_annotate: merge table source has more than $MaxMergeTableRows " +
          "rows — that is corpus-sized, not a trained vocabulary; point " +
          "table: at a bpe_train output (rank, left_tok, right_tok)")
      val merges = rows.map(r => (r.getString(0), r.getString(1))).toSeq
      // mode: min_rank = the classic encode loop external (HF-style)
      // tables assume; default passes = bpeTrain's own replay
      if (minRank) TextAnalysis.bpeAnnotateMinRank(df, merges, textCol)
      else TextAnalysis.bpeAnnotate(df, merges, textCol)

    case StepSpec.Chunk(chunkSize, stride) =>
      TextAnalysis.chunk(df, chunkSize, stride)

    case StepSpec.Scd2(entityCol, tsCol, tieCol, stateCol) =>
      graft.queries.Relational.scd2History(df, entityCol, tsCol, tieCol, stateCol)

    case StepSpec.Freshness(keyCol, tsCol, staleSec) =>
      graft.operators.Profiler.freshness(df, col(keyCol), col(tsCol), staleSec)

    case StepSpec.KsDrift(ref, c, bucketWidth) =>
      graft.operators.Profiler.ksDrift(
        df, Sources.resolve(spark, ref), c, bucketWidth)
  }
}
