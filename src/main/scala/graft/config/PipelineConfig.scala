package graft.config

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

/** YAML-driven CURATION PIPELINE config — the reference's config-first
  * philosophy (YAML in, validated spec out, fail fast —
  * /root/reference/scribedb/configuration.py:19-37) extended from the
  * compare engine to the training-data surface: a pipeline is an input
  * source, an ordered list of curation steps, and an optional sink.
  * Every step maps 1:1 onto an oracle-gated operator; the config layer
  * adds NO new semantics, only declarative composition — so a YAML
  * pipeline inherits each operator's scale bounds and the whole run
  * stays one lazy Catalyst plan end to end (checkpoint boundaries
  * inside connected components excepted, as documented there).
  */
sealed trait StepSpec

object StepSpec {
  /** Keep only docs passing the fused quality∧repetition∧language
    * stack ([[graft.operators.TextAnalysis.filterStack]]).
    */
  case object FilterStack extends StepSpec

  /** Unicode-canonicalize `textCol` in place
    * ([[graft.operators.TextAnalysis.normalizeText]] — the native
    * [[graft.functions.UnicodeNormalize]] expression). Run FIRST:
    * every hash-based step downstream (dedup_exact, dedup_near,
    * decontaminate) treats decomposed and precomposed codepoint
    * sequences as distinct text until this runs.
    */
  final case class NormalizeText(textCol: String, form: String) extends StepSpec

  /** Replace `textCol` with its PII-redacted form
    * ([[graft.operators.Curation.redactPii]]); audit counters are
    * dropped to keep the pipeline schema stable.
    */
  final case class RedactPii(textCol: String) extends StepSpec

  /** Salted-hash pseudonymization of identifier columns
    * ([[graft.operators.Curation.pseudonymize]]).
    */
  final case class Pseudonymize(cols: Seq[String], salt: String) extends StepSpec

  /** Exact content dedup: keep the min-`idCol` row per `textCol` hash. */
  final case class DedupExact(idCol: String, textCol: String) extends StepSpec

  /** Near-dup dedup: MinHash-LSH candidates → connected components →
    * keep the highest-quality doc (char length) per cluster.
    */
  case object DedupNear extends StepSpec

  /** Drop docs sharing more than `maxHits` word-3-grams with the
    * benchmark corpus ([[graft.operators.Curation.decontaminate]]).
    * `bloom = true` switches the membership test to the fixed-size
    * sketch form ([[graft.operators.Curation.decontaminateBloom]]) —
    * the variant for benchmark suites too large for an exact build
    * side. One-sided error: never misses a true overlap, may drop a
    * bounded sliver of clean docs (fpp), so it composes safely in a
    * drop-flagged pipeline step.
    */
  final case class Decontaminate(bench: SideSpec, maxHits: Long,
      bloom: Boolean) extends StepSpec

  /** SURGICAL decontamination as a step — the ACTION arm of the span
    * audit next to [[Decontaminate]]'s drop policy: leaked spans are
    * REMOVED from `text` and the rest of the document kept
    * ([[graft.operators.Curation.decontaminateRewrite]]), so one
    * leaked quotation no longer costs the whole document. Documents
    * whose surviving token count falls below `minKeptTokens` (they
    * were substantially the benchmark item) drop entirely — the
    * rewrite-then-floor composition every decontamination runbook
    * ends with.
    */
  final case class DecontaminateRewrite(bench: SideSpec,
      minKeptTokens: Long) extends StepSpec

  /** C4-style span-dedup REWRITE as a step
    * ([[graft.operators.Dedup.spanDedupRewrite]]): duplicated
    * `blockTokens`-token blocks removed corpus-wide (first occurrence
    * keeps its copy), each document's text reassembled in place.
    * Documents left with fewer than `minKeptBlocks` surviving blocks
    * drop — C4's empty-page behavior, made a config decision instead
    * of a silent empty string.
    */
  final case class DedupSpanRewrite(blockTokens: Int,
      minKeptBlocks: Long) extends StepSpec

  /** Bound any one group's contribution to k docs
    * ([[graft.operators.Sampling.sourceCap]]).
    */
  final case class SourceCap(groupCol: String, k: Int) extends StepSpec

  /** Deterministic split assignment; `leakageSafe = true` keys the
    * split on the near-dup cluster id
    * ([[graft.operators.Sampling.leakageSafeSplit]]) instead of the
    * doc id ([[graft.operators.Sampling.hashSplit]]). After
    * `dedup_near` with only row-dropping steps in between, the cluster
    * is the keeper itself, so the step keys on `doc_id` without
    * clustering again ([[graft.Pipeline]]'s keeper rule).
    */
  final case class Split(weights: Seq[(String, Double)], salt: String,
      leakageSafe: Boolean) extends StepSpec

  /** Right-to-be-forgotten purge against a tombstone source
    * ([[graft.operators.Curation.forget]]).
    */
  final case class Forget(tombstones: SideSpec, keyCol: String) extends StepSpec

  /** Keep docs whose corpus-LM score
    * ([[graft.operators.TextAnalysis.lmScorePlan]]) lies inside
    * [minPpm, maxPpm] — the perplexity-style filter: the low tail is
    * garbled/out-of-domain text, the high tail is boilerplate whose
    * transitions dominate the corpus.
    */
  final case class LmFilter(minPpm: Long, maxPpm: Long) extends StepSpec

  /** Temperature-flattened mixture sampling
    * ([[graft.operators.Sampling.temperatureSample]]): thin each
    * group toward equal share with per-group keep rate
    * (n_min/n_i)^(1−alpha).
    */
  final case class Temperature(groupCol: String, keyCol: String,
      alpha: Double, salt: String) extends StepSpec

  /** Exact per-stratum sampling
    * ([[graft.operators.Sampling.stratifiedSample]]): keep exactly
    * ⌈frac·n⌉ rows of every group, chosen by salted-hash order.
    */
  final case class Stratified(groupCol: String, keyCol: String,
      frac: Double, salt: String) extends StepSpec

  /** k-fold assignment ([[graft.operators.Sampling.kfold]]): adds a
    * `fold` column in 0..k−1, a pure function of (salt, key).
    */
  final case class Kfold(keyCol: String, k: Int, salt: String) extends StepSpec

  /** Per-group quality-score percentile normalization
    * ([[graft.operators.Sampling.qualityNormalize]]): adds `pct_rank`
    * (the doc's percentile of `scoreCol` within its group) and keeps
    * rows with pct_rank ≥ minPct — the calibrated alternative to a
    * raw global score threshold. `keyCol` is the tie-break that makes
    * the within-group order total (the other sampler steps' key_col
    * contract).
    */
  final case class QualityNormalize(groupCol: String, scoreCol: String,
      keyCol: String, minPct: Double) extends StepSpec

  /** Domain-mixture sampling
    * ([[graft.operators.Sampling.mixtureSample]]): downsample groups
    * to the target mixture `weights`, keeping the binding group whole.
    * Groups absent from the mapping are DROPPED (weight zero) — the
    * mixture is a whitelist, unlike [[Temperature]]'s keep-everything
    * flattening.
    */
  final case class Mixture(groupCol: String, keyCol: String,
      weights: Seq[(String, Double)], salt: String) extends StepSpec

  /** With-replacement mixture
    * ([[graft.operators.Sampling.upsampleMixture]]): reach the target
    * proportions by REPEATING under-represented groups' rows (every
    * original row kept at least once, a 0-based `copy` column added)
    * instead of [[Mixture]]'s dropping. Same whitelist semantics:
    * groups absent from the mapping are dropped.
    */
  final case class Upsample(groupCol: String, keyCol: String,
      weights: Seq[(String, Double)], salt: String) extends StepSpec

  /** Quality-weighted sampling
    * ([[graft.operators.Sampling.qualityWeightedSample]]): keep each
    * row with probability `scoreCol` (a [0,1] score — e.g. the
    * `pct_rank` a preceding [[QualityNormalize]] step adds), the soft
    * alternative to a hard cutoff.
    */
  final case class QualityWeighted(keyCol: String, scoreCol: String,
      salt: String) extends StepSpec

  /** Exact-k deterministic sample ([[graft.operators.Sampling.fixedK]]):
    * exactly k rows, chosen by salted-hash order of `keyCol` — stable
    * under repartitioning and re-runs where `df.sample` is not.
    */
  final case class FixedK(keyCol: String, k: Int, salt: String) extends StepSpec

  /** Deterministic epoch-shuffled reader order
    * ([[graft.operators.Sampling.epochOrder]]): adds `shard` and `pos`
    * — a per-shard permutation that re-randomizes per `epoch` without
    * any global sort; readers consume shards independently.
    */
  final case class EpochOrder(keyCol: String, epoch: Int, shards: Int,
      salt: String) extends StepSpec

  /** Greedy sequence packing ([[graft.operators.Sampling.packSequences]]):
    * adds `shard` and `bin`, assigning docs to token-budget bins of
    * `capacity` (counted from `tokensCol`) within hash shards — the
    * pretraining batch-packing layout, shard-local and deterministic.
    * When the incoming frame already carries an [[EpochOrder]] layout
    * (`shard` + `pos` columns), the step packs INSIDE that layout —
    * bins become contiguous runs of the reader order (keyCol/shards/
    * salt are then unused) — instead of overwriting the epoch shard
    * with a second hash assignment.
    */
  final case class Pack(keyCol: String, tokensCol: String, capacity: Long,
      shards: Int, salt: String) extends StepSpec

  /** k-anonymity suppression: drop every row whose quasi-identifier
    * combination (`quasiCols`) is shared by fewer than k rows — the
    * enforcement form of [[graft.operators.Curation.kAnonymityViolations]]
    * (one group-size aggregate + an anti-join; output is k-anonymous on
    * those columns by construction).
    */
  final case class KAnonSuppress(quasiCols: Seq[String], k: Long) extends StepSpec

  /** l-diversity suppression: drop every row whose quasi-identifier
    * group spans fewer than `l` DISTINCT values of `sensitiveCol` —
    * the enforcement form of
    * [[graft.operators.Curation.lDiversityViolations]], closing the
    * attribute-disclosure hole [[KAnonSuppress]] leaves (a large group
    * with one sensitive value is k-anonymous and still discloses).
    */
  final case class LDiversitySuppress(quasiCols: Seq[String],
      sensitiveCol: String, l: Long) extends StepSpec

  /** SCD2 history build ([[graft.queries.Relational.scd2History]]):
    * REPLACES the frame with the type-2 slowly-changing-dimension
    * history — one row per (entity, run) of constant `stateCol` with
    * [valid_from, valid_to) bounds and an is_current flag. A report
    * step: the change-collapse that turns an event/CDC feed into
    * queryable history, placed at the end of a pipeline (or followed
    * by steps that operate on the history shape).
    */
  final case class Scd2(entityCol: String, tsCol: String, tieCol: String,
      stateCol: String) extends StepSpec

  /** Tokenizer annotation ([[graft.operators.TextAnalysis.bpeAnnotate]]):
    * reads a TRAINED merge table ([[graft.operators.TextAnalysis.bpeTrain]]'s
    * output shape — rank, left_tok, right_tok) from a side source and
    * annotates every document with n_tokens, n_pieces and merged_frac
    * — compression ratio and vocab coverage riding along the frame
    * for downstream filters/mixture decisions. The table is
    * driver-side by construction (k rows, loudly bounded) and applies
    * through the uncapped native kernel.
    *
    * WHICH ENCODE SEMANTICS APPLIES IS A CONFIG CHOICE (`mode:`):
    * the default `passes` replays merges as rank-order passes — the
    * loop [[graft.operators.TextAnalysis.bpeTrain]]'s own corpus
    * rewrite runs, so tables THIS engine trained round-trip exactly.
    * An EXTERNALLY-trained table (an HF-style `merges.txt`) assumes
    * the classic min-rank-first loop instead — set `mode: min_rank`
    * ([[graft.functions.BpeEncodeMinRank]]) or the annotation
    * silently mis-tokenizes wherever a later merge re-enables an
    * earlier one. In min_rank mode `merged_frac` is the
    * merge-consumption rate (n_tokens − n_pieces)/n_tokens — merged
    * pieces are plain concatenations carrying no marker, so the
    * pass-mode merged-piece fraction is not observable there.
    */
  final case class BpeAnnotate(table: SideSpec, textCol: String,
      minRank: Boolean) extends StepSpec

  /** Tokenizer training side-output
    * ([[graft.operators.TextAnalysis.bpeTrain]]): trains `merges` BPE
    * merges on the incoming frame — or on a fixed-k deterministic
    * sample of it when `sample_k` is set, the production scale path:
    * pair statistics converge long before corpus scale, making every
    * training round O(k) regardless of corpus size — and writes the
    * learned merge table (rank, left_tok, right_tok, n) as parquet to
    * `path`, then passes the frame through UNCHANGED. This is the
    * config-first tokenizer story's missing first act: a downstream
    * [[BpeAnnotate]] step points `table:` at the same path (steps
    * execute in order, and the write is an EAGER side-output boundary
    * by design), so train → annotate → filter runs end-to-end from
    * one YAML. Tables this step trains apply under the annotate
    * step's default `mode: passes`. `key_col` is the sample_k hash
    * key (default doc_id — the corpus-standard key every sampler
    * step defaults to, unlike scd2/freshness whose defaults were
    * fixture-specific and are therefore required).
    *
    * COST NOTE: the boundary is eager inside [[graft.Pipeline.run]]'s
    * otherwise one-lazy-plan model, so upstream steps compute once
    * for the training write and AGAIN when the pipeline's final
    * frame materializes. Place bpe_train before expensive transform
    * steps (its natural position — train on the raw corpus), or run
    * via [[graft.Pipeline.funnel]], whose per-stage caching makes
    * every step single-execution.
    */
  final case class BpeTrain(merges: Int, textCol: String, keyCol: String,
      path: String, sampleK: Option[Int]) extends StepSpec

  /** Chunking ([[graft.operators.TextAnalysis.chunk]]): REPLACES the
    * frame with overlapping token-window chunk rows (doc_id,
    * chunk_idx, start_tok, n_chunk_toks, chunk_md5) — the
    * retrieval/embedding preparation step, stride-windowed so chunk
    * boundaries never lose context.
    */
  final case class Chunk(chunkSize: Int, stride: Int) extends StepSpec

  /** Freshness report ([[graft.operators.Profiler.freshness]]):
    * REPLACES the frame with the per-key ingestion-health report —
    * last_seen, row count, lag in seconds behind the freshest key,
    * and a stale flag at `staleSec`. The silently-dead-upstream
    * detector as a declarative pipeline terminal.
    */
  final case class Freshness(keyCol: String, tsCol: String,
      staleSec: Long) extends StepSpec

  /** KS drift report ([[graft.operators.Profiler.ksDrift]]):
    * REPLACES the frame with the one-row exact two-sample
    * Kolmogorov–Smirnov report (n_a, n_b, ks_ppm, ks_at) comparing
    * `col`'s distribution in the CURRENT frame (side a) against a
    * reference table (side b — the previous drop, the accepted
    * baseline). The binning-free "did this drop move" gate a
    * training pipeline runs before committing a new snapshot;
    * `bucketWidth` only shapes the engine's scale decomposition,
    * never the statistic.
    */
  final case class KsDrift(ref: SideSpec, col: String,
      bucketWidth: Double) extends StepSpec
}

final case class OutputSpec(path: String, format: String)

final case class PipelineSpec(
    input: SideSpec,
    steps: Seq[StepSpec],
    output: Option[OutputSpec])

object PipelineLoader {
  import ConfigLoader.{mapper, opt, require, side}

  def load(path: String): PipelineSpec = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p))
      throw new IllegalArgumentException(s"Config file not found: $path")
    fromYaml(java.nio.file.Files.readString(p))
  }

  def fromYaml(text: String): PipelineSpec = {
    val root =
      try mapper.readTree(text)
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(s"Malformed YAML: ${e.getMessage}")
      }
    if (root == null || !root.isObject)
      throw new IllegalArgumentException("Config root must be a mapping")
    val p = require(root, "pipeline")
    val stepsNode = require(p, "steps", "pipeline")
    if (!stepsNode.isArray || stepsNode.isEmpty)
      throw new IllegalArgumentException("pipeline.steps must be a non-empty list")
    PipelineSpec(
      input = side(require(p, "input", "pipeline"), "pipeline.input"),
      steps = stepsNode.elements().asScala.zipWithIndex.map {
        case (n, i) => step(n, s"pipeline.steps[$i]")
      }.toSeq,
      output = opt(p, "output").map { o =>
        OutputSpec(require(o, "path", "pipeline.output").asText,
          opt(o, "format").map(_.asText).getOrElse("parquet"))
      })
  }

  private def step(n: JsonNode, where: String): StepSpec = {
    val kind = require(n, "kind", where).asText
    kind match {
      case "filter_stack" => StepSpec.FilterStack
      case "normalize_text" =>
        val form = opt(n, "form").map(_.asText).getOrElse("NFC")
        if (!Set("NFC", "NFD", "NFKC", "NFKD")(form.toUpperCase(java.util.Locale.ROOT)))
          throw new IllegalArgumentException(
            s"$where: form must be one of NFC, NFD, NFKC, NFKD (got '$form')")
        StepSpec.NormalizeText(
          opt(n, "text_col").map(_.asText).getOrElse("text"), form)
      case "redact_pii" =>
        StepSpec.RedactPii(opt(n, "text_col").map(_.asText).getOrElse("text"))
      case "pseudonymize" =>
        val cols = require(n, "cols", where)
        if (!cols.isArray || cols.isEmpty)
          throw new IllegalArgumentException(s"$where: cols must be a non-empty list")
        StepSpec.Pseudonymize(cols.elements().asScala.map(_.asText).toSeq,
          require(n, "salt", where).asText)
      case "dedup_exact" =>
        StepSpec.DedupExact(
          opt(n, "id_col").map(_.asText).getOrElse("doc_id"),
          opt(n, "text_col").map(_.asText).getOrElse("text"))
      case "dedup_near" => StepSpec.DedupNear
      case "decontaminate" =>
        StepSpec.Decontaminate(
          side(require(n, "bench", where), s"$where.bench"),
          opt(n, "max_hits").map(_.asLong).getOrElse(0L),
          opt(n, "bloom").exists(_.asBoolean))
      case "decontaminate_rewrite" =>
        StepSpec.DecontaminateRewrite(
          side(require(n, "bench", where), s"$where.bench"),
          opt(n, "min_kept_tokens").map(_.asLong).getOrElse(1L))
      case "dedup_span_rewrite" =>
        val bt = opt(n, "block_tokens").map(_.asInt).getOrElse(20)
        if (bt < 1 || bt > 100000)
          throw new IllegalArgumentException(
            s"$where: block_tokens must be in [1, 100000], got $bt")
        StepSpec.DedupSpanRewrite(bt,
          opt(n, "min_kept_blocks").map(_.asLong).getOrElse(1L))
      case "source_cap" =>
        val k = require(n, "k", where).asInt
        if (k <= 0) throw new IllegalArgumentException(s"$where: k must be positive")
        StepSpec.SourceCap(opt(n, "group_col").map(_.asText).getOrElse("source"), k)
      case "split" =>
        val w = require(n, "weights", where)
        if (!w.isObject || w.isEmpty)
          throw new IllegalArgumentException(
            s"$where: weights must be a non-empty mapping (order = band order)")
        val weights = w.fields().asScala
          .map(e => e.getKey -> e.getValue.asDouble).toSeq
        if (weights.exists(_._2 <= 0))
          throw new IllegalArgumentException(s"$where: weights must be positive")
        StepSpec.Split(weights,
          opt(n, "salt").map(_.asText).getOrElse("split"),
          opt(n, "leakage_safe").exists(_.asBoolean(false)))
      case "forget" =>
        StepSpec.Forget(
          side(require(n, "tombstones", where), s"$where.tombstones"),
          require(n, "key_col", where).asText)
      case "lm_filter" =>
        val lo = opt(n, "min_ppm").map(_.asLong).getOrElse(0L)
        val hi = opt(n, "max_ppm").map(_.asLong).getOrElse(Long.MaxValue)
        if (lo < 0 || hi < lo)
          throw new IllegalArgumentException(
            s"$where: need 0 <= min_ppm <= max_ppm")
        StepSpec.LmFilter(lo, hi)
      case "temperature" =>
        val alpha = opt(n, "alpha").map(_.asDouble).getOrElse(0.5)
        if (alpha < 0 || alpha > 1)
          throw new IllegalArgumentException(s"$where: alpha must be in [0, 1]")
        StepSpec.Temperature(
          opt(n, "group_col").map(_.asText).getOrElse("source"),
          opt(n, "key_col").map(_.asText).getOrElse("doc_id"),
          alpha, opt(n, "salt").map(_.asText).getOrElse("temp"))
      case "stratified" =>
        val frac = require(n, "frac", where).asDouble
        if (frac <= 0 || frac > 1)
          throw new IllegalArgumentException(s"$where: frac must be in (0, 1]")
        StepSpec.Stratified(
          opt(n, "group_col").map(_.asText).getOrElse("source"),
          opt(n, "key_col").map(_.asText).getOrElse("doc_id"),
          frac, opt(n, "salt").map(_.asText).getOrElse("strat"))
      case "kfold" =>
        val k = require(n, "k", where).asInt
        if (k < 2)
          throw new IllegalArgumentException(s"$where: k must be >= 2")
        StepSpec.Kfold(
          opt(n, "key_col").map(_.asText).getOrElse("doc_id"),
          k, opt(n, "salt").map(_.asText).getOrElse("fold"))
      case "quality_normalize" =>
        val minPct = opt(n, "min_pct").map(_.asDouble).getOrElse(0.0)
        if (minPct < 0 || minPct >= 1)
          throw new IllegalArgumentException(s"$where: min_pct must be in [0, 1)")
        StepSpec.QualityNormalize(
          opt(n, "group_col").map(_.asText).getOrElse("source"),
          opt(n, "score_col").map(_.asText).getOrElse("n_chars"),
          opt(n, "key_col").map(_.asText).getOrElse("doc_id"),
          minPct)
      case "mixture" =>
        val w = require(n, "weights", where)
        if (!w.isObject || w.isEmpty)
          throw new IllegalArgumentException(
            s"$where: weights must be a non-empty mapping of group -> weight")
        val weights = w.fields().asScala
          .map(e => e.getKey -> e.getValue.asDouble).toSeq
        if (weights.exists(_._2 <= 0))
          throw new IllegalArgumentException(s"$where: weights must be positive")
        StepSpec.Mixture(
          opt(n, "group_col").map(_.asText).getOrElse("source"),
          opt(n, "key_col").map(_.asText).getOrElse("doc_id"),
          weights, opt(n, "salt").map(_.asText).getOrElse("mix"))
      case "upsample" =>
        val w = require(n, "weights", where)
        if (!w.isObject || w.isEmpty)
          throw new IllegalArgumentException(
            s"$where: weights must be a non-empty mapping of group -> weight")
        val weights = w.fields().asScala
          .map(e => e.getKey -> e.getValue.asDouble).toSeq
        if (weights.exists(_._2 <= 0))
          throw new IllegalArgumentException(s"$where: weights must be positive")
        StepSpec.Upsample(
          opt(n, "group_col").map(_.asText).getOrElse("source"),
          opt(n, "key_col").map(_.asText).getOrElse("doc_id"),
          weights, opt(n, "salt").map(_.asText).getOrElse("upsample"))
      case "quality_weighted" =>
        StepSpec.QualityWeighted(
          opt(n, "key_col").map(_.asText).getOrElse("doc_id"),
          opt(n, "score_col").map(_.asText).getOrElse("pct_rank"),
          opt(n, "salt").map(_.asText).getOrElse("qw"))
      case "fixed_k" =>
        val k = require(n, "k", where).asInt
        if (k <= 0) throw new IllegalArgumentException(s"$where: k must be positive")
        StepSpec.FixedK(
          opt(n, "key_col").map(_.asText).getOrElse("doc_id"),
          k, opt(n, "salt").map(_.asText).getOrElse("fixedk"))
      case "epoch_order" =>
        val epoch = opt(n, "epoch").map(_.asInt).getOrElse(0)
        val shards = opt(n, "shards").map(_.asInt).getOrElse(64)
        if (epoch < 0 || shards <= 0)
          throw new IllegalArgumentException(
            s"$where: need epoch >= 0 and shards > 0")
        StepSpec.EpochOrder(
          opt(n, "key_col").map(_.asText).getOrElse("doc_id"),
          epoch, shards, opt(n, "salt").map(_.asText).getOrElse("epoch"))
      case "pack" =>
        val capacity = require(n, "capacity", where).asLong
        val shards = opt(n, "shards").map(_.asInt).getOrElse(64)
        if (capacity <= 0 || shards <= 0)
          throw new IllegalArgumentException(
            s"$where: need capacity > 0 and shards > 0")
        StepSpec.Pack(
          opt(n, "key_col").map(_.asText).getOrElse("doc_id"),
          opt(n, "tokens_col").map(_.asText).getOrElse("n_chars"),
          capacity, shards, opt(n, "salt").map(_.asText).getOrElse("pack"))
      case "k_anon_suppress" =>
        val q = require(n, "quasi_cols", where)
        if (!q.isArray || q.isEmpty)
          throw new IllegalArgumentException(
            s"$where: quasi_cols must be a non-empty list")
        val k = require(n, "k", where).asLong
        if (k < 2) throw new IllegalArgumentException(s"$where: k must be >= 2")
        StepSpec.KAnonSuppress(q.elements().asScala.map(_.asText).toSeq, k)
      case "l_diversity_suppress" =>
        val q = require(n, "quasi_cols", where)
        if (!q.isArray || q.isEmpty)
          throw new IllegalArgumentException(
            s"$where: quasi_cols must be a non-empty list")
        val l = require(n, "l", where).asLong
        if (l < 2) throw new IllegalArgumentException(s"$where: l must be >= 2")
        StepSpec.LDiversitySuppress(
          q.elements().asScala.map(_.asText).toSeq,
          require(n, "sensitive_col", where).asText, l)
      case "scd2" =>
        // entity_col/state_col are semantically required — a default
        // silently binds the history build to columns the user's data
        // likely doesn't have (or worse, same-named wrong ones) and
        // fails late at execution instead of here at parse time.
        // ts_col/tie_col keep genuine defaults (the CDC-feed idiom).
        StepSpec.Scd2(
          require(n, "entity_col", where).asText,
          opt(n, "ts_col").map(_.asText).getOrElse("ts"),
          opt(n, "tie_col").map(_.asText).getOrElse("event_id"),
          require(n, "state_col", where).asText)
      case "bpe_train" =>
        val merges = opt(n, "merges").map(_.asInt).getOrElse(5)
        if (merges < 1 || merges > 100)
          throw new IllegalArgumentException(
            s"$where: merges must be in [1, 100] (got $merges)")
        val sampleK = opt(n, "sample_k").map(_.asInt)
        if (sampleK.exists(_ <= 0))
          throw new IllegalArgumentException(s"$where: sample_k must be positive")
        StepSpec.BpeTrain(merges,
          opt(n, "text_col").map(_.asText).getOrElse("text"),
          opt(n, "key_col").map(_.asText).getOrElse("doc_id"),
          require(n, "path", where).asText,
          sampleK)
      case "bpe_annotate" =>
        val mode = opt(n, "mode").map(_.asText).getOrElse("passes")
        if (!Set("passes", "min_rank")(mode))
          throw new IllegalArgumentException(
            s"$where: mode must be 'passes' (tables trained by bpe_train) " +
              s"or 'min_rank' (externally-trained HF-style tables), got '$mode'")
        StepSpec.BpeAnnotate(
          side(require(n, "table", where), s"$where.table"),
          opt(n, "text_col").map(_.asText).getOrElse("text"),
          mode == "min_rank")
      case "chunk" =>
        val size = opt(n, "chunk_size").map(_.asInt).getOrElse(32)
        val stride = opt(n, "stride").map(_.asInt).getOrElse(24)
        if (stride <= 0 || size < stride)
          throw new IllegalArgumentException(
            s"$where: need chunk_size >= stride > 0")
        StepSpec.Chunk(size, stride)
      case "freshness" =>
        val staleSec = opt(n, "stale_sec").map(_.asLong).getOrElse(3600L)
        if (staleSec <= 0)
          throw new IllegalArgumentException(s"$where: stale_sec must be positive")
        // key_col is the report grain — required for the same
        // fail-at-parse reason as scd2's entity_col
        StepSpec.Freshness(
          require(n, "key_col", where).asText,
          opt(n, "ts_col").map(_.asText).getOrElse("ts"),
          staleSec)
      case "ks_drift" =>
        val width = opt(n, "bucket_width").map(_.asDouble).getOrElse(1000.0)
        if (width <= 0)
          throw new IllegalArgumentException(s"$where: bucket_width must be positive")
        StepSpec.KsDrift(
          side(require(n, "table", where), s"$where.table"),
          // the compared column is the report's whole meaning —
          // required, the scd2 entity_col fail-at-parse rule
          require(n, "col", where).asText,
          width)
      case other =>
        throw new IllegalArgumentException(
          s"$where: unknown kind '$other' (valid: filter_stack, normalize_text, redact_pii, " +
            "pseudonymize, dedup_exact, dedup_near, decontaminate, " +
            "decontaminate_rewrite, dedup_span_rewrite, source_cap, " +
            "split, forget, lm_filter, temperature, stratified, kfold, " +
            "quality_normalize, mixture, upsample, quality_weighted, fixed_k, " +
            "epoch_order, pack, k_anon_suppress, l_diversity_suppress, scd2, " +
            "freshness, ks_drift, chunk, bpe_train, bpe_annotate)")
    }
  }
}
