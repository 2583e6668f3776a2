package graft.operators

import graft.GraftSession.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end curation pipeline — the composition the individual
  * operators exist FOR, run as ONE lazy Spark plan:
  *
  *   documents
  *     → MinHash-LSH candidate pairs       (Dedup.minhashCandidates)
  *     → connected components              (Dedup.connectedComponents)
  *     → quality-aware keeper election     (Dedup.keeperByQuality)
  *     → deterministic train/val/test split (Sampling.hashSplit)
  *     → per-split summary
  *
  * Each stage is oracle-gated on its own; this gate row proves the
  * COMPOSITION is — outputs feed inputs with no driver round-trips, no
  * materialization between stages, and the whole pipeline remains one
  * Catalyst plan (checkpoint boundaries inside connected components
  * excepted, by design).
  *
  * Scale: the pipeline inherits each stage's bounds — banded candidate
  * join, O(log d) clustering rounds, one argmax shuffle, shuffle-free
  * split — so its cost is the sum of its parts, not a new bottleneck.
  */
object Curation {

  /** Kept (deduplicated, best-copy) documents with split labels:
    * (doc_id, cluster_id, n_chars, split) — one row per KEEPER.
    */
  def curate(docs: DataFrame): DataFrame = {
    val clusters = Dedup.connectedComponents(docs, Dedup.minhashCandidates(docs))
    val scores = docs.select(col("doc_id"), length(col("text")).cast("long").as("score"))
    val keepers = Dedup.keeperByQuality(clusters, scores)
      .select(col("keeper").as("doc_id"), col("cluster_id"), col("keeper_score").as("n_chars"))
    Sampling.hashSplit(keepers, col("doc_id"), Sampling.GateWeights)
  }

  /** PII patterns. Deliberately RE2-compatible (no backreferences, no
    * lookaround) so the SAME pattern text means the same thing in
    * Spark's `java.util.regex` and the oracle's RE2 — and would in any
    * other engine a user cross-checks against.
    */
  private[operators] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[operators] val PhoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** PII redaction — the compliance pass a training corpus gets before
    * anything else sees it: emails, IPv4 addresses and phone-shaped
    * numbers replaced by typed placeholder tags, with per-category
    * match counts for audit reporting.
    *
    * Pure `regexp_replace`/`regexp_count` expressions: shuffle-free,
    * whole-stage codegen'd, linear in input. Each category counts on
    * the output of the PREVIOUS redaction (email → IP → phone) so a
    * span never tallies in two categories and counts always equal the
    * placeholders actually inserted.
    */
  def redactPii(df: DataFrame, text: Column): DataFrame = {
    val afterEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    df.withColumn("n_pii_email", regexp_count(text, lit(EmailRe)).cast("long"))
      .withColumn("n_pii_ip", regexp_count(afterEmail, lit(Ipv4Re)).cast("long"))
      .withColumn("n_pii_phone", regexp_count(afterIp, lit(PhoneRe)).cast("long"))
      .withColumn("text_redacted", regexp_replace(afterIp, PhoneRe, "<PHONE>"))
  }

  /** Test-set decontamination — the step every serious training corpus
    * runs before anything else ships: flag training documents that
    * share an n-gram with an evaluation benchmark, so eval scores
    * measure generalization and not memorized test items.
    *
    * Overlap unit: the same word 3-gram shingles the dedup family uses
    * (`Dedup.shingleDf`) — one shared tokenization (`Tokens`) means
    * one shared meaning of "overlap" across the whole engine. Returns
    * one row per CONTAMINATED candidate doc: (doc_id, bench_hits) where
    * bench_hits counts the distinct benchmark shingles the doc contains.
    *
    * Scale shape: benchmark sets are small (thousands of items) while
    * the corpus is the 100 TB side — so the benchmark shingle set is
    * the build side of the join (AQE broadcasts it at real sizes) and
    * the corpus streams through one shingle pass + one map-side
    * combinable count. No corpus self-join anywhere.
    */
  def decontaminate(candidates: DataFrame, bench: DataFrame): DataFrame = {
    val benchShingles = Dedup.shingleDf(bench).select(col("shingle")).distinct()
    Dedup.shingleDf(candidates) // distinct (doc_id, shingle) by construction
      .join(benchShingles, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("bench_hits"))
  }

  /** Decontamination SPAN AUDIT — [[decontaminate]] says how many
    * benchmark shingles a training doc shares; this says WHICH
    * benchmark item leaked and WHERE in the document: per (train doc,
    * bench doc) pair, the shared-shingle count, the first/last
    * matching token offset, and the token coverage of the merged
    * match intervals (each 3-gram covers [pos, pos+3); overlapping
    * grams of one leaked passage collapse — the dd_span_sliding
    * island machinery at pair grain). This is the removal/appeal
    * artifact a contamination report needs — "doc 4711 contains
    * benchmark item 12's answer string at tokens 83..96", not just a
    * hit count.
    *
    * Scale shape: the candidate side explodes positional 3-grams
    * (~one row per token, carrying (doc_id, pos, shingle)); the
    * benchmark side is [[graft.operators.Dedup.shingleDf]]'s distinct
    * shingles — small by construction, so the join broadcasts and the
    * corpus streams through. Interval merge runs per (doc, bench_doc)
    * window, bounded by document length. Exact integers only.
    */
  def decontaminateSpans(candidates: DataFrame, bench: DataFrame): DataFrame =
    spanAuditBuild(candidates, bench, minSharedShingles = None,
      cacheMatches = false).df

  /** The REWRITE form of [[decontaminateSpans]] — surgical
    * decontamination: instead of dropping a whole contaminated
    * document (the decontaminate pipeline step's action) or only
    * reporting the leak (the span audit), REMOVE the leaked spans and
    * keep the rest. Per document: the union of benchmark-matching
    * 3-gram intervals across ALL benchmark items, merged to islands
    * ([pos, pos+3), the shared [[graft.operators.Dedup.gramIslands]]
    * machinery at DOC grain), every token inside an island dropped,
    * survivors reassembled in order (space-joined, the
    * [[graft.operators.Dedup.spanDedupRewrite]] convention). Output
    * keeps every candidate doc: text_clean ("" when fully leaked —
    * the caller decides whether to drop empties), n_tokens,
    * cut_tokens.
    *
    * Scale shape: the positional-gram pass and shingle join stream
    * the corpus against the broadcast benchmark side exactly like
    * the audit; islands are a per-doc window bounded by document
    * length; the rebuild is ONE doc-keyed join of the doc-grain span
    * lists (each bounded by doc length) plus a codegen'd
    * filter-with-index over the token array — no token-grain shuffle
    * anywhere (the tokens never leave their scan).
    */
  def decontaminateRewrite(candidates: DataFrame, bench: DataFrame): DataFrame = {
    val k = 3
    val ts = Tokens.of(col("text"))
    val cand = Tokens.grams(candidates, k, "shingle")
    // doc grain: ANY benchmark item — one row per matched position
    // (cand is unique per (doc, pos); the bench side is distinct)
    val benchSh = Dedup.shingleDf(bench).select(col("shingle")).distinct()
    val hits = cand.join(benchSh, Seq("shingle"))
      .select(col("doc_id"), col("pos"))
    val spans = Dedup.gramIslands(hits, Seq("doc_id"), k)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"),
        sum(col("e") - col("s")).as("cut_tokens"))
    candidates.select(col("doc_id"), ts.as("ts"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("spans").isNull, array_join(col("ts"), " "))
          .otherwise(array_join(
            filter(col("ts"), (_, i) =>
              !exists(col("spans"),
                sp => i >= sp.getField("s") && i < sp.getField("e"))),
            " ")).as("text_clean"),
        size(col("ts")).cast("long").as("n_tokens"),
        coalesce(col("cut_tokens"), lit(0L)).as("cut_tokens"))
  }

  /** Containment-prefiltered span audit — [[decontaminateSpans]] with
    * the pair grain CUT BEFORE the per-pair windows: only (train doc,
    * bench doc) pairs sharing at least `minSharedShingles` DISTINCT
    * benchmark shingles reach the interval merge. Single-shingle pair
    * coincidences (a common phrase, a formulaic header) dominate the
    * pair population at corpus scale — the floor drops that tail,
    * which is exactly the population whose per-pair windows made the
    * unpruned audit the steepest genuine scale curve on the surface.
    * Floor ≤ 1 reproduces [[decontaminateSpans]] verbatim
    * (spec-asserted): every positional match shares ≥ 1 shingle by
    * construction.
    *
    * Scale shape: the pair floor derives from DOC-GRAIN DISTINCT
    * shingle sets ([[Dedup.shingleDf]] on both sides, one
    * shingle-keyed join, one pair-grain count) and applies as a
    * broadcast left-semi join on the pair key before
    * [[Dedup.gramIslands]] — so the coincidence tail is FILTERED
    * map-side, never sorted by the per-pair windows, and in-document
    * boilerplate repeats collapse in the distinct before the join
    * shuffles. The alternative that aggregated `countDistinct` over
    * the positional match stream was re-measured on the header-tail
    * gate corpus and LOST to the unpruned audit outright (sf1
    * local[32]: 8.4 s unmanaged / 16.4 s with the 25M-row match set
    * persisted, vs 4.8 s unpruned; this form runs at parity inside
    * host noise on the same windows) — it re-paid the positional
    * join and shuffled the tail it was built to drop. Unmanaged
    * form: no caching (the small bench shingle set computes twice);
    * [[decontaminateSpansPrunedPlan]] persists it behind the release
    * contract.
    */
  def decontaminateSpansPruned(candidates: DataFrame, bench: DataFrame,
      minSharedShingles: Long): DataFrame =
    spanAuditBuild(candidates, bench, Some(minSharedShingles),
      cacheMatches = false).df

  /** Managed form of [[decontaminateSpansPruned]]: the positional
    * match set feeds both the pair-floor aggregate and the island
    * merge, so it is persisted behind the release contract (one
    * match join, not two).
    */
  def decontaminateSpansPrunedPlan(candidates: DataFrame, bench: DataFrame,
      minSharedShingles: Long): DedupPlan =
    spanAuditBuild(candidates, bench, Some(minSharedShingles),
      cacheMatches = true)

  /** Shared span-audit core: positional candidate 3-grams joined to
    * the benchmark shingle set, optionally pair-floor-pruned, islands
    * merged per pair.
    */
  private def spanAuditBuild(candidates: DataFrame, bench: DataFrame,
      minSharedShingles: Option[Long], cacheMatches: Boolean): DedupPlan = {
    import org.apache.spark.storage.StorageLevel
    minSharedShingles.foreach(f => require(f >= 0,
      s"decontaminateSpansPruned: minSharedShingles must be >= 0, got $f"))
    val k = 3
    val cand = Tokens.grams(candidates, k, "shingle")
    val benchSh0 = Dedup.shingleDf(bench)
      .select(col("doc_id").as("bench_doc"), col("shingle"))
    // the bench shingle set is the only frame two consumers read (the
    // floor join and the positional match join) — it is also the
    // SMALL side (the benchmark suite), so the managed form persists
    // it and nothing corpus-sized
    val benchSh =
      if (cacheMatches && minSharedShingles.isDefined)
        benchSh0.persist(StorageLevel.MEMORY_AND_DISK_SER)
      else benchSh0
    val matched = cand.join(benchSh, Seq("shingle"))
    val restricted = minSharedShingles.fold(matched) { floor =>
      // the pair floor comes from DOC-GRAIN DISTINCT shingle sets
      // (Dedup.shingleDf both sides), NOT from the positional match
      // stream: boilerplate that repeats WITHIN a document (headers,
      // footers, navigation text) multiplies positional matches but
      // collapses to one row per (doc, shingle) before this join ever
      // shuffles — the map-side-dedup the positional stream can't
      // have. An earlier cut aggregated countDistinct over the
      // positional matches instead; on the header gate corpus that
      // MEASURED SLOWER than no pruning at all (sf1 local[32]:
      // 8.4 s unmanaged / 16.4 s persisted vs 4.8 s unpruned),
      // because it re-paid the positional join and shuffled the
      // coincidence tail it was built to drop. This form runs at
      // parity with the unpruned audit on the same windows (4.1-4.9 s
      // vs 3.9-5.3 s, sf1 local[32], inside host noise) while keeping
      // the structural win: the 25M-row coincidence tail is filtered
      // by a broadcast semi-join instead of SORTED by the per-pair
      // window — the term that grows with tail density at the real
      // corpus grain, and the one the unpruned audit cannot shed.
      val kept = Dedup.shingleDf(candidates)
        .join(benchSh, Seq("shingle"))
        .groupBy(col("doc_id"), col("bench_doc"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= floor)
        .select(col("doc_id"), col("bench_doc"))
      matched.join(kept, Seq("doc_id", "bench_doc"), "left_semi")
    }
    val out = Dedup.gramIslands(restricted, Seq("doc_id", "bench_doc"), k)
      .groupBy(col("doc_id"), col("bench_doc"))
      .agg(sum(col("hits")).as("n_hits"),
        min(col("s")).cast("long").as("first_pos"),
        (max(col("e")) - k).cast("long").as("last_pos"),
        sum(col("e") - col("s")).as("covered_tokens"))
    DedupPlan(out, "decontam_spans_pruned",
      if (cacheMatches && minSharedShingles.isDefined) Seq(benchSh) else Nil)
  }

  /** Bloom-filter decontamination — the variant for benchmark suites
    * too large for [[decontaminate]]'s exact build side: the benchmark
    * shingles fold into a FIXED-SIZE bloom filter (a distributed
    * `BloomFilterAggregate` — partials merge map-side, one
    * numBits/8-byte sketch reaches the driver no matter how many
    * benchmark items), and the corpus pass becomes a shuffle-free
    * codegen'd membership test (`might_contain`) instead of a join.
    * The only shuffle left is the final map-side-combinable per-doc
    * count.
    *
    * ONE-SIDED error, the safe direction for decontamination: a true
    * overlap is NEVER missed (no false negatives), while a false
    * positive flags at most `fpp` extra shingles — so the flagged set
    * is a small superset of the exact operator's (agreement asserted
    * in OperatorsSpec at the configured size). Callers dropping flagged
    * docs lose a bounded sliver of clean data; callers needing exact
    * hit counts re-check flagged docs with [[decontaminate]] — a
    * two-stage shape, like LSH-then-verify.
    *
    * The sketch ships to executors as a literal in the plan (one copy
    * per task closure, same mechanism as a broadcast-hash-join's
    * build side at this size). Default 2²³ bits = 1 MiB ≈ 1% fpp at a
    * million benchmark shingles.
    */
  def decontaminateBloom(candidates: DataFrame, bench: DataFrame,
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
    val benchHashes = Dedup.shingleDf(bench)
      .select(xxhash64(col("shingle")).as("h"))
    val bfAgg = column(new BloomFilterAggregate(
      expression(col("h")), Literal(expectedItems), Literal(numBits))
      .toAggregateExpression())
    // one bounded binary value to the driver (the kmeans-centroid
    // pattern) — NOT a per-row collect
    val bf = benchHashes.agg(bfAgg.as("bf")).head().getAs[Array[Byte]](0)
    val mightContain = column(new BloomFilterMightContain(
      Literal.create(bf, org.apache.spark.sql.types.BinaryType),
      expression(xxhash64(col("shingle")))))
    Dedup.shingleDf(candidates)
      .where(mightContain)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("bench_hits"))
  }

  /** Deletion propagation — the right-to-be-forgotten pass: drop every
    * row keyed by a tombstoned entity from a table. Deletion request
    * lists are tiny relative to a 100 TB corpus, so the tombstone set
    * is the BROADCAST side and the purge is a shuffle-free
    * broadcast anti-join: one scan per table, no repartition of the
    * big side (plan-asserted in OperatorsSpec).
    */
  def forget(df: DataFrame, key: Column, tombstones: DataFrame): DataFrame = {
    val t = tombstones.select(col(tombstones.columns.head).as("__tomb_id")).distinct()
    df.join(broadcast(t), key === col("__tomb_id"), "left_anti")
  }

  /** The audit report a deletion run must produce: per table,
    * rows before / removed / kept. Same broadcast shape as [[forget]]
    * but as a LEFT join + one aggregation so both counts come from a
    * single scan per table — never two passes over the corpus.
    */
  def forgetReport(tables: Seq[(String, DataFrame, Column)],
      tombstones: DataFrame): DataFrame = {
    require(tables.nonEmpty, "need at least one (name, table, key)")
    val t = tombstones.select(col(tombstones.columns.head).as("__tomb_id")).distinct()
    tables.map { case (name, df, key) =>
      df.join(broadcast(t), key === col("__tomb_id"), "left")
        .agg(count(lit(1)).as("n_before"), count(col("__tomb_id")).as("n_removed"))
        .select(lit(name).as("table_name"), col("n_before"), col("n_removed"),
          (col("n_before") - col("n_removed")).as("n_kept"))
    }.reduce(_ unionAll _)
  }

  // ---------------------------------------------------------------- gate

  /** The synthetic corpus carries no real PII, so the gate plants some
    * deterministically from table values — same construction on both
    * engines — then asserts the redaction's counts and exact output
    * text (as md5).
    */
  private def plantedPii(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(
      col("doc_id"),
      concat(
        col("text"), lit(" reach user"), col("doc_id").cast("string"),
        lit("@mail.example.com or 10.2."),
        pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".7 ext 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(" cc bob@corp.io")).otherwise(lit("")))
        .as("text"))

  /** Deterministic pseudonymization — replace direct identifiers with
    * a salted hash so training data keeps REFERENTIAL INTEGRITY (the
    * same user hashes to the same token, joins and sessionization
    * still work) while the raw identifier never leaves the pipeline.
    * The companion to [[redactPii]]: redaction cleans free text,
    * pseudonymization cleans key columns.
    *
    * A pure narrow projection — codegen'd md5 over (salt | value),
    * zero shuffles, scales with input splits. The salt must be managed
    * as a secret: with it the mapping is recomputable (GDPR
    * "pseudonymisation"), without it reversing requires brute-forcing
    * the id space. This is NOT k-anonymity — rare quasi-identifier
    * combinations elsewhere in the row can still re-identify.
    */
  def pseudonymize(df: DataFrame, idCols: Seq[String], salt: String): DataFrame =
    idCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, md5(concat_ws("|", lit(salt), col(c).cast("string"))))
    }

  /** k-anonymity audit — the check [[pseudonymize]]'s scaladoc warns
    * is still needed after hashing direct identifiers: rows whose
    * QUASI-IDENTIFIER combination (the released attribute columns) is
    * shared by fewer than k rows are re-identifiable by linkage.
    * Returns the violating groups (quasi values + their size), the
    * actionable list for suppression or generalization.
    *
    * One map-side-combinable count at the quasi grain + one filter —
    * the k-anonymity property is exactly a group-size predicate, so
    * the plan is a single aggregation however wide the input. Output
    * is bounded by the number of violating groups (each < k rows), not
    * the data.
    */
  def kAnonymityViolations(df: DataFrame, quasi: Seq[Column], k: Long): DataFrame = {
    require(quasi.nonEmpty && k >= 2, "need quasi columns and k >= 2")
    df.groupBy(quasi: _*)
      .agg(count(lit(1)).as("n_rows"))
      .where(col("n_rows") < k)
  }

  /** Corpus-level k-anonymity summary — the dataset-card number next
    * to [[kAnonymityViolations]]' row-level list: how many
    * quasi-identifier groups exist, how many violate k, how many ROWS
    * sit in violating groups (the re-identifiable mass), and the
    * smallest group (the k the release actually achieves).
    */
  def kAnonymitySummary(df: DataFrame, quasi: Seq[Column], k: Long): DataFrame =
    df.groupBy(quasi: _*)
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("n") < k, 1L).otherwise(0L)).as("n_violating_groups"),
        coalesce(sum(when(col("n") < k, col("n"))), lit(0L)).as("n_rows_at_risk"),
        min(col("n")).as("achieved_k"))

  /** l-DIVERSITY audit — the attack k-anonymity misses: a
    * quasi-identifier group can be large (k-anonymous) yet carry only
    * ONE sensitive value, so linkage still discloses the attribute
    * ("everyone in that group bought X"). A group is l-diverse when
    * its rows span at least `l` DISTINCT sensitive values. Returns
    * the violating groups: quasi values, row count, and the distinct
    * sensitive-value count that fell short — the suppression /
    * generalization worklist complementing [[kAnonymityViolations]].
    *
    * Scale shape: exact distinct via TWO stacked map-side-combinable
    * aggregations — first at the (quasi, sensitive) grain, then at
    * the quasi grain (count of sub-rows = distinct sensitive values,
    * sum of their counts = rows) — never a COUNT(DISTINCT) expand and
    * never a per-group set. Output is bounded by violating groups.
    */
  def lDiversityViolations(df: DataFrame, quasi: Seq[Column],
      sensitive: Column, l: Long): DataFrame = {
    require(quasi.nonEmpty && l >= 2, "need quasi columns and l >= 2")
    val bySens = sensitiveGrain(df, quasi, sensitive)
    bySens.groupBy(bySens.columns.dropRight(1).map(col): _*)
      .agg(sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_sensitive"))
      .where(col("n_sensitive") < l)
  }

  /** The (quasi..., distinct-sensitive-count) grain both l-diversity
    * forms stack on: a projection (so alias names become real column
    * names) + one count at the (quasi, sensitive) grain. Columns:
    * quasi... , __n; the sensitive column is consumed by the grouping.
    */
  private def sensitiveGrain(df: DataFrame, quasi: Seq[Column],
      sensitive: Column): DataFrame = {
    val proj = df.select((quasi :+ sensitive.as("__sens")): _*)
    proj.groupBy(proj.columns.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .drop("__sens")
  }

  /** Corpus-level l-diversity summary — the dataset-card row beside
    * [[lDiversityViolations]]: group count, violating-group count,
    * rows in violating groups, and the diversity the release actually
    * achieves (the minimum distinct-sensitive count over groups).
    */
  def lDiversitySummary(df: DataFrame, quasi: Seq[Column],
      sensitive: Column, l: Long): DataFrame = {
    val bySens = sensitiveGrain(df, quasi, sensitive)
    bySens.groupBy(bySens.columns.dropRight(1).map(col): _*)
      .agg(sum(col("__n")).as("n"), count(lit(1)).as("ns"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("ns") < l, 1L).otherwise(0L)).as("n_violating_groups"),
        coalesce(sum(when(col("ns") < l, col("n"))), lit(0L)).as("n_rows_at_risk"),
        min(col("ns")).as("achieved_l"))
  }

  /** The span gates' planted coincidence tail: a formulaic 3-token
    * header opening EVERY document (train and bench sides), the way
    * crawled corpora share boilerplate openings. Exactly ONE
    * header-pure shingle ("terms of service") lands in every doc's
    * shingle set, so every (train, bench) pair shares at least one
    * distinct shingle — the single-coincidence coincidence tail the
    * pruned audit's floor exists to cut: on this corpus the unpruned
    * audit must island-merge EVERY train×bench pair while the floor
    * keeps only real-overlap pairs. Three tokens exactly: a longer
    * header would plant ≥ 2 distinct shared shingles and defeat the
    * floor-2 comparison. (A denser variant that repeated the header
    * at three positions per doc was measured and rejected: doubling
    * the corpus inflated the floor's distinct pass more than the
    * repetition saved — 6.9 s pruned vs 5.6 s unpruned at sf1.)
    */
  private val SpanGateHeader = "terms of service"

  private def spanGateText(text: Column): Column =
    concat_ws(" ", lit(SpanGateHeader), text)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // pseudonymized per-user activity: the id column is hashed but the
    // per-entity grouping (and any join on it) is preserved
    "cur_pseudonymize" -> ((s, dir) =>
      pseudonymize(table(s, dir, "events"), Seq("user_id"), "graft-salt")
        .groupBy(col("user_id").as("pseudo_user"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy("pseudo_user")),

    "cur_pii" -> ((s, dir) =>
      redactPii(plantedPii(s, dir), col("text"))
        .select(col("doc_id"), col("n_pii_email"), col("n_pii_ip"),
          col("n_pii_phone"), md5(col("text_redacted")).as("redacted_hash"))
        .orderBy("doc_id")),

    // k-anonymity over (event_type, hour-of-day, value-decile): the
    // violating groups and the dataset-card summary in one result
    "cur_kanon" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val quasi = Seq(col("event_type"),
        hour(col("ts")).cast("long").as("hr"),
        floor(col("value") / 100.0).cast("long").as("val_bucket"))
      val v = kAnonymityViolations(ev, quasi, k = 5)
        .select(col("event_type"), col("hr"), col("val_bucket"), col("n_rows"))
      v.crossJoin(broadcast(kAnonymitySummary(ev, quasi, k = 5)))
        .orderBy("event_type", "hr", "val_bucket")
    }),
    // l-diversity over (event_type, hour) with the value-centile as
    // the sensitive attribute: groups whose rows span < 5 distinct
    // sensitive values, plus the dataset-card summary — the
    // attribute-disclosure audit k-anonymity alone misses
    "cur_ldiversity" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val quasi = Seq(col("event_type"), hour(col("ts")).cast("long").as("hr"))
      val sens = floor(col("value") / 100.0).cast("long")
      val v = lDiversityViolations(ev, quasi, sens, l = 5)
      v.crossJoin(broadcast(lDiversitySummary(ev, quasi, sens, l = 5)))
        .orderBy("event_type", "hr")
    }),
    // benchmark = every 97th doc; candidates = the rest; a candidate is
    // contaminated iff it shares a word 3-gram with any benchmark doc
    "cur_decontam" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      decontaminate(
        d.where(pmod(col("doc_id"), lit(97)) =!= 0),
        d.where(pmod(col("doc_id"), lit(97)) === 0))
        .orderBy("doc_id")
    }),
    // the span audit: which bench item leaked, at which token offsets.
    // The gate corpus carries a REALISTIC coincidence tail: every doc
    // (train and bench) opens with the same formulaic 3-token header,
    // so every (train, bench) pair shares exactly one header shingle —
    // the common-phrase pair population that dominates at corpus
    // scale. The unpruned audit must window every such pair; its
    // pruned twin (floor 2) drops the tail first — same corpus, same
    // oracle replay, measurably different work
    "cur_decontam_spans" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("text", spanGateText(col("text")))
      decontaminateSpans(
        d.where(pmod(col("doc_id"), lit(97)) =!= 0),
        d.where(pmod(col("doc_id"), lit(97)) === 0))
        .orderBy("doc_id", "bench_doc")
    }),
    // the rewrite: leaked spans REMOVED, the rest of the doc kept —
    // exact reassembled text is part of the gate
    "cur_decontam_rewrite" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      decontaminateRewrite(
        d.where(pmod(col("doc_id"), lit(97)) =!= 0),
        d.where(pmod(col("doc_id"), lit(97)) === 0))
        .orderBy("doc_id")
    }),
    // the containment-prefiltered audit: floor 2 drops the
    // single-shared-shingle coincidence tail (the dominant pair
    // population at every sf — and on this gate corpus a PLANTED one:
    // the shared formulaic header above gives every pair one
    // coincidental shingle) before any per-pair window runs
    "cur_decontam_spans_pruned" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("text", spanGateText(col("text")))
      // managed form: the small bench shingle set feeds the floor
      // join AND the positional match join — persisted; nothing
      // corpus-sized is cached
      decontaminateSpansPrunedPlan(
        d.where(pmod(col("doc_id"), lit(97)) =!= 0),
        d.where(pmod(col("doc_id"), lit(97)) === 0),
        minSharedShingles = 2L)
        .df.orderBy("doc_id", "bench_doc")
    }),
    // the retention funnel over a declarative 3-step pipeline —
    // exact per-step in/out counts and drop ppm
    "pipe_funnel" -> ((s, dir) => {
      import graft.config.{PipelineSpec, SideSpec, SourceSpec, StepSpec}
      val spec = PipelineSpec(
        input = SideSpec("docs",
          SourceSpec.File("parquet", s"$dir/documents.parquet", None)),
        steps = Seq(
          StepSpec.DedupExact("doc_id", "text"),
          StepSpec.SourceCap("source", 10),
          StepSpec.Split(Sampling.GateWeights, "split", leakageSafe = false)),
        output = None)
      graft.Pipeline.funnel(s, spec).orderBy("step_idx")
    }),

    // per-split keeper counts + exact char volume — the dataset-card
    // summary a curation run ends with
    "pipe_curation" -> ((s, dir) =>
      curate(table(s, dir, "documents"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        .orderBy("split")),

    // the fused one-scan filter stack (quality ∧ repetition ∧ lang)
    "cur_filter_stack" -> ((s, dir) =>
      TextAnalysis.filterStack(table(s, dir, "documents")).orderBy("doc_id")),

    // The COMPLIANCE pipeline as one lazy plan: plant PII → redact →
    // pseudonymize the source key → purge tombstoned docs → per
    // pseudo-source audit summary. Each stage is oracle-gated alone;
    // this row proves the composition stays a single Catalyst plan
    // (narrow projections + one broadcast anti-join + one aggregation).
    "pipe_compliance" -> ((s, dir) => {
      val docs = plantedPii(s, dir)
        .join(table(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id")
      val tomb = docs.select(col("doc_id"))
        .where(pmod(col("doc_id"), lit(31)) === 0)
      val cleaned = pseudonymize(redactPii(docs, col("text")),
        Seq("source"), "graft-salt")
      forget(cleaned, col("doc_id"), tomb)
        .groupBy(col("source").as("pseudo_source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_pii_email")).as("n_email"),
          sum(col("n_pii_ip")).as("n_ip"),
          sum(col("n_pii_phone")).as("n_phone"))
        .orderBy("pseudo_source")
    }),

    // The TRAINING-PREP pipeline as one declarative composition —
    // every stage is oracle-gated alone (cur_kanon, sa_mixture,
    // sa_quality_norm, sa_quality_weighted, sa_epoch_order, sa_pack);
    // this row proves the YAML-level chain: suppress re-identifiable
    // quasi-groups, reshape to the 4:2:1:1 source mixture, percentile-
    // normalize quality per source, soft-sample by the calibrated
    // score, lay out the epoch-1 reader order, and pack that order
    // into contiguous 2048-char bins (the pack step detects the epoch
    // layout and bins the reader order rather than re-sharding).
    // One lazy plan; the oracle replays all six stages as CTEs
    "pipe_training_prep" -> ((s, dir) => {
      import graft.config.{PipelineSpec, SideSpec, SourceSpec, StepSpec}
      val spec = PipelineSpec(
        input = SideSpec("docs",
          SourceSpec.File("parquet", s"$dir/documents.parquet", None)),
        steps = Seq(
          StepSpec.KAnonSuppress(Seq("source", "lang"), 5L),
          StepSpec.Mixture("source", "doc_id", Sampling.MixWeights, "mix"),
          StepSpec.QualityNormalize("source", "n_chars", "doc_id", 0.25),
          StepSpec.QualityWeighted("doc_id", "pct_rank", "qw"),
          StepSpec.EpochOrder("doc_id", 1, 4, "epoch"),
          StepSpec.Pack("doc_id", "n_chars", 2048L, 4, "pack")),
        output = None)
      graft.Pipeline.run(s, spec)
        .select(col("doc_id"), col("pct_rank"), col("pos"),
          col("shard").cast("long").as("shard"), col("bin"))
        .orderBy("doc_id")
    }),

    // right-to-be-forgotten cascade: every 13th user tombstoned, purged
    // from both tables that key on the entity; per-table audit counts
    "cur_forget" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val tomb = ev.select(col("user_id")).distinct()
        .where(pmod(col("user_id"), lit(13)) === 0)
      forgetReport(Seq(
        ("events", ev, col("user_id")),
        ("orders", table(s, dir, "orders"), col("o_custkey"))), tomb)
        .orderBy("table_name")
    }),
  )

  // Header-prefixed replay fragments for the two span-audit oracles —
  // the DuckDB mirror of the SpanGateHeader gate corpus.
  private val hdrDocsSql =
    s"SELECT doc_id, '$SpanGateHeader ' || text AS text FROM documents"
  private val hdrShingleSql =
    s"""SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
       |FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS ts
       |      FROM ($hdrDocsSql)),
       |     UNNEST(range(1, len(ts)-1)) AS u(i)""".stripMargin

  def oracles: Map[String, String] = Map(
    // the six training-prep stages replayed as CTEs: the same window
    // count, the same binding-group mixture arithmetic (doubles, so
    // every keep threshold is the identical IEEE value), the same
    // (score, key)-ordered percent_rank, the same salted-hash
    // fractions, the same exclusive-prefix-sum packing
    "pipe_training_prep" -> {
      val mixFrac = s"CAST(${Sampling.hex8ToLong("md5('mix|' || doc_id)")} AS DOUBLE) / 4294967296.0"
      val cases = Sampling.MixWeights
        .map { case (g, w) => s"WHEN '$g' THEN $w" }.mkString(" ")
      s"""WITH ka AS (SELECT doc_id, source, n_chars FROM (
         |  SELECT doc_id, source, n_chars,
         |   COUNT(*) OVER (PARTITION BY source, lang) AS qn
         |  FROM documents) WHERE qn >= 5),
         |g AS (SELECT source AS grp, CAST(COUNT(*) AS DOUBLE) AS n
         |  FROM ka GROUP BY source),
         |w AS (SELECT grp, n, CASE grp $cases END AS wgt FROM g),
         |w2 AS (SELECT * FROM w WHERE wgt IS NOT NULL),
         |sc AS (SELECT MIN(n / wgt) AS s FROM w2),
         |p AS (SELECT grp, (sc.s * wgt / n) AS p FROM w2, sc),
         |mixed AS (SELECT ka.doc_id, ka.source, ka.n_chars
         |  FROM ka JOIN p ON ka.source = p.grp WHERE $mixFrac < p.p),
         |qn2 AS (SELECT doc_id, source, n_chars,
         |  PERCENT_RANK() OVER (PARTITION BY source
         |    ORDER BY n_chars, doc_id) AS pct_rank FROM mixed),
         |kept AS (SELECT * FROM qn2 WHERE pct_rank >= 0.25
         |  AND ${Sampling.hashFractionSql("doc_id", "qw")} < pct_rank),
         |eo AS (SELECT doc_id, n_chars, pct_rank,
         |  CAST(FLOOR(${Sampling.hashFractionSql("doc_id", "epoch-shard")} * 4) AS BIGINT)
         |    AS shard,
         |  CAST(ROW_NUMBER() OVER (
         |    PARTITION BY FLOOR(${Sampling.hashFractionSql("doc_id", "epoch-shard")} * 4)
         |    ORDER BY ${Sampling.hashFractionSql("doc_id", "epoch-1")}, doc_id) AS BIGINT)
         |    AS pos
         |  FROM kept),
         |pk AS (SELECT doc_id, pct_rank, pos, shard,
         |  CAST(FLOOR(COALESCE(SUM(n_chars) OVER (
         |    PARTITION BY shard ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048)
         |    AS BIGINT) AS bin
         |  FROM eo)
         |SELECT doc_id, pct_rank, pos, shard, bin FROM pk
         |ORDER BY doc_id""".stripMargin
    },
    "cur_kanon" ->
      """WITH g AS (SELECT event_type,
        |  CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hr,
        |  CAST(FLOOR(value / 100.0) AS BIGINT) AS val_bucket,
        |  COUNT(*) AS n_rows
        | FROM events GROUP BY 1, 2, 3),
        |s AS (SELECT COUNT(*) AS n_groups,
        |  CAST(SUM(CASE WHEN n_rows < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_groups,
        |  CAST(COALESCE(SUM(CASE WHEN n_rows < 5 THEN n_rows END), 0) AS BIGINT)
        |    AS n_rows_at_risk,
        |  MIN(n_rows) AS achieved_k FROM g)
        |SELECT g.event_type, g.hr, g.val_bucket, g.n_rows,
        | s.n_groups, s.n_violating_groups, s.n_rows_at_risk, s.achieved_k
        |FROM g, s WHERE g.n_rows < 5
        |ORDER BY g.event_type, g.hr, g.val_bucket""".stripMargin,
    // the two-level distinct replay: (quasi, sensitive)-grain counts,
    // then per-quasi row sums + distinct-sensitive counts; summary
    // columns cross-joined onto every violating row
    "cur_ldiversity" ->
      """WITH s0 AS (SELECT event_type,
        |  CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hr,
        |  CAST(FLOOR(value / 100.0) AS BIGINT) AS sens,
        |  COUNT(*) AS n
        | FROM events GROUP BY 1, 2, 3),
        |g AS (SELECT event_type, hr, SUM(n) AS n_rows, COUNT(*) AS n_sensitive
        | FROM s0 GROUP BY 1, 2),
        |s AS (SELECT COUNT(*) AS n_groups,
        |  CAST(SUM(CASE WHEN n_sensitive < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_groups,
        |  CAST(COALESCE(SUM(CASE WHEN n_sensitive < 5 THEN n_rows END), 0)
        |    AS BIGINT) AS n_rows_at_risk,
        |  MIN(n_sensitive) AS achieved_l FROM g)
        |SELECT g.event_type, g.hr, CAST(g.n_rows AS BIGINT) AS n_rows,
        | g.n_sensitive, s.n_groups, s.n_violating_groups, s.n_rows_at_risk,
        | s.achieved_l
        |FROM g, s WHERE g.n_sensitive < 5
        |ORDER BY g.event_type, g.hr""".stripMargin,
    "cur_pseudonymize" ->
      """SELECT md5('graft-salt|' || CAST(user_id AS VARCHAR)) AS pseudo_user,
        | COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY pseudo_user""".stripMargin,
    "cur_pii" -> {
      val email = EmailRe
      s"""WITH planted AS (SELECT doc_id,
         |  text || ' reach user' || CAST(doc_id AS VARCHAR)
         |   || '@mail.example.com or 10.2.' || CAST(doc_id % 256 AS VARCHAR)
         |   || '.7 ext 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |   || CASE WHEN doc_id % 3 = 0 THEN ' cc bob@corp.io' ELSE '' END AS text
         | FROM documents),
         |r AS (SELECT doc_id, text,
         |  regexp_replace(text, '$email', '<EMAIL>', 'g') AS after_email
         | FROM planted),
         |r2 AS (SELECT doc_id, text, after_email,
         |  regexp_replace(after_email, '$Ipv4Re', '<IP>', 'g') AS after_ip
         | FROM r)
         |SELECT doc_id,
         | CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_pii_email,
         | CAST(len(regexp_extract_all(after_email, '$Ipv4Re')) AS BIGINT) AS n_pii_ip,
         | CAST(len(regexp_extract_all(after_ip, '$PhoneRe')) AS BIGINT) AS n_pii_phone,
         | md5(regexp_replace(after_ip, '$PhoneRe', '<PHONE>', 'g')) AS redacted_hash
         |FROM r2 ORDER BY doc_id""".stripMargin
    },
    "cur_decontam" ->
      s"""WITH sh AS (${Dedup.shingleSql}),
         |bs AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
         |cand AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0)
         |SELECT doc_id, COUNT(*) AS bench_hits
         |FROM cand JOIN bs USING (shingle)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the span audit: positional candidate 3-grams joined to the bench
    // shingle set, islands merged per (doc, bench_doc) — replays the
    // Spark prev-max-end window verbatim; pos = i - 1 (0-based)
    "cur_decontam_spans" ->
      s"""WITH bs AS (SELECT DISTINCT doc_id AS bench_doc, shingle
         | FROM ($hdrShingleSql) WHERE doc_id % 97 = 0),
         |cs AS (SELECT doc_id, i - 1 AS pos,
         |   ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
         | FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS ts
         |       FROM ($hdrDocsSql) WHERE doc_id % 97 <> 0),
         |      UNNEST(range(1, len(ts)-1)) AS u(i)),
         |m AS (SELECT cs.doc_id, bs.bench_doc, cs.pos
         |      FROM cs JOIN bs USING (shingle)),
         |d AS (SELECT doc_id, bench_doc, pos,
         |  MAX(pos + 3) OVER (PARTITION BY doc_id, bench_doc ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         | FROM m),
         |i2 AS (SELECT doc_id, bench_doc, pos,
         |  SUM(CASE WHEN prev_end IS NULL OR pos >= prev_end THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id, bench_doc ORDER BY pos) AS island
         | FROM d),
         |c AS (SELECT doc_id, bench_doc, island, COUNT(*) AS hits,
         |  MIN(pos) AS s, MAX(pos) + 3 AS e
         | FROM i2 GROUP BY 1, 2, 3)
         |SELECT doc_id, bench_doc, CAST(SUM(hits) AS BIGINT) AS n_hits,
         | CAST(MIN(s) AS BIGINT) AS first_pos,
         | CAST(MAX(e) - 3 AS BIGINT) AS last_pos,
         | CAST(SUM(e - s) AS BIGINT) AS covered_tokens
         |FROM c GROUP BY 1, 2 ORDER BY doc_id, bench_doc""".stripMargin,
    // the rewrite replay: islands at DOC grain (any bench item),
    // tokens outside every island reassembled in position order
    "cur_decontam_rewrite" ->
      s"""WITH bs AS (SELECT DISTINCT shingle
         | FROM (${Dedup.shingleSql}) WHERE doc_id % 97 = 0),
         |cs AS (SELECT doc_id, i - 1 AS pos,
         |   ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
         | FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS ts
         |       FROM documents WHERE doc_id % 97 <> 0),
         |      UNNEST(range(1, len(ts)-1)) AS u(i)),
         |m AS (SELECT cs.doc_id, cs.pos FROM cs JOIN bs USING (shingle)),
         |d AS (SELECT doc_id, pos,
         |  MAX(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         | FROM m),
         |i2 AS (SELECT doc_id, pos,
         |  SUM(CASE WHEN prev_end IS NULL OR pos >= prev_end THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY pos) AS island
         | FROM d),
         |c AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 3 AS e
         | FROM i2 GROUP BY 1, 2),
         |tok AS (SELECT doc_id, ts[i] AS tok, i - 1 AS tpos
         | FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS ts
         |       FROM documents WHERE doc_id % 97 <> 0),
         |      UNNEST(range(1, len(ts) + 1)) AS u(i)),
         |keptt AS (SELECT t.doc_id, t.tok, t.tpos FROM tok t
         | WHERE NOT EXISTS (SELECT 1 FROM c
         |   WHERE c.doc_id = t.doc_id AND t.tpos >= c.s AND t.tpos < c.e)),
         |res AS (SELECT doc_id,
         |  array_to_string(list(tok ORDER BY tpos), ' ') AS text_clean
         | FROM keptt GROUP BY doc_id),
         |cutagg AS (SELECT doc_id, SUM(e - s) AS cut_tokens FROM c GROUP BY 1),
         |base AS (SELECT doc_id,
         |  len(string_split_regex(trim(text), ' +')) AS n_tokens
         | FROM documents WHERE doc_id % 97 <> 0)
         |SELECT b.doc_id, COALESCE(r.text_clean, '') AS text_clean,
         | CAST(b.n_tokens AS BIGINT) AS n_tokens,
         | CAST(COALESCE(cu.cut_tokens, 0) AS BIGINT) AS cut_tokens
         |FROM base b LEFT JOIN res r USING (doc_id)
         |LEFT JOIN cutagg cu USING (doc_id) ORDER BY doc_id""".stripMargin,
    // the pruned twin: kp = pairs sharing >= 2 DISTINCT shingles (the
    // containment posting-list count), applied before the island merge
    "cur_decontam_spans_pruned" ->
      s"""WITH bs AS (SELECT DISTINCT doc_id AS bench_doc, shingle
         | FROM ($hdrShingleSql) WHERE doc_id % 97 = 0),
         |kp AS (SELECT cand.doc_id, bs.bench_doc
         | FROM (SELECT doc_id, shingle FROM ($hdrShingleSql)
         |       WHERE doc_id % 97 <> 0) cand
         | JOIN bs USING (shingle)
         | GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |cs AS (SELECT doc_id, i - 1 AS pos,
         |   ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
         | FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS ts
         |       FROM ($hdrDocsSql) WHERE doc_id % 97 <> 0),
         |      UNNEST(range(1, len(ts)-1)) AS u(i)),
         |m AS (SELECT cs.doc_id, bs.bench_doc, cs.pos
         |      FROM cs JOIN bs USING (shingle)
         |      JOIN kp USING (doc_id, bench_doc)),
         |d AS (SELECT doc_id, bench_doc, pos,
         |  MAX(pos + 3) OVER (PARTITION BY doc_id, bench_doc ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         | FROM m),
         |i2 AS (SELECT doc_id, bench_doc, pos,
         |  SUM(CASE WHEN prev_end IS NULL OR pos >= prev_end THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id, bench_doc ORDER BY pos) AS island
         | FROM d),
         |c AS (SELECT doc_id, bench_doc, island, COUNT(*) AS hits,
         |  MIN(pos) AS s, MAX(pos) + 3 AS e
         | FROM i2 GROUP BY 1, 2, 3)
         |SELECT doc_id, bench_doc, CAST(SUM(hits) AS BIGINT) AS n_hits,
         | CAST(MIN(s) AS BIGINT) AS first_pos,
         | CAST(MAX(e) - 3 AS BIGINT) AS last_pos,
         | CAST(SUM(e - s) AS BIGINT) AS covered_tokens
         |FROM c GROUP BY 1, 2 ORDER BY doc_id, bench_doc""".stripMargin,
    "pipe_funnel" ->
      """WITH n0 AS (SELECT COUNT(*) AS n FROM documents),
        |d AS (SELECT doc_id, source, text FROM documents
        |  WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))),
        |n1 AS (SELECT COUNT(*) AS n FROM d),
        |c AS (SELECT doc_id FROM (
        |   SELECT doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rk
        |   FROM d) WHERE rk <= 10),
        |n2 AS (SELECT COUNT(*) AS n FROM c)
        |SELECT 0 AS step_idx, 'input' AS step,
        |  n0.n AS rows_in, n0.n AS rows_out, CAST(0 AS BIGINT) AS dropped_ppm
        | FROM n0
        |UNION ALL SELECT 1, 'dedup_exact', n0.n, n1.n,
        |  CAST((n0.n - n1.n) * 1000000 // n0.n AS BIGINT) FROM n0, n1
        |UNION ALL SELECT 2, 'source_cap', n1.n, n2.n,
        |  CAST((n1.n - n2.n) * 1000000 // n1.n AS BIGINT) FROM n1, n2
        |UNION ALL SELECT 3, 'split', n2.n, n2.n, CAST(0 AS BIGINT) FROM n2
        |ORDER BY step_idx""".stripMargin,
    "pipe_curation" ->
      s"""WITH RECURSIVE ${Dedup.clustersCte},
         |clusters AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
         |scored AS (
         | SELECT c.cluster_id, c.doc_id, CAST(length(d.text) AS BIGINT) AS score
         | FROM clusters c JOIN documents d USING (doc_id)),
         |ranked AS (
         | SELECT cluster_id, doc_id, score,
         |  ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY score DESC, doc_id ASC) AS rn
         | FROM scored),
         |keepers AS (
         | SELECT doc_id, score AS n_chars FROM ranked WHERE rn = 1),
         |labeled AS (
         | SELECT doc_id, n_chars,
         |  ${Sampling.splitCaseSql("doc_id", Sampling.GateWeights)} AS split
         | FROM keepers)
         |SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
         |FROM labeled GROUP BY split ORDER BY split""".stripMargin,
    "cur_filter_stack" ->
      """WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), ' +') AS ts FROM documents),
        |m AS (SELECT doc_id, ts,
        |  list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]) AS bg,
        |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio
        | FROM t),
        |f AS (SELECT doc_id,
        |  (len(ts) BETWEEN 10 AND 1000 AND alpha_ratio > 0.6) AS passes_quality,
        |  (CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) >= 0.4
        |   AND (CASE WHEN len(ts) > 0 THEN
        |     CAST(list_max(list_transform(list_distinct(ts),
        |       u -> len(list_filter(ts, x -> x = u)))) AS DOUBLE) / len(ts)
        |     ELSE 0.0 END) <= 0.12
        |   AND (CASE WHEN len(ts) - 1 > 0 THEN
        |     CAST(list_max(list_transform(list_distinct(bg),
        |       u -> len(list_filter(bg, x -> x = u)))) AS DOUBLE) / (len(ts) - 1)
        |     ELSE 0.0 END) <= 0.08) AS passes_repetition,
        |  (len(list_filter(ts, u -> u IN ('the','a','and','of','is'))) > 0) AS lang_ok
        | FROM m)
        |SELECT doc_id, passes_quality, passes_repetition, lang_ok,
        |  (passes_quality AND passes_repetition AND lang_ok) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "pipe_compliance" -> {
      s"""WITH planted AS (SELECT doc_id, source,
         |  text || ' reach user' || CAST(doc_id AS VARCHAR)
         |   || '@mail.example.com or 10.2.' || CAST(doc_id % 256 AS VARCHAR)
         |   || '.7 ext 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |   || CASE WHEN doc_id % 3 = 0 THEN ' cc bob@corp.io' ELSE '' END AS text
         | FROM documents),
         |r AS (SELECT doc_id, source,
         |  regexp_replace(text, '$EmailRe', '<EMAIL>', 'g') AS after_email,
         |  len(regexp_extract_all(text, '$EmailRe')) AS ne
         | FROM planted),
         |r2 AS (SELECT doc_id, source, ne,
         |  regexp_replace(after_email, '$Ipv4Re', '<IP>', 'g') AS after_ip,
         |  len(regexp_extract_all(after_email, '$Ipv4Re')) AS ni
         | FROM r),
         |r3 AS (SELECT doc_id, source, ne, ni,
         |  len(regexp_extract_all(after_ip, '$PhoneRe')) AS np
         | FROM r2),
         |kept AS (SELECT * FROM r3 WHERE doc_id % 31 <> 0)
         |SELECT md5('graft-salt|' || source) AS pseudo_source,
         | COUNT(*) AS n_docs,
         | CAST(SUM(ne) AS BIGINT) AS n_email,
         | CAST(SUM(ni) AS BIGINT) AS n_ip,
         | CAST(SUM(np) AS BIGINT) AS n_phone
         |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "cur_forget" ->
      """WITH tomb AS (SELECT DISTINCT user_id AS id FROM events
        |  WHERE user_id % 13 = 0)
        |SELECT 'events' AS table_name, COUNT(*) AS n_before,
        | CAST(SUM(CASE WHEN id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        | COUNT(*) - CAST(SUM(CASE WHEN id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM events LEFT JOIN tomb ON user_id = id
        |UNION ALL
        |SELECT 'orders', COUNT(*),
        | CAST(SUM(CASE WHEN id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
        | COUNT(*) - CAST(SUM(CASE WHEN id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders LEFT JOIN tomb ON o_custkey = id
        |ORDER BY table_name""".stripMargin,
  )
}
