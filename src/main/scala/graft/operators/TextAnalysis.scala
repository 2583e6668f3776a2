package graft.operators

import graft.GraftSession.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language-ID heuristics, document fingerprinting.
  * All pure Catalyst expressions — whole-stage codegen'd, embarrassingly
  * parallel (no shuffle except final aggregation-free scans), so they
  * scale linearly with input splits.
  */
object TextAnalysis {

  private def toks = Tokens.of(col("text"))

  /** Adjacent-token (w1, w2) structs from a `ts` token-array column —
    * produced INSIDE the scan (zip_with over two array slices, the
    * [[bpePairCounts]] trick): bigram construction costs zero
    * shuffles at any corpus size. Shared by the LM family and
    * collocation mining; exposed to the streaming twin.
    */
  private[graft] def bigramStructs(arr: String = "ts"): Column = expr(
    s"zip_with(slice($arr, 1, size($arr)-1), slice($arr, 2, size($arr)-1)," +
      " (l, r) -> named_struct('w1', l, 'w2', r))")

  /** The bigram LM's two persisted grains — what a nightly model
    * build writes for [[graft.streaming.Streaming.lmScoreStream]] to
    * score arrivals against: (w1, w2, c12) bigram counts and (w1, c1)
    * start counts, exactly the tables [[lmScorePlan]] aggregates.
    */
  def lmModel(docs: DataFrame): (DataFrame, DataFrame) = {
    val bg = docs.select(toks.as("ts"))
      .select(explode(bigramStructs()).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    (bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")),
      bg.groupBy(col("w1")).agg(count(lit(1)).as("c1")))
  }

  /** Sum of per-element lengths — exact integer aggregate over the
    * token array (no float accumulation).
    */
  private def sumLen(arr: Column): Column =
    aggregate(transform(arr, t => length(t)), lit(0), (a, x) => a + x)

  private val stopwords = Seq("the", "a", "an", "and", "of", "to", "in", "is")

  private def stopHits(arr: Column): Column =
    size(filter(arr, t => t.isInCollection(stopwords)))

  /** Tokenization stats: whitespace tokens + a BPE-ish word/punct regex
    * count.
    */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      regexp_count(col("text"), lit("[a-z0-9]+|[^a-z0-9\\s]")).cast("long").as("n_bpe_pieces"),
      sumLen(toks).cast("long").as("sum_token_len"),
      (sumLen(toks).cast("double") / size(toks)).as("avg_token_len"))

  /** Quality scoring: char-class ratios + stopword ratio + a composite
    * score. All ratios are single divisions of exact integers —
    * bit-identical across engines.
    */
  def qualityScores(docs: DataFrame): DataFrame = {
    val len = length(col("text"))
    val alpha = length(regexp_replace(col("text"), "[^a-z]", ""))
    val spaces = length(regexp_replace(col("text"), "[^ ]", ""))
    docs.select(
      col("doc_id"),
      len.cast("long").as("n_chars"),
      (alpha.cast("double") / len).as("alpha_ratio"),
      (spaces.cast("double") / len).as("space_ratio"),
      (stopHits(toks).cast("double") / size(toks)).as("stopword_ratio"),
      (size(toks) >= 10 && size(toks) <= 1000 &&
        (alpha.cast("double") / len) > lit(0.6)).as("passes_filter"))
  }

  /** Readability profile — the Flesch-reading-ease family in EXACT
    * integer milli-units: words (space-delimited runs), sentences
    * (terminator runs `[.!?]+`, floored at 1 so punctuation-free
    * corpora — like the synthetic gate corpus — degrade to a
    * one-sentence document instead of dividing by zero), and
    * syllables approximated as vowel-group runs `[aeiouy]+` (the
    * standard dictionary-free estimator). Derived columns:
    * words-per-sentence and syllables-per-word in milli, and
    * `flesch_milli` = 206835 − 1015·wps − 84600·spw (each term DIV'd
    * back to milli) — the classic 206.835 − 1.015·wps − 84.6·spw
    * scaled ×1000 with every division integral, so the score is
    * bit-identical cross-engine where the float formula would not be.
    * One narrow codegen'd pass (regexp_count ×3 + integer
    * arithmetic), the fused-filter-stack scale shape.
    */
  def readability(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        regexp_count(col("text"), lit("[^ ]+")).cast("long").as("n_words"),
        regexp_count(col("text"), lit("[.!?]+")).cast("long").as("n_sentences"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
          .as("n_syllables"))
      .withColumn("wps_milli",
        expr("n_words * 1000 DIV greatest(n_sentences, 1)"))
      .withColumn("spw_milli",
        expr("n_syllables * 1000 DIV greatest(n_words, 1)"))
      .withColumn("flesch_milli",
        expr("206835 - (1015 * wps_milli) DIV 1000" +
          " - (84600 * spw_milli) DIV 1000"))

  private val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "y", "los", "de"))

  /** Stopword-profile language ID: hits per language wordlist, argmax
    * with deterministic tie-break (hit count desc, then language code).
    * `und` when nothing matches.
    */
  def langId(docs: DataFrame): DataFrame = {
    val hits = langStopwords.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isInCollection(words)))
    }
    // struct-max trick: max of (hits, negated-lang-rank) picks argmax
    // with lexicographic tie-break — single expression, no join.
    val structs = array(hits.zipWithIndex.map { case ((lang, h), i) =>
      struct(h.as("h"), lit(-i).as("nr"), lit(lang).as("lang"))
    }: _*)
    val top = array_max(structs)
    val outCols: Seq[Column] = col("doc_id") +:
      hits.map { case (l, h) => h.cast("long").as(s"${l}_hits") } :+
      when(top.getField("h") > 0, top.getField("lang")).otherwise("und").as("lang_pred")
    docs.select(outCols: _*)
  }

  /** Exact per-document token counts of the whitespace tokens, from
    * the native [[graft.functions.TokenStats]] kernel (one hash pass
    * per row, no lambda): `n_tokens`, `n_types`, `top_token`,
    * `top_bigram`, `sum_sq`.
    */
  private def tokenCounts: Column = graft.functions.TokenStats(toks)

  /** Gopher repetition ratios from [[tokenCounts]]: (distinct ratio,
    * top-token fraction, top-bigram fraction), each one IEEE division
    * of two exact integers. A fraction with no tokens (bigrams) to
    * divide by is 0.
    */
  private def repetitionRatios(st: Column): (Column, Column, Column) = {
    val n = st("n_tokens")
    def frac(top: Column, of: Column): Column =
      when(of > 0, top.cast("double") / of.cast("double")).otherwise(lit(0.0))
    (st("n_types").cast("double") / n.cast("double"),
      frac(st("top_token"), n), frac(st("top_bigram"), n - 1))
  }

  private def passesRepetition(st: Column): Column = {
    val (dr, tt, tb) = repetitionRatios(st)
    dr >= 0.4 && tt <= 0.12 && tb <= 0.08
  }

  /** The filter stack's flags over a `text` column, in output order. */
  private def filterFlags: Seq[(String, Column)] = {
    val ts = toks
    val len = length(col("text"))
    val alpha = length(regexp_replace(col("text"), "[^a-z]", ""))
    val alphaRatio = alpha.cast("double") / len
    Seq(
      "passes_quality" ->
        (size(ts) >= 10 && size(ts) <= 1000 && alphaRatio > lit(0.6)),
      "passes_repetition" -> passesRepetition(tokenCounts),
      "lang_ok" ->
        arrays_overlap(ts, array(langStopwords.head._2.map(lit): _*)))
  }

  /** The filter stack's `keep` verdict as one predicate over a frame's
    * `text` column — what the pipeline's `filter_stack` step filters
    * its input by, in place (no self-join, so its input is read once).
    */
  def filterStackKeep: Column = filterFlags.map(_._2).reduce(_ && _)

  /** The fused filter stack — every per-document keep/drop heuristic
    * (quality ratios, Gopher repetition, language ID, length bounds)
    * computed in ONE narrow pass over the corpus: at 100 TB each extra
    * scan of the input is the dominant cost, so the production shape is
    * one select with all flags, not a join of per-metric outputs
    * (plan-asserted: single FileScan, no shuffle, no join, no lambda).
    * `keep` is the conjunction ([[filterStackKeep]]) — the
    * C4/Gopher-style verdict a curation run feeds to the sampler.
    */
  def filterStack(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +:
      filterFlags.map { case (name, flag) => flag.as(name) } :+
      filterStackKeep.as("keep"): _*)

  /** Gopher-style repetition metrics — the "is this document mostly the
    * same thing over and over" signal every web-scale curation run
    * filters on (boilerplate, keyword stuffing, template spam):
    *
    *   - `distinct_ratio`   distinct tokens / tokens (low ⇒ repetitive)
    *   - `top_token_frac`   occurrences of the most frequent token / tokens
    *   - `top_bigram_frac`  occurrences of the most frequent bigram / bigrams
    *   - `passes_repetition` the composite keep verdict
    *
    * The counts come from the native `token_stats` kernel
    * ([[graft.functions.TokenStats]]): one O(n) hash pass per row, NO
    * explode, NO shuffle — at 100 TB an explode+groupBy(doc, token)
    * alternative would shuffle one row per (doc, token).
    * Single-token docs define `top_bigram_frac = 0` (nothing repeats).
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val st = tokenCounts
    val (dr, tt, tb) = repetitionRatios(st)
    docs.select(
      col("doc_id"),
      st("n_tokens").as("n_tokens"),
      dr.as("distinct_ratio"),
      tt.as("top_token_frac"),
      tb.as("top_bigram_frac"),
      passesRepetition(st).as("passes_repetition"))
  }

  /** Lexical-diversity metrics — the "how varied is this document's
    * vocabulary" signal used to down-weight template spam and up-weight
    * information-dense text when mixing a training corpus:
    *
    *   - `gini_simpson`     1 − Σc²/N² over token counts c (0 = one token
    *                        repeated, →1 = all tokens distinct)
    *   - `effective_types`  N²/Σc² — the inverse-Simpson "effective
    *                        vocabulary size" (equals the true type count
    *                        when counts are uniform)
    *
    * Cross-engine determinism by construction: Σc² and N are EXACT
    * integer aggregates (no float accumulation order to diverge), and
    * each output is one correctly-rounded IEEE division (plus one exact
    * subtraction) — bit-identical on any engine. This is why
    * Gini–Simpson is preferred here over Shannon entropy, whose Σp·log p
    * hits libm rounding and float-sum ordering on every engine
    * differently.
    *
    * Same per-row `token_stats` counts as [[repetitionStats]]: no
    * explode, no shuffle.
    */
  def diversityStats(docs: DataFrame): DataFrame = {
    val st = tokenCounts
    val n = st("n_tokens")
    docs.select(
      col("doc_id"),
      n.as("n_tokens"),
      st("n_types").as("n_types"),
      (lit(1.0) - st("sum_sq").cast("double") / (n * n)).as("gini_simpson"),
      ((n * n).cast("double") / st("sum_sq")).as("effective_types"))
  }

  /** Document fingerprints: md5 of the whitespace-normalized text plus
    * a winnowing-style min-shingle hash (the smallest 3-gram md5 — a
    * 1-of-k MinHash, cheap near-dup prefilter).
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    // a doc shorter than 3 tokens is one window: its whole text
    docs.select(
      col("doc_id"),
      md5(concat_ws(" ", toks)).as("norm_hash"),
      array_min(Tokens.windows(toks, 3, 1, md5)).as("min_shingle_hash"))
  }

  /** Compression-ratio quality proxy (deflate, fixed level 6):
    * repetitive/templated text compresses far better than
    * information-dense prose, so compressed/raw bytes is a cheap,
    * language-agnostic quality signal used alongside the Gopher
    * repetition rules ([[repetitionStats]]) — it catches structural
    * repetition (templates, boilerplate markup) that token-level
    * metrics miss.
    *
    * One JVM `Deflater` per PARTITION, reused across rows
    * (allocation-free inner loop) via `mapPartitions` — the sanctioned
    * seam for imperative per-row work no Catalyst expression covers.
    * Deterministic for a fixed level/JVM, but zlib output bytes are
    * library-private, so this is test-gated rather than oracle-gated —
    * the same contract as the sketch operators.
    */
  def compressionRatio(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](1 << 16)
        val out = it.map { case (id, text) =>
          val in = text.getBytes("UTF-8")
          d.reset(); d.setInput(in); d.finish()
          var n = 0L
          while (!d.finished()) n += d.deflate(buf, 0, buf.length)
          (id, in.length.toLong, n)
        }
        // release the native zlib state when the partition completes
        // (the ++ right side evaluates only after `out` is exhausted) —
        // otherwise it is held until GC finalization
        out ++ { d.end(); Iterator.empty }
      }
      .toDF("doc_id", "n_bytes", "n_compressed")
      // empty text: 0 raw bytes but ~8 header bytes compressed — a
      // ratio is undefined (was Infinity), so emit null
      .withColumn("compression_ratio",
        when(col("n_bytes") > 0,
          col("n_compressed").cast("double") / col("n_bytes")))
  }

  /** Per-document top-k salient terms by TF-IDF — the classic
    * "what is this document about" signal used for topic balancing and
    * per-domain vocabulary audits over a training corpus.
    *
    * Determinism across engines: the score is `tf · N / df` (LINEAR
    * inverse document frequency) — exact integer inputs and exactly one
    * correctly-rounded IEEE double division, so Spark and any oracle
    * engine agree bit-for-bit. A log-idf would hit libm `ln()` whose
    * last-ulp rounding differs across engines; log is monotone in 1/df,
    * so the RANKING is identical anyway and the linear form loses
    * nothing the gate could check. Ties: score desc, then term asc.
    *
    * Scale shape: one explode pass → tf aggregation (map-side
    * combinable, keyed by (doc, term)) → df derived FROM the tf table
    * (no second scan) keyed by term → term-keyed shuffle join (vocab
    * can be huge; nothing is broadcast) → per-doc window top-k. N rides
    * in as a 1-row broadcast cross join, never a driver round-trip.
    */
  def tfidfTop(docs: DataFrame, k: Int): DataFrame =
    tfidfTopPlan(docs, k).df

  /** Managed form of [[tfidfTop]]: the (doc, term, tf) table feeds
    * BOTH the df derivation and the score join, so it is persisted
    * behind the release contract — without it the corpus is exploded
    * and counted twice (measured as the worst 10× scale ratio in the
    * sf1 rehearsal before this fix).
    */
  def tfidfTopPlan(docs: DataFrame, k: Int): DedupPlan = {
    import org.apache.spark.storage.StorageLevel
    val tok = docs.select(col("doc_id"), explode(toks).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    val out = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n")).cast("double") / col("df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score"))
    DedupPlan(out, "tfidf_top", Seq(tf))
  }

  /** Corpus-calibrated token COMMONNESS — the quality signal the
    * per-doc ratios ([[qualityScores]]) can't see: how ordinary is this
    * document's vocabulary relative to THIS corpus? For every token
    * occurrence, its corpus document frequency; per doc the exact sum,
    * the hapax count (tokens appearing in exactly one document — OCR
    * noise, codes and garbage skew hapax-heavy), and
    * `mean_df_ratio = Σdf / (n_tokens · N)` in (0, 1] — near 1 ⇒
    * stopword-soup, near 0 ⇒ rare-vocab. A corpus-relative signal,
    * so it needs no tuned wordlists and adapts per domain.
    *
    * Surprisal without the libm hazard: the textbook form is mean
    * −log(df/N), but log's last ulp differs per engine — the rank
    * ordering is preserved by the plain ratio, which is ONE division
    * of exact integers (cross-engine bit-identical).
    *
    * Scale shape (mirrors [[tfidfTop]]): one explode pass → distinct →
    * df keyed by term → term-keyed shuffle join (vocab never
    * broadcast) → per-doc map-side-combinable rollup; N rides in as a
    * 1-row broadcast cross join, never a driver round-trip.
    */
  def commonness(docs: DataFrame): DataFrame = {
    // df derives FROM the tf table (the tfidfTop shape): the join is
    // at the (doc, term) grain — |tf| rows, far smaller than the raw
    // occurrence stream — and per-occurrence sums are recovered
    // exactly from it (Σ_occurrences df = Σ_distinct tf·df; hapax
    // occurrences = tf where df = 1). tf is referenced twice but
    // deliberately NOT persisted: unlike [[tfidfTopPlan]] (whose
    // recomputed branch carries a window), both branches here are one
    // cheap codegen'd count each, and the sf1 rehearsal MEASURED the
    // cache at 2× slower than the recompute (0.65 s → 1.35 s) — the
    // serialize-and-spill cost exceeds the second aggregation. A
    // pipeline computing several token statistics shares ONE persisted
    // tf table across them; that is where the second corpus scan
    // disappears at 100 TB.
    val tok = docs.select(col("doc_id"), explode(toks).as("tok"))
    val tf = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val out = tf.join(dfreq, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("df")).as("sum_df"),
        sum(when(col("df") === 1, col("tf")).otherwise(0L)).as("n_hapax"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("n_tokens"), col("sum_df"), col("n_hapax"),
        (col("sum_df").cast("double") / (col("n_tokens") * col("n_docs")))
          .as("mean_df_ratio"))
    out
  }

  /** Fixed-size token-window chunking with overlap — the
    * training-sequence prep step that turns documents into
    * `chunkSize`-token windows every `stride` tokens (trailing window
    * kept iff it adds uncovered tokens; a short doc is one chunk — the
    * `Tokens.starts` rule). Pure per-row array work:
    * sequence/explode/slice are all codegen'd, the operator is
    * shuffle-free and scales linearly with input splits — chunking
    * 100 TB is exactly one pass. Chunk identity travels as an md5 of
    * the joined window so downstream exact-dedup of chunks reuses
    * `Dedup`-family exact dedup unchanged.
    */
  def chunk(docs: DataFrame, chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    require(stride > 0 && chunkSize >= stride, "need chunkSize >= stride > 0")
    docs
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), col("t"),
        explode(Tokens.starts(col("t"), chunkSize, stride)).as("st"))
      .select(
        col("doc_id"),
        (col("st") / stride).cast("long").as("chunk_idx"),
        col("st").cast("long").as("start_tok"),
        size(slice(col("t"), col("st") + 1, lit(chunkSize))).cast("long")
          .as("n_chunk_toks"),
        md5(concat_ws(" ", slice(col("t"), col("st") + 1, lit(chunkSize))))
          .as("chunk_md5"))
  }

  /** Lexical top-k retrieval over an inverted index: each query doc
    * (doc_id % queryMod == 0) retrieves the k corpus docs sharing the
    * most informative distinct terms, scored by an integer idf
    * surrogate Σ (N·10⁶ div df) — rank-preserving in 1/df, exact on
    * every engine (a float log-idf would hash-diverge cross-engine;
    * 64-bit integer division cannot).
    *
    * The scale shape is the retrieval system's, not a similarity scan:
    * the corpus posting list is TERM-KEYED — queries and candidates
    * meet in a shuffle join on term (never a broadcast vocabulary,
    * never a doc×doc product), per-(query, doc) scores come out of one
    * partial aggregation, and the final top-k is a row_number window
    * whose partial WindowGroupLimit bounds each query's candidates
    * map-side. Cost is O(Σ_term q_df·df) — the posting-list
    * intersection bound — not O(Q·N).
    */
  def lexicalTopK(docs: DataFrame, queryMod: Int = 101, k: Int = 5): DataFrame =
    lexicalTopKPlan(docs, queryMod, k).df

  /** [[lexicalTopK]] with an idf FLOOR — the impact-pruned (WAND-
    * flavored) 100 TB form. The full form's cost is the posting-list
    * intersection Σ_term q_df·df, and a Zipf vocabulary concentrates
    * that sum in a handful of stopword-grade terms whose postings span
    * much of the corpus while contributing near-nothing to the score
    * (idf_i = N·10⁶ div df is SMALLEST exactly where df is largest).
    * Dropping terms with idf_i < minIdfPpm — i.e. df > N·10⁶/floor —
    * removes the heaviest posting lists BEFORE any candidate
    * materializes; the trade is explicit and deterministic: a doc
    * retrievable only through sub-floor terms is no longer found, the
    * same contract as every banded/bucketed scale twin here. The
    * prune rule is one integer comparison, replayed verbatim by the
    * oracle. The floor is a corpus-vocabulary knob: idf_i spans
    * [10⁶, N·10⁶], so the default 2·10⁶ means "drop terms in more
    * than half the corpus" — the loosest defensible stopword line;
    * raise it toward 10·10⁶ (df > N/10) as the vocabulary grows.
    * Honesty note on the gate measurement: the synthetic gate corpus
    * has a COMPRESSED idf range (every term is common; max query-term
    * idf ≈ 1.34·10⁶), so the gate floor (1.25·10⁶) exercises the
    * score semantics but barely moves wall time there (10.1 s vs
    * 11.0 s at 100× bench data). The win this operator exists for —
    * df ≤ N·10⁶/floor bounds EVERY surviving posting list — needs a
    * Zipf vocabulary to show; on one, the head terms the floor drops
    * carry most of Σ q_df·df.
    */
  def lexicalTopKPruned(docs: DataFrame, queryMod: Int = 101, k: Int = 5,
      minIdfPpm: Long = 2000000L): DataFrame =
    lexicalTopKPlan(docs, queryMod, k, minIdfPpm).df

  /** Managed form of [[lexicalTopK]]: the posting list feeds the df
    * derivation, the query extraction AND the score join (three
    * references), so it is persisted behind the release contract.
    */
  def lexicalTopKPlan(docs: DataFrame, queryMod: Int = 101, k: Int = 5,
      minIdfPpm: Long = 0L): DedupPlan = {
    import org.apache.spark.storage.StorageLevel
    val terms = docs.select(col("doc_id"), explode(array_distinct(toks)).as("term"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    // the idf floor prunes at the TERM grain, before any posting list
    // materializes: a hot term (df > n·10⁶/floor) never reaches the
    // terms⋈dfreq join output, so the (query, doc) candidate stream —
    // the Σ q_df·df cost center — loses exactly its heaviest factors
    val dfreq0 = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .withColumn("idf_i", expr("(n_docs * 1000000) div df"))
      .select(col("term"), col("df"), col("idf_i"))
    val dfreq = if (minIdfPpm > 0) dfreq0.where(col("idf_i") >= minIdfPpm)
                else dfreq0
    val qterms = terms.where(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("query_id"), col("term"))
    val postings = terms.join(dfreq, Seq("term"))
    val scored = qterms.join(postings, Seq("term"))
      .where(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"), sum(col("idf_i")).as("score"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("n_shared").desc, col("doc_id"))
    val out = scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_shared"), col("score"))
    DedupPlan(out, "lexical_topk", Seq(terms))
  }

  /** One round of BPE-style merge-candidate mining: the frequency of
    * every ADJACENT token pair in the corpus, top-k. This is the inner
    * loop of vocabulary induction (the pair you'd merge next is the
    * argmax) and a corpus-level collocation report on its own.
    *
    * Scale shape: the pair stream is produced shuffle-free inside the
    * scan (`zip_with` over two array slices — no posting-list join,
    * no window), the only shuffle is the map-side-combinable count at
    * the pair grain, and the top-k is orderBy+limit ⇒
    * TakeOrderedAndProject. A full BPE train is this operator iterated
    * with a re-tokenize between rounds; each round stays one pass.
    */
  def bpePairCounts(docs: DataFrame, topK: Int = 30): DataFrame = {
    require(topK > 0, "need topK > 0")
    docs.select(toks.as("ts"))
      .select(explode(expr(
        "zip_with(slice(ts, 1, size(ts)-1), slice(ts, 2, size(ts)-1)," +
          " (l, r) -> concat(l, ' ', r))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)
  }

  /** The delimiter scheme shared by [[bpeTrain]] and [[bpeEncodeNative]]: a
    * document is one string with every token wrapped in `|…|`, so adjacent
    * tokens meet at a DOUBLE bar (`|a||b|`). A merge of pair (x, y) is then
    * a literal replace of `"|x||y|"` with `"|x␟y|"` (U+001F joins the
    * merged token) — and because each occurrence owns its own
    * closing/opening bars, left-to-right non-overlapping literal
    * replacement (identical semantics in Spark's `StringReplace` and
    * DuckDB/PG `replace`) is EXACTLY greedy BPE application: `|a||a||a||a|`
    * → `|a␟a||a␟a|`, with no shared-boundary misses and no false prefix
    * matches (`|a||ab|` never matches `|a||a|`).
    */
  private val BpeUS = "\u001f"

  private def bpeRep(textCol: String): Column =
    concat(lit("|"),
      array_join(Tokens.of(translate(col(textCol), "|" + BpeUS, "")), "||"),
      lit("|"))

  private def bpeTokens(rep: Column): Column =
    split(trim(rep, "|"), "\\|\\|")

  /** Distributed BPE tokenizer training over the corpus: `merges`
    * rounds of (count all adjacent token pairs) → (take the most
    * frequent, ties broken by pair text) → (greedily merge every
    * occurrence corpus-wide), exactly the word-level BPE/WordPiece
    * vocabulary-learning loop. Returns the learned merge table
    * (rank, left_tok, right_tok, n) — later rounds' tokens contain
    * U+001F where earlier merges composed.
    *
    * Scale shape per round: ONE map-side-combinable aggregation at the
    * (pair) grain (vocab-sized, never corpus-sized), a 1-row argmax to
    * the driver, and one codegen'd narrow literal replace over the
    * cached representation — no join, no window, no corpus-sized
    * driver state; k merges = k cached passes. Real tokenizer builds
    * run tens of thousands of merges over a FIXED-SIZE sample — at
    * 100 TB compose this with [[graft.operators.Sampling.fixedK]]
    * (the sample is the standard practice, not a shortcut; pair
    * frequencies converge long before corpus scale). Tokens must not
    * contain `|` or U+001F; both are stripped on entry (the delimiter
    * contract above). Exact integer counts — cross-engine
    * deterministic including the tie order.
    */
  def bpeTrain(docs: DataFrame, merges: Int, textCol: String = "text"): DataFrame = {
    require(merges >= 1 && merges <= 100,
      s"bpeTrain: merges must be in [1, 100], got $merges")
    val spark = docs.sparkSession
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var go = true
    while (r <= merges && go) {
      // round r counts bigrams over the corpus with merges 1..r-1
      // applied ON THE FLY by the native pass kernel
      // ([[graft.functions.BpeEncodePieces]] — bit-identical to a
      // literal replace chain, property-tested): each round is one
      // shuffle-free scan + a map-side-combinable pair count + a
      // 1-row argmax, with NO per-round corpus rewrite, persist, or
      // cache churn.
      // The previous form persisted a fully rewritten corpus string
      // per round (k merges = k cached corpus copies + k wide string
      // replaces); the kernel applies the same merges per row in
      // O(applied · pieces) and materializes nothing.
      val cur =
        if (learned.isEmpty) bpeTokens(bpeRep(textCol))
        else graft.functions.BpeEncodePieces(
          col(textCol), learned.map(t => (t._2, t._3)).toSeq)
      val top = docs.select(cur.as("ts"))
        .select(explode(bigramStructs()).as("b"))
        .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w1"), col("w2"))
        .limit(1).collect()
      if (top.isEmpty) go = false
      else {
        val (l, rt, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((r.toLong, l, rt, n))
        r += 1
      }
    }
    import spark.implicits._
    learned.toSeq.toDF("rank", "left_tok", "right_tok", "n")
  }

  /** Apply a learned merge table ([[bpeTrain]]'s output shape) to the
    * corpus: per-doc piece counts before and after, the
    * compression-ratio report a tokenizer build is judged by. The
    * merges apply in rank order, each one greedily left to right over
    * the whole document — the literal `replace` of `"|x||y|"` the
    * delimiter scheme above defines — but the table rides as ONE plan
    * reference object inside [[graft.functions.BpeEncodePieces]], so
    * production-size (30k+) vocabularies are welcome. Zero shuffles,
    * zero joins; per-row cost is O(merges) hash skips +
    * O(applied·pieces), and the expression stays inside whole-stage
    * codegen.
    */
  def bpeEncodeNative(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      size(bpeTokens(bpeRep(textCol))).cast("long").as("n_tokens"),
      size(graft.functions.BpeEncodePieces(col(textCol), merges))
        .cast("long").as("n_pieces"))

  /** External-interop merge table behind the `ta_bpe_encode_minrank`
    * gate: HF-style ranks over corpus-common tokens, deliberately
    * exercising the two semantics the min-rank loop adds over the
    * pass kernel — a CASCADE (rank 1's left token exists only after
    * rank 2 merges it into being; ditto rank 6 ← rank 4) and a
    * SELF-PAIR (rank 3). A rank-order pass encode over this table
    * never fires ranks 1/6 at all.
    */
  val MinRankGateMerges: Seq[(String, String)] = Seq(
    ("tablehash", "value"), ("table", "hash"), ("a", "a"),
    ("value", "table"), ("fast", "table"), ("valuetable", "part"),
    ("key", "agg"))

  /** Classic (min-rank-first) BPE encode over an EXTERNALLY-trained
    * merge table — the tokenizer-interop path: an HF-style
    * `merges.txt` assumes this loop, not [[bpeEncodeNative]]'s rank-order
    * passes (which [[bpeTrain]]'s own tables replay; applying an
    * external table through the pass kernel silently mis-tokenizes
    * whenever a later merge re-enables an earlier one). Semantics and
    * per-row cost live on [[graft.functions.BpeEncodeMinRank]]; this
    * wrapper emits the per-doc report shape — token/piece counts plus
    * the encoded piece string (space-joined: pieces are space-free by
    * construction), one shuffle-free projection with the kernel
    * evaluated once per row.
    */
  def bpeEncodeMinRank(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("__p", graft.functions.BpeEncodeMinRank(col(textCol), merges))
      .select(col("doc_id"),
        size(bpeTokens(bpeRep(textCol))).cast("long").as("n_tokens"),
        size(col("__p")).cast("long").as("n_pieces"),
        array_join(col("__p"), " ").as("pieces_str"))

  /** Annotation form of [[bpeEncodeMinRank]] — the `mode: min_rank`
    * arm of the bpe_annotate pipeline step, for EXTERNALLY-trained
    * merge tables. Same schema-stable shape as [[bpeAnnotate]]
    * (adds n_tokens / n_pieces / merged_frac), but `merged_frac` here
    * is the merge-consumption rate (n_tokens − n_pieces) / n_tokens:
    * min-rank pieces are plain concatenations with no marker, so the
    * pass kernel's merged-piece fraction is not observable — the
    * consumption rate carries the same OOV signal (0 = the vocabulary
    * never fired on this doc).
    */
  def bpeAnnotateMinRank(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("n_tokens", size(bpeTokens(bpeRep(textCol))).cast("long"))
      .withColumn("n_pieces",
        size(graft.functions.BpeEncodeMinRank(col(textCol), merges)).cast("long"))
      .withColumn("merged_frac",
        (col("n_tokens") - col("n_pieces")).cast("double") / col("n_tokens"))

  /** Annotation form of [[bpeEncodeNative]] + [[bpeCoverage]]: keeps
    * the incoming frame's columns and ADDS n_tokens / n_pieces /
    * merged_frac — the shape a pipeline step needs (schema-stable
    * plus metrics), one shuffle-free projection through the native
    * kernel with the pieces computed once.
    */
  def bpeAnnotate(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame = {
    val pieces = graft.functions.BpeEncodePieces(col(textCol), merges)
    docs
      .withColumn("n_tokens", size(bpeTokens(bpeRep(textCol))).cast("long"))
      .withColumn("__p", pieces)
      .withColumn("n_pieces", size(col("__p")).cast("long"))
      .withColumn("merged_frac",
        size(filter(col("__p"), x => x.contains(BpeUS))).cast("double")
          / col("n_pieces"))
      .drop("__p")
  }

  /** Tokenizer coverage report — the vocab-quality metric a tokenizer
    * build is judged by NEXT TO compression ([[bpeEncodeNative]]'s ratio):
    * per document, how many encoded pieces are MERGED tokens (the
    * learned vocabulary firing) vs untouched singletons. A corpus
    * slice whose merged_frac stays near zero is out-of-domain for the
    * trained table (the OOV signal at the BPE-word grain); the
    * per-source rollup of this frame is the "does my tokenizer cover
    * my mixture" report.
    *
    * Scale shape: ONE projection over the corpus — the
    * [[graft.functions.BpeEncodePieces]] kernel emits the pieces and
    * two codegen'd array ops count them; no shuffle at all until the
    * caller aggregates. Exact integer counts + one division.
    */
  def bpeCoverage(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame = {
    val pieces = graft.functions.BpeEncodePieces(col(textCol), merges)
    docs.select(col("doc_id"), pieces.as("p"))
      .select(col("doc_id"),
        size(col("p")).cast("long").as("n_pieces"),
        size(filter(col("p"), x => x.contains(BpeUS))).cast("long")
          .as("n_merged_pieces"))
      .withColumn("merged_frac",
        col("n_merged_pieces").cast("double") / col("n_pieces"))
  }

  /** Tokenizer VOCABULARY export — the artifact that ships beside the
    * merge table: the top-k pieces of the ENCODED corpus with stable
    * ids (rank by count desc, piece asc), occurrence counts, and the
    * merged/base flag. Together with [[bpeTrain]] (merges) and
    * [[bpeCoverage]] (OOV), this completes the tokenizer-build
    * artifact set: merges.txt + vocab.
    *
    * Scale shape: one shuffle-free projection through the
    * [[graft.functions.BpeEncodePieces]] kernel, one explode, one
    * map-side-combinable count at the piece grain, TakeOrdered top-k
    * — then ids via a window over the ALREADY-LIMITED k rows (the
    * [[zipfProfile]] pattern: the single-partition window sees k rows
    * by construction, never the vocabulary).
    */
  def bpeVocab(docs: DataFrame, merges: Seq[(String, String)],
      k: Int = 50, textCol: String = "text"): DataFrame = {
    require(k > 0, "need k > 0")
    import org.apache.spark.sql.expressions.Window
    val top = docs
      .select(explode(graft.functions.BpeEncodePieces(col(textCol), merges))
        .as("piece"))
      .groupBy(col("piece")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("piece"))
      .limit(k)
    top
      .withColumn("vocab_id",
        (row_number().over(Window.orderBy(col("n").desc, col("piece"))) - 1)
          .cast("long"))
      .select(col("vocab_id"), col("piece"), col("n"),
        col("piece").contains(BpeUS).as("is_merged"))
  }

  /** Token-ID encoding report — the training-input artifact closing
    * the tokenizer chain (train → vocab → ids): per document, the
    * piece count, the OOV count (pieces outside the vocabulary,
    * encoded −1), and the id sequence itself (space-joined — exact,
    * order-preserving, engine-comparable). Rides
    * [[graft.functions.BpeEncodeIds]]: ONE shuffle-free codegen'd
    * projection with both the merge table and the vocabulary as plan
    * reference objects — id-encoding the corpus is a map-only pass,
    * where a broadcast-join + positional reassembly would pay a
    * token-grain shuffle for the same result.
    */
  def bpeEncodeIdsReport(docs: DataFrame, merges: Seq[(String, String)],
      vocabPieces: Seq[String], textCol: String = "text"): DataFrame =
    docs
      .withColumn("__ids",
        graft.functions.BpeEncodeIds(col(textCol), merges, vocabPieces))
      .select(col("doc_id"),
        size(col("__ids")).cast("long").as("n_pieces"),
        size(filter(col("__ids"), x => x === -1L)).cast("long").as("n_oov"),
        array_join(col("__ids"), " ").as("ids_str"))

  /** Decode a vocabulary-id sequence back to surface text — the
    * inverse of [[graft.functions.BpeEncodeIds]] and the final link of
    * the tokenizer artifact chain (train → vocab → ids → DECODE): each
    * id looks up its piece in the vocabulary, merged pieces unfold
    * their [[BpeUS]] separators back to spaces, OOV ids (−1) render as
    * `<unk>`, and pieces re-join in order. Decoding is what a training
    * loop's sample inspector and a detokenizing eval harness run, and
    * the round-trip equality it enables is the tokenizer build's
    * end-to-end self-check.
    *
    * Pure codegen'd array expressions over a BOUNDED vocabulary
    * literal (top-k by construction — the same plan-literal transport
    * the id kernel uses): shuffle-free, linear in ids.
    */
  def bpeDecodeIds(ids: Column, vocabPieces: Seq[String]): Column = {
    require(vocabPieces.nonEmpty, "need a non-empty vocabulary")
    val vocabLit = typedlit(vocabPieces)
    array_join(
      transform(ids, id =>
        when(id >= 0,
          translate(element_at(vocabLit, (id + 1).cast("int")), BpeUS, " "))
          .otherwise(lit("<unk>"))), " ")
  }

  /** Round-trip report — encode every document to vocabulary ids and
    * decode straight back: (doc_id, text_decoded, n_unk, lossless)
    * where `lossless` compares the decode against the space-normalized
    * source text. Documents with zero OOV pieces MUST round-trip
    * exactly (the spec property); the `lossless` rate over a corpus
    * slice is the "can I reconstruct my training text from ids" audit
    * that catches vocabulary/merge-table mismatches before a training
    * run bakes them in.
    *
    * One shuffle-free projection: the id kernel and the decode
    * expressions compose in a single whole-stage-codegen pass.
    */
  def bpeRoundTrip(docs: DataFrame, merges: Seq[(String, String)],
      vocabPieces: Seq[String], textCol: String = "text"): DataFrame = {
    val decoded = bpeDecodeIds(col("__ids"), vocabPieces)
    docs
      .withColumn("__ids",
        graft.functions.BpeEncodeIds(col(textCol), merges, vocabPieces))
      .select(col("doc_id"), decoded.as("text_decoded"),
        size(filter(col("__ids"), x => x === -1L)).cast("long").as("n_unk"),
        (decoded === regexp_replace(trim(col(textCol)), " +", " "))
          .as("lossless"))
  }

  /** Per-document content NOVELTY against ingestion order — for each
    * doc, the fraction of its distinct word-3-gram shingles whose
    * FIRST corpus occurrence (min doc_id) is this document. The
    * dataset-composition curve a pipeline reads before ordering or
    * pruning: a long tail of near-zero-novelty docs is redundancy the
    * dedup family should be eating; a source whose docs stay
    * high-novelty deep into ingestion is contributing new content.
    * The per-source aggregate of this column is the marginal-value
    * report for mixture weighting.
    *
    * Scale shape: one shingle pass (`Dedup.shingleDf`, shared
    * machinery), one min aggregation at the SHINGLE grain (first
    * occurrence), one shingle-keyed join back, one per-doc count —
    * all term-keyed shuffles with map-side combine, no broadcast of
    * the shingle vocabulary anywhere. Novelty is exact integer ppm.
    */
  def noveltyStats(docs: DataFrame): DataFrame =
    noveltyStatsPlan(docs).df

  /** Managed form of [[noveltyStats]]: the shingle table feeds both
    * the first-occurrence aggregation and the join back, so it is
    * persisted behind the release contract (one shingling of the
    * corpus, not two).
    */
  def noveltyStatsPlan(docs: DataFrame): DedupPlan = {
    import org.apache.spark.storage.StorageLevel
    val sh = Dedup.shingleDf(docs).persist(StorageLevel.MEMORY_AND_DISK_SER)
    val first = sh.groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
    val out = sh.join(first, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("n_novel * 1000000 DIV n_shingles").as("novelty_ppm"))
    DedupPlan(out, "novelty", Seq(sh))
  }

  /** Zipf rank–frequency audit — natural text keeps rank·frequency
    * roughly constant over the head of the vocabulary; generated,
    * templated, or truncated corpora bend that curve, making this a
    * one-glance "does this read like language" screen next to the
    * per-doc quality stack. Output per head token: rank, count, and
    * the exact integer rank·count product (the constant under Zipf).
    *
    * Cost: the [[graft.operators.Sampling.heavyHitters]] aggregation
    * (map-side combine, TakeOrdered top-k) plus one window over the
    * ALREADY-LIMITED k rows — the single-partition window is over k
    * rows by construction, never the corpus.
    */
  def zipfProfile(docs: DataFrame, k: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("n").desc, col("token"))
    Sampling.heavyHitters(docs, k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("token"), col("n"),
        (col("rank") * col("n")).as("rank_x_n"))
  }

  /** Corpus bigram language-model quality score — the CCNet/KenLM
    * perplexity-filter step re-expressed engine-exact: the corpus
    * itself is the LM (bigram maximum likelihood), and each document
    * is scored by the MEAN CONDITIONAL BIGRAM PROBABILITY of its token
    * stream, in exact integer ppm:
    *
    *   p_ppm(w2|w1) = c(w1,w2) · 10⁶ div c(w1 ·)
    *   lm_score_ppm = (Σ p_ppm over the doc's bigrams) div n_bigrams
    *
    * True perplexity is a geometric mean — a log-sum through libm
    * `ln()`, whose last-bit rounding diverges across engines. The
    * arithmetic mean of conditionals carries the same FILTERING
    * signal (templated/boilerplate text scores high because its
    * transitions dominate the corpus; garbled or out-of-domain text
    * scores near the ppm floor; a pipeline thresholds the tails
    * exactly as it would threshold perplexity) while every step stays
    * in exact integer arithmetic.
    *
    * Scale shape: bigrams are produced SHUFFLE-FREE inside the scan
    * (zip_with over two array slices — the [[bpePairCounts]] trick),
    * persisted once behind the returned [[DedupPlan]]'s release
    * contract (three references: both count grains + the score join);
    * the LM is two map-side-combinable counts at the bigram and
    * bigram-start grains, joined back BIGRAM-KEYED — the model is
    * never broadcast and never collected, so vocabulary size is
    * unbounded. Docs with <2 tokens surface with n_bigrams = 0 and
    * score 0, never silently dropped.
    */
  def lmScorePlan(docs: DataFrame): DedupPlan = {
    import org.apache.spark.storage.StorageLevel
    val bg = docs.select(col("doc_id"), toks.as("ts"))
      .select(col("doc_id"), explode(bigramStructs()).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val big = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val uni = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val perDoc = bg.join(big, Seq("w1", "w2")).join(uni, Seq("w1"))
      .select(col("doc_id"), expr("c12 * 1000000 DIV c1").as("p_ppm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_ppm")).as("sum_ppm"))
    val out = docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(expr("sum_ppm DIV n_bigrams"), lit(0L)).as("lm_score_ppm"))
    DedupPlan(out, "lm_score", Seq(bg))
  }

  /** Collocation mining — top-k bigrams by integer LIFT (association
    * strength), the complement of [[bpePairCounts]]'s raw frequency:
    * frequency surfaces "of the"; lift surfaces the pairs that occur
    * together far more than their parts predict — multiword terms,
    * named entities, domain phrases. The signal a tokenizer-budget or
    * phrase-vocabulary decision actually wants.
    *
    *   lift_ppm = c(w1,w2) · N_bigrams · 10⁶ div (c(w1 ·) · c(· w2))
    *
    * (the PMI argument in exact integers — log is monotone, so the
    * RANKING is PMI's, with zero libm exposure). `minCount` suppresses
    * the hapax-pair noise floor that dominates raw PMI. Products are
    * widened to DECIMAL(38,0) before the div: c·N·10⁶ overflows BIGINT
    * at real corpus scale (the keySkew lesson).
    *
    * Scale shape: same bigram pass as [[lmScorePlan]] (shuffle-free
    * in-scan pair construction), counts at three tiny grains, two
    * keyed joins, TakeOrdered top-k — nothing broadcast, nothing
    * collected beyond k rows.
    */
  def collocations(docs: DataFrame, k: Int = 25, minCount: Long = 5L): DataFrame = {
    require(k > 0 && minCount >= 1, "need k > 0, minCount >= 1")
    val bg = docs.select(toks.as("ts"))
      .select(explode(bigramStructs()).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val big = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .where(col("c12") >= minCount)
    val left = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val right = bg.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
    val total = bg.agg(count(lit(1)).as("n_bg"))
    big.join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"),
        expr("CAST(c12 AS DECIMAL(38,0)) * n_bg * 1000000" +
          " DIV (CAST(c1 AS DECIMAL(38,0)) * c2)").cast("long").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Unicode canonicalization of a text column (NFC | NFD | NFKC |
    * NFKD) via the native [[graft.functions.UnicodeNormalize]]
    * expression. Run this FIRST in any curation pipeline: every
    * hash-based operator downstream (exact dedup, MinHash shingles,
    * fingerprints, decontamination n-grams) treats `e`+U+0301 and
    * precomposed `é` as distinct documents until codepoints are
    * canonical. Zero shuffles — a codegen'd projection; the kernel
    * returns already-normalized rows without copying, so an
    * ASCII-dominant corpus pays one linear validation scan per row.
    */
  def normalizeText(docs: DataFrame, textCol: String = "text",
      form: String = "NFC"): DataFrame =
    docs.withColumn(textCol,
      graft.functions.UnicodeNormalize(col(textCol), form))

  /** Train once, gate many: the seven `ta_bpe_*` gates exercise one
    * 5-merge trained table; the trained table and its vocab are pure
    * driver-side data (≤100 merge rows, top-50 piece strings) over an
    * immutable input directory, so they memoize by `dir` exactly like
    * a production tokenizer build publishes ONE merges.txt artifact
    * that every downstream encode job loads. MEASUREMENT HONESTY
    * (r16 verdict): the memo must never hide training cost from the
    * bench — so (a) the `ta_bpe_train` gate always trains fresh
    * ([[freshTrainedTable]], memo write-only), and (b) `Bench` clears
    * the memo at every query boundary via [[clearBpeMemo]], so a
    * query's timed reps never ride an artifact built by a different
    * query; each encode gate's own untimed warm rep rebuilds it.
    * `ta_bpe_train_sampled` trains on a different input (the fixed-k
    * sample) and stays un-memoized.
    */
  private val bpeTrainMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int),
      Seq[(Long, String, String, Long)]]()
  private val bpeVocabMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[String]]()

  private def trainedTable(s: SparkSession, dir: String,
      merges: Int = 5): Seq[(Long, String, String, Long)] =
    bpeTrainMemo.computeIfAbsent((dir, merges), _ => runTrain(s, dir, merges))

  private def runTrain(s: SparkSession, dir: String,
      merges: Int): Seq[(Long, String, String, Long)] =
    bpeTrain(table(s, dir, "documents"), merges).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toIndexedSeq

  /** The TRAIN gate's path: ALWAYS trains from the parquet input (the
    * memo is never read), then refreshes the shared artifact the
    * encode/decode gates load — a gate named `ta_bpe_train` must time
    * a real train on every invocation, exactly like the production
    * train job that publishes merges.txt pays the full training cost
    * each time it runs. The bench additionally drops the memo at
    * every query boundary ([[clearBpeMemo]] from `Bench`), so no
    * query's timed reps ride an artifact built by a DIFFERENT query —
    * each encode/decode gate's own untimed warm rep rebuilds it, the
    * same one-time-cost class (plan analysis, codegen) the warm rep
    * exists to absorb.
    */
  private def freshTrainedTable(s: SparkSession, dir: String,
      merges: Int = 5): Seq[(Long, String, String, Long)] = {
    val t = runTrain(s, dir, merges)
    bpeTrainMemo.put((dir, merges), t)
    t
  }

  private def trainedMerges(s: SparkSession, dir: String,
      merges: Int = 5): Seq[(String, String)] =
    trainedTable(s, dir, merges).map(t => (t._2, t._3))

  private def trainedVocab(s: SparkSession, dir: String,
      merges: Int = 5): Seq[String] =
    bpeVocabMemo.computeIfAbsent((dir, merges), _ =>
      bpeVocab(table(s, dir, "documents"), trainedMerges(s, dir, merges))
        .orderBy("vocab_id").collect().map(_.getString(1)).toIndexedSeq)

  /** Test seam: drop the memoized artifacts (e.g. to assert the memo
    * reproduces a fresh train bit-for-bit). */
  private[graft] def clearBpeMemo(): Unit = {
    bpeTrainMemo.clear(); bpeVocabMemo.clear()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the gate appends a decomposed suffix (combining acute/diaeresis)
    // so normalization provably changes bytes AND length on every row
    "ta_normalize" -> ((s, dir) =>
      normalizeText(
        table(s, dir, "documents")
          .select(col("doc_id"),
            concat(col("text"), lit(" cafe\u0301 nai\u0308ve")).as("raw"),
            concat(col("text"), lit(" cafe\u0301 nai\u0308ve")).as("text")),
        textCol = "text", form = "NFC")
        .select(
          col("doc_id"),
          length(col("raw")).cast("long").as("n_chars_raw"),
          length(col("text")).cast("long").as("n_chars_nfc"),
          col("text").as("text_nfc"))
        .orderBy("doc_id")),
    "ta_lm_score" -> ((s, dir) =>
      lmScorePlan(table(s, dir, "documents")).df.orderBy("doc_id")),
    "ta_collocations" -> ((s, dir) =>
      collocations(table(s, dir, "documents"))),
    "ta_zipf" -> ((s, dir) =>
      zipfProfile(table(s, dir, "documents")).orderBy("rank")),
    "ta_novelty" -> ((s, dir) =>
      noveltyStats(table(s, dir, "documents")).orderBy("doc_id")),
    "ta_bpe_pairs" -> ((s, dir) =>
      bpePairCounts(table(s, dir, "documents"))),
    // 5-round BPE vocabulary training: ALWAYS trains from the corpus
    // (never reads the memo — a train gate must time a real train),
    // then publishes the artifact the encode-family gates load
    "ta_bpe_train" -> ((s, dir) => {
      import s.implicits._
      freshTrainedTable(s, dir).toDF("rank", "left_tok", "right_tok", "n")
        .orderBy("rank")
    }),
    // the SCALE path: the same 5-round loop over a FIXED-SIZE hash
    // sample ([[Sampling.fixedK]]) — pair statistics converge long
    // before corpus scale, so production tokenizer builds train on a
    // bounded sample; every round's cost is then O(k), independent of
    // corpus size. The oracle replays the sample rule verbatim.
    "ta_bpe_train_sampled" -> ((s, dir) =>
      bpeTrain(Sampling.fixedK(
        table(s, dir, "documents"), col("doc_id"), 200, "bpe"), 5)
        .orderBy("rank")),
    // the bpe_annotate pipeline step's default arm on the trained
    // table: per-doc token and piece counts plus the merged-piece
    // fraction, one projection with the pieces computed once
    "ta_bpe_encode" -> ((s, dir) =>
      bpeAnnotate(table(s, dir, "documents"), trainedMerges(s, dir))
        .select("doc_id", "n_tokens", "n_pieces", "merged_frac")
        .orderBy("doc_id")),
    // apply the learned merges: per-doc piece counts before/after
    "ta_bpe_encode_native" -> ((s, dir) =>
      bpeEncodeNative(table(s, dir, "documents"), trainedMerges(s, dir))
        .orderBy("doc_id")),
    // the training-input artifact: encode every doc to vocabulary ids
    // through the trained table + its top-50 vocab (OOV = -1) — the
    // exact id sequence is part of the gate
    "ta_bpe_encode_ids" -> ((s, dir) =>
      bpeEncodeIdsReport(table(s, dir, "documents"),
        trainedMerges(s, dir), trainedVocab(s, dir)).orderBy("doc_id")),
    // the decode round-trip closing the chain: ids back to text, OOV
    // as <unk>, losslessness against the normalized source asserted
    // per document — the exact decoded text is part of the gate
    "ta_bpe_decode" -> ((s, dir) =>
      bpeRoundTrip(table(s, dir, "documents"),
        trainedMerges(s, dir), trainedVocab(s, dir)).orderBy("doc_id")),
    // the vocabulary export on the same trained table: top-50 pieces
    // of the encoded corpus with stable ids — merges.txt's sibling
    "ta_bpe_vocab" -> ((s, dir) =>
      bpeVocab(table(s, dir, "documents"), trainedMerges(s, dir))
        .orderBy("vocab_id")),
    // vocab coverage on the same trained table: merged-piece fraction
    // per doc — the OOV/coverage report beside the compression ratio
    "ta_bpe_coverage" -> ((s, dir) =>
      bpeCoverage(table(s, dir, "documents"), trainedMerges(s, dir))
        .orderBy("doc_id")),
    // the classic min-rank-first encode loop over the hand-built
    // EXTERNAL-style table (cascades + self-pair) — the semantics an
    // HF-style merges.txt assumes; oracle replays it one merge at a
    // time via recursive string surgery
    "ta_bpe_encode_minrank" -> ((s, dir) =>
      bpeEncodeMinRank(table(s, dir, "documents"), MinRankGateMerges)
        .orderBy("doc_id")),
    "ta_tfidf" -> ((s, dir) =>
      tfidfTop(table(s, dir, "documents"), k = 3).orderBy("doc_id", "rank")),
    "ta_chunk" -> ((s, dir) =>
      chunk(table(s, dir, "documents")).orderBy("doc_id", "chunk_idx")),
    "ta_search" -> ((s, dir) =>
      lexicalTopK(table(s, dir, "documents")).orderBy("query_id", "rank")),
    // the idf-floor twin: stopword-grade posting lists pruned at the
    // term grain before any candidate materializes (floor 1.25M —
    // the gate corpus' vocabulary is deliberately common-heavy, so
    // the floor sits where it provably changes scores on every sf)
    "ta_search_pruned" -> ((s, dir) =>
      lexicalTopKPruned(table(s, dir, "documents"), minIdfPpm = 1250000L)
        .orderBy("query_id", "rank")),
    "ta_commonness" -> ((s, dir) =>
      commonness(table(s, dir, "documents")).orderBy("doc_id")),
    "ta_tokens" -> ((s, dir) => tokenStats(table(s, dir, "documents")).orderBy("doc_id")),
    "ta_quality" -> ((s, dir) => qualityScores(table(s, dir, "documents")).orderBy("doc_id")),
    "ta_readability" -> ((s, dir) =>
      readability(table(s, dir, "documents")).orderBy("doc_id")),
    "ta_langid" -> ((s, dir) => langId(table(s, dir, "documents")).orderBy("doc_id")),
    "ta_fingerprint" -> ((s, dir) => fingerprints(table(s, dir, "documents")).orderBy("doc_id")),
    "ta_repetition" -> ((s, dir) => repetitionStats(table(s, dir, "documents")).orderBy("doc_id")),
    "ta_diversity" -> ((s, dir) => diversityStats(table(s, dir, "documents")).orderBy("doc_id")),
  )

  private val toksSql = "string_split_regex(trim(text), ' +')"

  /** The BPE CTE chain shared by the train and encode oracles: round r
    * re-tokenizes round r−1's representation, counts pairs, picks the
    * (n DESC, w1, w2) argmax, and applies the bar-wrapped literal
    * replace — the exact loop [[bpeTrain]] runs, DuckDB's `replace`
    * having the same leftmost non-overlapping semantics as Spark's.
    */
  private def bpeCtes(k: Int, source: String = "documents"): String = {
    val sb = new StringBuilder
    sb ++= ("WITH d0 AS (SELECT doc_id, '|' || array_to_string(" +
      "string_split_regex(trim(translate(text, '|' || chr(31), '')), ' +')," +
      s" '||') || '|' AS rep FROM $source)")
    (1 to k).foreach { r =>
      sb ++= s""",
         |t$r AS (SELECT string_split(trim(rep, '|'), '||') AS ts FROM d${r - 1}),
         |p$r AS (SELECT ts[i] AS w1, ts[i+1] AS w2, COUNT(*) AS n
         |  FROM t$r, UNNEST(range(1, len(ts))) AS u$r(i) GROUP BY 1, 2),
         |m$r AS (SELECT w1, w2, n FROM p$r ORDER BY n DESC, w1, w2 LIMIT 1),
         |d$r AS (SELECT doc_id,
         |  replace(rep, '|' || w1 || '||' || w2 || '|',
         |          '|' || w1 || chr(31) || w2 || '|') AS rep
         |  FROM d${r - 1} CROSS JOIN m$r)""".stripMargin
    }
    sb.toString
  }

  /** The gate's external table as a VALUES list for the min-rank
    * oracle.
    */
  private def minRankValues: String = MinRankGateMerges.zipWithIndex
    .map { case ((l, r), i) => s"(${i + 1}, '$l', '$r')" }.mkString(", ")

  def oracles: Map[String, String] = Map(
    // classic BPE replayed ONE MERGE AT A TIME: each recursion step
    // finds the doc's min-rank applicable pair and splices its
    // LEFTMOST occurrence via string surgery (substr around strpos —
    // DuckDB's replace() hits all occurrences, which is the pass
    // semantics, not this one). Reps shrink strictly, so recursion
    // terminates; a doc's final row is the one no merge applies to.
    "ta_bpe_encode_minrank" ->
      s"""WITH RECURSIVE m(rank, l, r) AS (VALUES $minRankValues),
         |d0 AS (SELECT doc_id, '|' || array_to_string(
         |  string_split_regex(trim(translate(text, '|' || chr(31), '')), ' +'),
         |  '||') || '|' AS rep FROM documents),
         |enc AS (
         |  SELECT doc_id, rep FROM d0
         |  UNION ALL
         |  SELECT doc_id,
         |    substr(rep, 1, p - 1) || '|' || l || r || '|' ||
         |      substr(rep, p + 4 + len(l) + len(r))
         |  FROM (
         |    SELECT t.doc_id, t.rep, m.l, m.r,
         |      strpos(t.rep, '|' || m.l || '||' || m.r || '|') AS p
         |    FROM (
         |      SELECT e.doc_id, e.rep,
         |        (SELECT min(rank) FROM m
         |          WHERE strpos(e.rep, '|' || m.l || '||' || m.r || '|') > 0) AS br
         |      FROM enc e) t
         |    JOIN m ON m.rank = t.br)),
         |fin AS (SELECT doc_id, rep FROM enc e
         |  WHERE NOT EXISTS (SELECT 1 FROM m
         |    WHERE strpos(e.rep, '|' || m.l || '||' || m.r || '|') > 0))
         |SELECT f.doc_id,
         | CAST(len(string_split(trim(d0.rep, '|'), '||')) AS BIGINT) AS n_tokens,
         | CAST(len(string_split(trim(f.rep, '|'), '||')) AS BIGINT) AS n_pieces,
         | replace(trim(f.rep, '|'), '||', ' ') AS pieces_str
         |FROM fin f JOIN d0 USING (doc_id) ORDER BY doc_id""".stripMargin,
    "ta_bpe_train" -> (bpeCtes(5) + "\n" +
      (1 to 5).map(r =>
        s"SELECT CAST($r AS BIGINT) AS rank, w1 AS left_tok, " +
          s"w2 AS right_tok, CAST(n AS BIGINT) AS n FROM m$r")
        .mkString("\nUNION ALL\n") + "\nORDER BY rank"),
    "ta_bpe_train_sampled" -> (bpeCtes(5,
      "(SELECT doc_id, text FROM (SELECT doc_id, text, " +
        "md5('bpe|' || CAST(doc_id AS VARCHAR)) AS h FROM documents " +
        "ORDER BY h LIMIT 200))") + "\n" +
      (1 to 5).map(r =>
        s"SELECT CAST($r AS BIGINT) AS rank, w1 AS left_tok, " +
          s"w2 AS right_tok, CAST(n AS BIGINT) AS n FROM m$r")
        .mkString("\nUNION ALL\n") + "\nORDER BY rank"),
    // annotation replay: the encode replay's token and piece counts,
    // and the coverage replay's merged pieces (chr(31)) over all pieces
    "ta_bpe_encode" -> (bpeCtes(5) +
      """,
        |pc AS (SELECT doc_id,
        |  string_split(trim(rep, '|'), '||') AS ps FROM d5)
        |SELECT pc.doc_id,
        | CAST(len(string_split(trim(d0.rep, '|'), '||')) AS BIGINT) AS n_tokens,
        | CAST(len(ps) AS BIGINT) AS n_pieces,
        | CAST(len(list_filter(ps, x -> contains(x, chr(31)))) AS DOUBLE)
        |   / len(ps) AS merged_frac
        |FROM pc JOIN d0 USING (doc_id) ORDER BY doc_id""".stripMargin),
    // id-encoding replay: the k-round rep's pieces with position,
    // mapped through the top-50 vocab (left join, OOV -> -1), the id
    // sequence reassembled in piece order
    "ta_bpe_encode_ids" -> (bpeCtes(5) +
      """,
        |pc AS (SELECT unnest(string_split(trim(rep, '|'), '||')) AS piece
        |  FROM d5),
        |vc AS (SELECT piece, COUNT(*) AS n FROM pc GROUP BY 1
        |  ORDER BY n DESC, piece LIMIT 50),
        |vid AS (SELECT piece,
        |  row_number() OVER (ORDER BY n DESC, piece) - 1 AS vocab_id FROM vc),
        |dp AS (SELECT doc_id, ps[i] AS piece, i AS pos
        |  FROM (SELECT doc_id, string_split(trim(rep, '|'), '||') AS ps FROM d5),
        |       UNNEST(range(1, len(ps) + 1)) AS u(i)),
        |mapped AS (SELECT dp.doc_id, dp.pos, COALESCE(vid.vocab_id, -1) AS id
        |  FROM dp LEFT JOIN vid USING (piece))
        |SELECT doc_id,
        | CAST(COUNT(*) AS BIGINT) AS n_pieces,
        | CAST(SUM(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        | array_to_string(list(id ORDER BY pos), ' ') AS ids_str
        |FROM mapped GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // decode replay: the id-mapped pieces rendered back to text —
    // in-vocab pieces unfold chr(31) to spaces, OOV renders <unk>,
    // order by position; lossless = equality vs the normalized source
    "ta_bpe_decode" -> (bpeCtes(5) +
      """,
        |pc AS (SELECT unnest(string_split(trim(rep, '|'), '||')) AS piece
        |  FROM d5),
        |vc AS (SELECT piece, COUNT(*) AS n FROM pc GROUP BY 1
        |  ORDER BY n DESC, piece LIMIT 50),
        |vid AS (SELECT piece,
        |  row_number() OVER (ORDER BY n DESC, piece) - 1 AS vocab_id FROM vc),
        |dp AS (SELECT doc_id, ps[i] AS piece, i AS pos
        |  FROM (SELECT doc_id, string_split(trim(rep, '|'), '||') AS ps FROM d5),
        |       UNNEST(range(1, len(ps) + 1)) AS u(i)),
        |px AS (SELECT dp.doc_id, dp.pos,
        |  CASE WHEN vid.vocab_id IS NULL THEN '<unk>'
        |       ELSE replace(dp.piece, chr(31), ' ') END AS piece_out,
        |  CASE WHEN vid.vocab_id IS NULL THEN 1 ELSE 0 END AS unk
        |  FROM dp LEFT JOIN vid USING (piece)),
        |dec AS (SELECT doc_id,
        |  array_to_string(list(piece_out ORDER BY pos), ' ') AS text_decoded,
        |  CAST(SUM(unk) AS BIGINT) AS n_unk
        |  FROM px GROUP BY doc_id)
        |SELECT d.doc_id, d.text_decoded, d.n_unk,
        | d.text_decoded = regexp_replace(trim(doc.text), ' +', ' ', 'g')
        |   AS lossless
        |FROM dec d JOIN documents doc ON d.doc_id = doc.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // vocab replay: pieces from the k-round rep, top-50 by (n desc,
    // piece), ids = rank over the limited set
    "ta_bpe_vocab" -> (bpeCtes(5) +
      """,
        |pc AS (SELECT unnest(string_split(trim(rep, '|'), '||')) AS piece
        |  FROM d5),
        |vc AS (SELECT piece, COUNT(*) AS n FROM pc GROUP BY 1
        |  ORDER BY n DESC, piece LIMIT 50)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, piece) - 1 AS BIGINT)
        |   AS vocab_id,
        | piece, CAST(n AS BIGINT) AS n, contains(piece, chr(31)) AS is_merged
        |FROM vc ORDER BY vocab_id""".stripMargin),
    // coverage replay: pieces from the k-round rep, merged = contains
    // chr(31)
    "ta_bpe_coverage" -> (bpeCtes(5) +
      """,
        |pc AS (SELECT doc_id,
        |  string_split(trim(rep, '|'), '||') AS ps FROM d5)
        |SELECT doc_id,
        | CAST(len(ps) AS BIGINT) AS n_pieces,
        | CAST(len(list_filter(ps, x -> contains(x, chr(31)))) AS BIGINT)
        |   AS n_merged_pieces,
        | CAST(len(list_filter(ps, x -> contains(x, chr(31)))) AS DOUBLE)
        |   / len(ps) AS merged_frac
        |FROM pc ORDER BY doc_id""".stripMargin),
    // the replace chain replayed: the native kernel must reproduce it
    // bit-for-bit
    "ta_bpe_encode_native" -> (bpeCtes(5) +
      """
        |SELECT dk.doc_id,
        | CAST(len(string_split(trim(d0.rep, '|'), '||')) AS BIGINT) AS n_tokens,
        | CAST(len(string_split(trim(dk.rep, '|'), '||')) AS BIGINT) AS n_pieces
        |FROM d5 dk JOIN d0 USING (doc_id) ORDER BY doc_id""".stripMargin),
    // NFC normalization: chr(769)/chr(776) are the combining acute /
    // diaeresis the Spark gate appends as ́/̈
    "ta_normalize" ->
      """WITH t AS (SELECT doc_id,
        |  text || ' cafe' || chr(769) || ' nai' || chr(776) || 've' AS raw
        |  FROM documents)
        |SELECT doc_id,
        | CAST(length(raw) AS BIGINT) AS n_chars_raw,
        | CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_chars_nfc,
        | nfc_normalize(raw) AS text_nfc
        |FROM t ORDER BY doc_id""".stripMargin,
    // bigram LM: the conditional-ppm mean; bigrams via 1-based list
    // indexing over range(1, len) — exactly Spark's slice/zip_with pairs
    "ta_lm_score" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS ts FROM documents),
         |bg AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
         |  FROM t, UNNEST(range(1, len(ts))) AS r(i)),
         |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
         |uni AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
         |sc AS (SELECT doc_id, (c12 * 1000000) // c1 AS p_ppm
         |  FROM bg JOIN big USING (w1, w2) JOIN uni USING (w1)),
         |d AS (SELECT doc_id, COUNT(*) AS nb, SUM(p_ppm) AS sp
         |  FROM sc GROUP BY 1)
         |SELECT doc.doc_id,
         | CAST(COALESCE(d.nb, 0) AS BIGINT) AS n_bigrams,
         | CAST(COALESCE(d.sp // d.nb, 0) AS BIGINT) AS lm_score_ppm
         |FROM documents doc LEFT JOIN d USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // integer-lift collocations; HUGEINT products mirror Spark's
    // DECIMAL(38,0) widening (BIGINT c12*n_bg*1e6 wraps at corpus scale)
    "ta_collocations" ->
      s"""WITH t AS (SELECT $toksSql AS ts FROM documents),
         |bg AS (SELECT ts[i] AS w1, ts[i+1] AS w2
         |  FROM t, UNNEST(range(1, len(ts))) AS r(i)),
         |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
         |l AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
         |r AS (SELECT w2, COUNT(*) AS c2 FROM bg GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_bg FROM bg)
         |SELECT w1, w2, c12,
         | CAST(CAST(c12 AS HUGEINT) * n_bg * 1000000
         |   // (CAST(c1 AS HUGEINT) * c2) AS BIGINT) AS lift_ppm
         |FROM big JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n
         |ORDER BY lift_ppm DESC, w1, w2 LIMIT 25""".stripMargin,
    "ta_zipf" ->
      """WITH h AS (SELECT token, COUNT(*) AS n
        |  FROM (SELECT unnest(string_split_regex(trim(text), ' +')) AS token
        |        FROM documents)
        |  GROUP BY token ORDER BY n DESC, token LIMIT 30),
        |r AS (SELECT token, n,
        |  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
        | FROM h)
        |SELECT rank, token, n, rank * n AS rank_x_n
        |FROM r ORDER BY rank""".stripMargin,
    "ta_novelty" ->
      s"""WITH sh AS (${Dedup.shingleSql}),
         |f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
         |SELECT s.doc_id, COUNT(*) AS n_shingles,
         | CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_novel,
         | CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
         |   * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
         |FROM sh s JOIN f USING (shingle)
         |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin,
    "ta_bpe_pairs" ->
      s"""WITH t AS (SELECT $toksSql AS ts FROM documents),
         |p AS (SELECT UNNEST(list_transform(range(1, len(ts)),
         |        i -> ts[i] || ' ' || ts[i+1])) AS pair FROM t)
         |SELECT pair, COUNT(*) AS n FROM p
         |GROUP BY pair ORDER BY n DESC, pair LIMIT 30""".stripMargin,
    "ta_search" ->
      s"""WITH tok_raw AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tok AS (SELECT DISTINCT doc_id, term FROM tok_raw),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |q AS (SELECT doc_id AS query_id, term FROM tok WHERE doc_id % 101 = 0),
         |sc AS (SELECT q.query_id, tok.doc_id,
         |   COUNT(*) AS n_shared,
         |   SUM((n.n_docs * 1000000) // dfreq.df) AS score
         |  FROM q JOIN tok USING (term) JOIN dfreq USING (term) CROSS JOIN n
         |  WHERE tok.doc_id <> q.query_id
         |  GROUP BY q.query_id, tok.doc_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, n_shared DESC, doc_id) AS rank FROM sc)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
         | CAST(n_shared AS BIGINT) AS n_shared, CAST(score AS BIGINT) AS score
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // identical chain with the idf floor replayed in the score join
    "ta_search_pruned" ->
      s"""WITH tok_raw AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tok AS (SELECT DISTINCT doc_id, term FROM tok_raw),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |q AS (SELECT doc_id AS query_id, term FROM tok WHERE doc_id % 101 = 0),
         |sc AS (SELECT q.query_id, tok.doc_id,
         |   COUNT(*) AS n_shared,
         |   SUM((n.n_docs * 1000000) // dfreq.df) AS score
         |  FROM q JOIN tok USING (term) JOIN dfreq USING (term) CROSS JOIN n
         |  WHERE tok.doc_id <> q.query_id
         |   AND (n.n_docs * 1000000) // dfreq.df >= 1250000
         |  GROUP BY q.query_id, tok.doc_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, n_shared DESC, doc_id) AS rank FROM sc)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
         | CAST(n_shared AS BIGINT) AS n_shared, CAST(score AS BIGINT) AS score
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "ta_chunk" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
         |s AS (SELECT doc_id, t,
         |  unnest(list_filter(generate_series(0, greatest(len(t) - 1, 0), 24),
         |    st -> st = 0 OR st + 8 < len(t))) AS st
         |  FROM t)
         |SELECT doc_id,
         | CAST(st // 24 AS BIGINT) AS chunk_idx,
         | CAST(st AS BIGINT) AS start_tok,
         | CAST(len(list_slice(t, st + 1, st + 32)) AS BIGINT) AS n_chunk_toks,
         | md5(array_to_string(list_slice(t, st + 1, st + 32), ' ')) AS chunk_md5
         |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
    "ta_commonness" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |dfreq AS (SELECT tok, COUNT(*) AS df
         |  FROM (SELECT DISTINCT doc_id, tok FROM tok) GROUP BY tok),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |p AS (SELECT doc_id, COUNT(*) AS n_tokens,
         |   CAST(SUM(df) AS BIGINT) AS sum_df,
         |   CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
         |  FROM tok JOIN dfreq USING (tok) GROUP BY doc_id)
         |SELECT doc_id, n_tokens, sum_df, n_hapax,
         | CAST(sum_df AS DOUBLE) / (n_tokens * n_docs) AS mean_df_ratio
         |FROM p CROSS JOIN n ORDER BY doc_id""".stripMargin,
    "ta_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |sc AS (SELECT doc_id, term, tf, df, CAST(tf * n.n AS DOUBLE) / df AS score
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS rank FROM sc)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
         | CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
         |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "ta_tokens" ->
      s"""SELECT doc_id,
         | CAST(len($toksSql) AS BIGINT) AS n_tokens,
         | CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe_pieces,
         | CAST(list_sum(list_transform($toksSql, t -> length(t))) AS BIGINT) AS sum_token_len,
         | CAST(list_sum(list_transform($toksSql, t -> length(t))) AS DOUBLE) / len($toksSql) AS avg_token_len
         |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_quality" ->
      s"""SELECT doc_id,
         | CAST(length(text) AS BIGINT) AS n_chars,
         | CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
         | CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) / length(text) AS space_ratio,
         | CAST(len(list_filter($toksSql, t -> t IN ('the','a','an','and','of','to','in','is'))) AS DOUBLE)
         |   / len($toksSql) AS stopword_ratio,
         | (len($toksSql) BETWEEN 10 AND 1000
         |   AND CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) > 0.6) AS passes_filter
         |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_readability" ->
      """WITH r AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentences,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
        |    AS n_syllables
        | FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        | CAST(n_words * 1000 // greatest(n_sentences, 1) AS BIGINT) AS wps_milli,
        | CAST(n_syllables * 1000 // greatest(n_words, 1) AS BIGINT) AS spw_milli,
        | CAST(206835
        |   - (1015 * (n_words * 1000 // greatest(n_sentences, 1))) // 1000
        |   - (84600 * (n_syllables * 1000 // greatest(n_words, 1))) // 1000
        |  AS BIGINT) AS flesch_milli
        |FROM r ORDER BY doc_id""".stripMargin,
    "ta_langid" ->
      s"""WITH h AS (SELECT doc_id,
         |  len(list_filter($toksSql, t -> t IN ('the','a','and','of','is'))) AS en_hits,
         |  len(list_filter($toksSql, t -> t IN ('le','la','et','les','des'))) AS fr_hits,
         |  len(list_filter($toksSql, t -> t IN ('der','die','und','das','ist'))) AS de_hits,
         |  len(list_filter($toksSql, t -> t IN ('el','la','y','los','de'))) AS es_hits
         | FROM documents)
         |SELECT doc_id,
         | CAST(en_hits AS BIGINT) AS en_hits, CAST(fr_hits AS BIGINT) AS fr_hits,
         | CAST(de_hits AS BIGINT) AS de_hits, CAST(es_hits AS BIGINT) AS es_hits,
         | CASE WHEN greatest(en_hits, fr_hits, de_hits, es_hits) = 0 THEN 'und'
         |      WHEN en_hits >= fr_hits AND en_hits >= de_hits AND en_hits >= es_hits THEN 'en'
         |      WHEN fr_hits >= de_hits AND fr_hits >= es_hits THEN 'fr'
         |      WHEN de_hits >= es_hits THEN 'de'
         |      ELSE 'es' END AS lang_pred
         |FROM h ORDER BY doc_id""".stripMargin,
    "ta_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS ts FROM documents)
         |SELECT doc_id,
         | md5(array_to_string(ts, ' ')) AS norm_hash,
         | CASE WHEN len(ts) >= 3
         |      THEN list_min(list_transform(range(1, len(ts)-1),
         |             i -> md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])))
         |      ELSE md5(array_to_string(ts, ' ')) END AS min_shingle_hash
         |FROM t ORDER BY doc_id""".stripMargin,
    "ta_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS ts FROM documents),
         |m AS (SELECT doc_id, ts,
         |  list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]) AS bg
         | FROM t),
         |r AS (SELECT doc_id,
         |  CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(ts)) AS DOUBLE) / CAST(len(ts) AS DOUBLE) AS distinct_ratio,
         |  CASE WHEN len(ts) > 0 THEN
         |    CAST(list_max(list_transform(list_distinct(ts),
         |      t -> len(list_filter(ts, x -> x = t)))) AS DOUBLE) / CAST(len(ts) AS DOUBLE)
         |   ELSE 0.0 END AS top_token_frac,
         |  CASE WHEN len(ts) - 1 > 0 THEN
         |    CAST(list_max(list_transform(list_distinct(bg),
         |      t -> len(list_filter(bg, x -> x = t)))) AS DOUBLE) / CAST(len(ts) - 1 AS DOUBLE)
         |   ELSE 0.0 END AS top_bigram_frac
         | FROM m)
         |SELECT doc_id, n_tokens, distinct_ratio, top_token_frac, top_bigram_frac,
         | (distinct_ratio >= 0.4 AND top_token_frac <= 0.12 AND top_bigram_frac <= 0.08)
         |   AS passes_repetition
         |FROM r ORDER BY doc_id""".stripMargin,
    "ta_diversity" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS ts FROM documents),
         |c AS (SELECT doc_id, len(ts) AS n, len(list_distinct(ts)) AS n_types,
         |  list_sum(list_transform(list_distinct(ts),
         |    u -> len(list_filter(ts, x -> x = u)) * len(list_filter(ts, x -> x = u)))) AS sumsq
         | FROM t)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(n_types AS BIGINT) AS n_types,
         | 1.0 - CAST(sumsq AS DOUBLE) / (n * n) AS gini_simpson,
         | CAST(n * n AS DOUBLE) / sumsq AS effective_types
         |FROM c ORDER BY doc_id""".stripMargin,
  )
}
