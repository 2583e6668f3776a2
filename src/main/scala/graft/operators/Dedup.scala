package graft.operators

import graft.GraftSession.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines —
  * beyond the reference's surface (its only dedup-adjacent op is the
  * driver-side set diff, /root/reference/main.py:116-137), but the
  * natural extension of its bag-equality machinery.
  *
  * All hash functions are md5-derived so every operator has an exact
  * cross-engine oracle (no engine-private hash seeds).
  *
  * Scale design notes (100 TB):
  *   - exact dedup: single hash-shuffle on the content digest; map-side
  *     partial aggregation collapses duplicates before the exchange.
  *   - shingle self-joins: candidate generation joins on the shingle —
  *     hot shingles skew the shuffle, so they take a salted join while
  *     the cold bulk takes a merge join; `maxDocFreq` drops
  *     stop-shingles (a shingle in >N docs contributes only
  *     low-jaccard pairs). MinHash-LSH is the scale path: signature
  *     size is constant per doc, and the band join touches only
  *     colliding buckets.
  *   - embedding near-dup: quantized int64 dot products — exact,
  *     order-independent, and cross-engine deterministic (no float
  *     accumulation-order hazard).
  */
/** A dedup plan plus ownership of the caches it retains (the
  * DiffReport.release pattern): `df` is the lazy result,
  * `strategy` names the operator's shape ("two-path" for the exact
  * jaccard join, "lsh-verified", "banded", …), and [[release]] drops the
  * serialized intermediate caches (shingle/fingerprint tables) so a
  * long-lived session running many dedup passes doesn't accumulate
  * executor storage. After release the plan still computes — it just
  * re-derives the intermediates from source.
  */
final case class DedupPlan(
    df: DataFrame,
    strategy: String,
    private val retained: Seq[DataFrame] = Nil,
    private val finalizers: Seq[() => Unit] = Nil) {
  def release(): Unit = {
    retained.foreach(_.unpersist(blocking = false))
    finalizers.foreach(_.apply()) // e.g. checkpoint-block release hooks
  }
}

object Dedup {

  /** Word 3-gram shingles, distinct per doc ([[Tokens.of]]'s tokens).
    * This table keeps its own `posexplode` over the tokens instead of
    * exploding [[Tokens.windows]]: the shingle text is built after the
    * explode, in whole-stage-generated code, and a prototype of both
    * forms measured the array-window one at 1.08 s against 0.76 s for
    * this one (sf0.1, `local[4]`, median of 7 alternating pairs).
    */
  private[operators] def shingleDf(docs: DataFrame): DataFrame = {
    val withToks = docs.select(col("doc_id"), Tokens.of(col("text")).as("ts"))
    withToks
      .select(col("doc_id"), col("ts"), posexplode(col("ts")).as(Seq("i", "t0")))
      .where(size(col("ts")) >= col("i") + 3)
      .select(col("doc_id"),
        concat_ws(" ", col("t0"),
          element_at(col("ts"), col("i") + 2),
          element_at(col("ts"), col("i") + 3)).as("shingle"))
      .distinct()
  }

  private val NumHashes = 8 // h0..h7 in minhashSignatures
  private val NumBands  = 4 // 4 bands × 2 rows

  /** md5-family hash i of a shingle. */
  private def mh(i: Int): Column = md5(concat_ws("|", lit(i), col("shingle")))

  /** Per-doc MinHash signature: h0..h7 = min over shingles of md5(i|s).
    * One pass over the exploded shingles; all 8 mins aggregate in the
    * same map-side-combinable groupBy.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    signaturesFromShingles(shingleDf(docs))

  /** Signatures from an ALREADY-COMPUTED shingle table — lets callers
    * that need both the shingles and the signatures (e.g.
    * [[lshVerifiedPairs]]) pay the tokenize/explode/distinct pass
    * once.
    */
  private def signaturesFromShingles(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(min(mh(0)).as("h0"), min(mh(1)).as("h1"), min(mh(2)).as("h2"),
        min(mh(3)).as("h3"), min(mh(4)).as("h4"), min(mh(5)).as("h5"),
        min(mh(6)).as("h6"), min(mh(7)).as("h7"))

  /** Per-row MinHash signature — the SHUFFLE-FREE form of
    * [[minhashSignatures]]: each document's shingle set is built as an
    * array column and all 8 mins are `array_min` over per-element md5
    * transforms, so the whole signature is one narrow projection. Same
    * values as the aggregated form (min over a multiset ignores the
    * distinct step; asserted in OperatorsSpec) — prefer this whenever
    * the shingle TABLE isn't needed by other consumers, and always on
    * a STREAM, where the aggregated form would demand watermarked
    * state for what is logically a stateless per-row function.
    * Documents with fewer than 3 tokens (no shingles) get NULL
    * signature columns — the aggregated form omits them entirely; both
    * yield no band keys downstream (md5 of NULL is NULL, and equi-joins
    * drop NULL keys).
    *
    * Output: the input columns plus h0..h7.
    */
  def minhashSignaturesNarrow(docs: DataFrame): DataFrame = {
    val ts = Tokens.of(col("text"))
    // the same 3-gram set shingleDf produces; a shorter doc has none
    val withSh = docs.withColumn("__sh", when(size(ts) >= 3, Tokens.windows(ts, 3, 1)))
    val hs = (0 until NumHashes).map { i =>
      array_min(transform(col("__sh"),
        s => md5(concat_ws("|", lit(i), s)))).as(s"h$i")
    }
    withSh.select(docs.columns.map(col) ++ hs: _*)
  }

  /** LSH band keys: band b = md5(h(2b) ‖ h(2b+1)). One explode pass
    * over the signature table — a per-band unionAll would read the
    * signature exchange NumBands times (and 2×NumBands once both
    * sides of the candidate self-join expand it). `keep` names extra
    * columns carried through (e.g. a stream's event-time column).
    */
  def lshBands(sig: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        md5(concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}"))).as("bkey"))
    }
    val keepCols = keep.map(col)
    sig.select(keepCols ++ Seq(col("doc_id"), explode(array(bandCols: _*)).as("b")): _*)
      .select(keepCols ++ Seq(col("doc_id"),
        col("b.band").as("band"), col("b.bkey").as("bkey")): _*)
  }

  /** Candidate pairs between NEW documents and an EXISTING corpus
    * signature index — the incremental-ingest shape: at 100 TB you
    * dedup an arriving batch against the corpus WITHOUT re-pairing the
    * corpus against itself. `index` is a minhash signature table
    * (doc_id, h0..h7) — in production loaded from a persisted snapshot
    * (the [[graft.diff.FingerprintStore]] pattern), so the corpus text
    * is never re-read; only the new batch is shingled. The band join is
    * new-vs-corpus only: cost O(Σ_bucket new·old), never corpus².
    */
  def incrementalCandidates(index: DataFrame, newDocs: DataFrame): DataFrame = {
    val corpus = lshBands(index)
      .select(col("band"), col("bkey"), col("doc_id").as("corpus_doc"))
    val fresh = lshBands(minhashSignatures(newDocs))
      .select(col("band"), col("bkey"), col("doc_id").as("new_doc"))
    fresh.join(corpus, Seq("band", "bkey"))
      .where(col("new_doc") =!= col("corpus_doc"))
      .select(col("new_doc"), col("corpus_doc"))
      .distinct()
  }

  /** Candidate pairs = docs sharing any band bucket. */
  def minhashCandidates(docs: DataFrame): DataFrame =
    bandPairs(lshBands(minhashSignatures(docs)))

  /** The MinHash band self-join over [[lshBands]] rows: each doc pair
    * sharing at least one (band, bkey) bucket, once, as doc_a < doc_b.
    */
  private def bandPairs(b: DataFrame): DataFrame =
    b.select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
      .join(b.select(col("band"), col("bkey"), col("doc_id").as("doc_b")), Seq("band", "bkey"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()

  /** Exact n-gram jaccard over pairs that share ≥1 shingle. The
    * returned plan's shingle cache lives until
    * `spark.catalog.clearCache()` or session end — long-lived sessions
    * should use [[jaccardPairsPlan]] and `release()`.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double,
      maxDocFreq: Option[Int] = None): DataFrame =
    jaccardPairsPlan(docs, threshold, maxDocFreq).df

  /** Document frequency above which a shingle leaves the merge join for
    * the salted one. 256 shared docs ⇒ ~65k candidate rows from one
    * shingle — well past one task's fair share, while far above any
    * healthy corpus's stop-shingle frequency (the test corpora peak at
    * df=25).
    */
  private val HotDocFreq = 256
  private val HotSalts = 8

  /** Managed form of [[jaccardPairs]]: the plan plus a release handle
    * for the retained shingle cache. The shingle table feeds the
    * per-doc sizes, the document-frequency table and both sides of the
    * self-join, so it is persisted: the tokenize/explode/distinct pass
    * runs once.
    *
    * `maxDocFreq = Some(f)`: drop shingles appearing in more than f
    * documents before the self-join — the stop-shingle bound. A
    * shingle in f docs contributes f² candidate pairs to the shuffle
    * while only ever supporting low-jaccard matches, so hot shingles
    * are both the skew hazard AND the least informative. NOTE: jaccard
    * is then computed over the FILTERED shingle sets (documented
    * approximation — the reason the unfiltered form remains the
    * exactness baseline). `None`: exact jaccard.
    *
    * Skew-safe on every corpus, with no probe job at plan construction:
    * shingles shared by more than 256 documents take the salted
    * [[Skew.saltedJoin]], the rest a pinned sort-merge join, split at
    * run time by the same per-shingle document-frequency aggregate that
    * applies `maxDocFreq`.
    */
  def jaccardPairsPlan(docs: DataFrame, threshold: Double,
      maxDocFreq: Option[Int] = None): DedupPlan = {
    // serialized storage: deserialized row caching of millions of
    // short strings is pure GC pressure
    val sh = shingleDf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val (common, sizes, keyCache) = coShingleCounts(sh, maxDocFreq)
    DedupPlan(jaccardAtLeast(common, sizes, threshold), "two-path", Seq(sh, keyCache))
  }

  /** Shared-shingle counts (doc_a, doc_b, c ≥ 1) of the exact shingle
    * self-join, the per-doc sizes (doc_id, n) over the same kept
    * shingles, and the cached key table the caller must release. One
    * per-shingle document-frequency aggregate serves both the
    * `maxDocFreq` drop and the hot/cold split:
    *   - shingles with df > `maxDocFreq` are dropped;
    *   - hot shingles (df > [[HotDocFreq]]) take [[Skew.saltedJoin]],
    *     so a shingle shared by f docs spreads its f² candidate work
    *     over [[HotSalts]] tasks instead of one;
    *   - every other shingle — the bulk of the volume in any real
    *     corpus — takes the pinned sort-merge join, with no
    *     replication tax.
    * Each shingle lands in exactly one stratum, so unioning the two
    * join outputs before the pair rollup reproduces the single-join
    * counts exactly. The split is a runtime filter, not a plan-time
    * decision: no action runs while the plan is built, and on a
    * healthy corpus the hot stratum is empty.
    *
    * The merge join is pinned because the shingle table's size
    * ESTIMATE comes from the small pre-explode parquet scan, so the
    * planner would otherwise broadcast the whole self-join side and
    * build its hashed relation on one thread (measured 20-80 s stalls
    * at sf0.1); at real scale a shingle table is never broadcastable.
    */
  private def coShingleCounts(sh: DataFrame,
      maxDocFreq: Option[Int]): (DataFrame, DataFrame, DataFrame) = {
    val cap = maxDocFreq.fold(Long.MaxValue)(_.toLong)
    // shingles that leave the cold merge join: dropped or hot. Cached:
    // up to three joins below read it, and the aggregate runs once. No
    // broadcast hint on those joins: the set is usually tiny but
    // corpus-dependent, so AQE picks broadcast vs shuffle from the
    // RUNTIME size instead of forcing an unbounded driver broadcast
    val special = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .where(col("df") > math.min(cap, HotDocFreq.toLong))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    def keys(cond: Column) = special.where(cond).select(col("shingle"))
    val kept =
      if (maxDocFreq.isEmpty) sh
      else sh.join(keys(col("df") > cap), Seq("shingle"), "left_anti")
    val hotSh = sh.join(keys(col("df") <= cap), Seq("shingle"), "left_semi")
    val coldSh = sh.join(special.select(col("shingle")), Seq("shingle"), "left_anti")
    val hotPairs = Skew.saltedJoin(
        hotSh.select(col("doc_id").as("ida"), col("shingle")),
        hotSh.select(col("doc_id").as("idb"), col("shingle").as("shingle_r")),
        "shingle", "shingle_r", HotSalts)
      .where(col("ida") < col("idb"))
      .select(col("ida"), col("idb"))
    val coldPairs = coldSh.as("a").hint("merge")
      .join(coldSh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
    val common = hotPairs.unionAll(coldPairs)
      .groupBy(col("ida").as("doc_a"), col("idb").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    (common, kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n")), special)
  }

  /** |S(a) ∩ S(b)| for each candidate pair (doc_a, doc_b): the pair
    * explodes by doc_a's shingles and matches doc_b's (doc, shingle)
    * rows — Σ_pairs |shingles| work, bounded by candidate count ×
    * document length. Output (doc_a, doc_b, c) for pairs with c ≥ 1.
    */
  private def candidateShingleCounts(cand: DataFrame, sh: DataFrame): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("c"))

  /** Exact jaccard c / (na + nb − c) of (doc_a, doc_b, c) rows, sizes
    * attached from (doc_id, n), kept at ≥ `threshold`: (doc_a, doc_b,
    * jaccard). Exact integers through one division — cross-engine
    * deterministic.
    */
  private def jaccardAtLeast(common: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame =
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("jaccard", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  private val Hex = "0123456789abcdef"

  /** SimHash over distinct word tokens at a caller-sized width: the
    * token's value is the first `bits/4` md5 hex digits (bits ≡ 0
    * mod 4, 16..60 — ≤ 60 keeps the fingerprint below the sign bit in
    * BOTH engines, so no sign-extension special cases anywhere). Bit
    * j of the value votes ±1; the sign of the vote sum sets the
    * fingerprint bit. All vote sums aggregate in ONE map-side-
    * combinable groupBy (no row explosion, no second shuffle — a
    * 16×-rows crossJoin formulation measured 6× slower).
    */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame = {
    require(bits >= 16 && bits <= 60 && bits % 4 == 0,
      s"bits must be a multiple of 4 in [16, 60], got $bits")
    simhashVote(distinctTokens(docs), bits, lit(1), "simhash")
  }

  /** Distinct (doc_id, tok) rows: the SimHash feature set. */
  private def distinctTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(Tokens.of(col("text"))).as("tok")).distinct()

  /** The SimHash vote over distinct (doc_id, tok) rows, shared by
    * [[simhash]] and [[simhashIdfPlan]]: bit j of the token's
    * `bits`-wide md5 value votes +`weight` or −`weight`, and a positive
    * per-doc vote sum sets fingerprint bit j. Output (doc_id, `out`).
    */
  private def simhashVote(toks: DataFrame, bits: Int, weight: Column,
      out: String): DataFrame = {
    val nd = bits / 4
    def digit(d: Int) = instr(lit(Hex), substring(md5(col("tok")), d + 1, 1)) - 1
    // an INT sum cast once while the value fits (≤ 7 digits: the 16-bit
    // form's own arithmetic), per-digit BIGINT products past that
    val h =
      if (nd <= 7) (0 until nd).map { d =>
        if (d == nd - 1) digit(d) else digit(d) * (1 << (4 * (nd - 1 - d)))
      }.reduce(_ + _).cast("long")
      else (0 until nd).map { d =>
        digit(d).cast("long") * lit(1L << (4 * (nd - 1 - d)))
      }.reduce(_ + _)
    val votes = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), bits - 1 - j) % 2 === 1, weight)
        .otherwise(-weight)).as(s"s$j")
    }
    val fingerprint = (0 until bits).map { j =>
      when(col(s"s$j") > 0, lit(1L << (bits - 1 - j))).otherwise(0L)
    }.reduce(_ + _)
    toks.withColumn("h", h)
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fingerprint.as(out))
  }

  /** SimHash near-dup pairs: hamming distance ≤ maxHamming.
    *
    * Two-level, never all-pairs:
    *
    *  1. Collapse to DISTINCT fingerprint values first — at most 2¹⁶
    *     of them regardless of corpus size, so every cost below is
    *     bounded by the fingerprint space, not by N. (Banding doc
    *     rows directly is a trap for a small fingerprint: simhash of
    *     same-distribution text is heavily skewed, so a 4-bit band
    *     bucket can hold a third of the corpus and the "banded" join
    *     quietly becomes all-pairs. Measured 3× slower than crossJoin
    *     at 5k docs; the distinct-value form is the one that scales.)
    *  2. Band the distinct values into maxHamming+1 disjoint bit
    *     ranges: by pigeonhole, two values within the hamming radius
    *     agree exactly on ≥1 band, so a (band, value) equi-join +
    *     bit_count post-filter finds every qualifying VALUE pair.
    *  3. Expand value pairs back to doc pairs by joining each side's
    *     doc group — equal values via one self-equi-join on simhash
    *     (hamming 0), unequal via the value-pair table. Each doc pair
    *     appears exactly once, and this stage's cost is proportional
    *     to the OUTPUT (the true near-dup pairs), which no correct
    *     algorithm can avoid.
    *
    * Cache ownership: the returned plan retains a serialized cache of
    * the simhash table (it feeds three branches). The cache lives until
    * `spark.catalog.clearCache()` or session end — long-lived sessions
    * should use [[simhashPairsPlan]] and `release()`.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    simhashPairsPlan(docs, maxHamming).df

  /** Managed form of [[simhashPairs]]: the plan plus a release handle
    * for the retained simhash cache (the DiffReport.release pattern).
    */
  def simhashPairsPlan(docs: DataFrame, maxHamming: Int): DedupPlan = {
    val Bits = 16
    require(maxHamming >= 0 && maxHamming < Bits,
      s"maxHamming must be in [0, ${Bits - 1}]")
    val sh = simhash(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val pairs = bandedFingerprintPairs(
      sh.select(col("doc_id"), col("simhash").as("fp")), Bits, maxHamming)
    DedupPlan(pairs, "banded", Seq(sh))
  }

  /** Smallest legal [[simhash]] width whose per-band bucket
    * occupancy stays at `occupancy` — the [[Similarity.autoBits]] rule
    * transplanted to hamming banding. The knob is the TOTAL width, not
    * the band width: pigeonhole exactness pins the band count at
    * maxHamming+1, so the only way to keep band buckets sparse as the
    * corpus grows is a wider fingerprint (each band then spans
    * bits/(maxHamming+1) bits → 2^(bits/nb) buckets; the rule takes
    * the smallest bits with occupancy·2^(bits/nb) ≥ n). The fixed
    * 16-bit form SATURATES: its distinct-value space is 2¹⁶, so the
    * banded value join grows quadratically until the whole space is
    * occupied — the 100× rehearsal measured it at 64× on 100× data,
    * the worst non-embedding ratio. Integer-exact and replayed
    * verbatim by the oracle (same floor-division, same shifts).
    */
  private[operators] def simhashAutoBits(n: Long, maxHamming: Int,
      occupancy: Long = 64L): Int = {
    val nb = maxHamming + 1
    (16 to 60 by 4).find(b => (occupancy << (b / nb)) >= n).getOrElse(60)
  }

  /** [[simhashPairs]] with the fingerprint width auto-sized from the
    * corpus count — the 100 TB form (see [[simhashAutoBits]]). One
    * driver-side COUNT picks the width; banding and pair expansion
    * reuse [[bandedFingerprintPairs]] unchanged (exact recall at any
    * width — the bands stay pigeonhole-disjoint). Note the SEMANTICS
    * move with the width: hamming radius 3 over a 48-bit fingerprint
    * is a tighter near-dup contract than over 16 bits — the scale
    * path trades looser-match recall for candidate sparsity exactly
    * like [[embeddingPairsLshAuto]] does, and exact duplicates match
    * at every width.
    */
  def simhashPairsAutoPlan(docs: DataFrame, maxHamming: Int): DedupPlan = {
    // validate BEFORE the distributed count: maxHamming = -1 would
    // otherwise die with a bare /-by-zero inside the width rule after
    // paying a full corpus scan
    require(maxHamming >= 0 && maxHamming < 16,
      "maxHamming must be in [0, 15] (the narrowest legal width)")
    val bits = simhashAutoBits(docs.count(), maxHamming)
    require(maxHamming < bits, s"maxHamming must be < $bits")
    val sh = simhash(docs, bits)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val pairs = bandedFingerprintPairs(
      sh.select(col("doc_id"), col("simhash").as("fp")), bits, maxHamming)
    DedupPlan(pairs, "banded_auto", Seq(sh))
  }

  /** IDF-weighted SimHash — the production form of [[simhash]]: each
    * distinct token votes ± its integer idf surrogate
    * (n_docs · 10⁶ div df — the repo's log-free idf) instead of ±1,
    * so fingerprint bits are set by a document's DISTINCTIVE
    * vocabulary rather than its stopwords. Two boilerplate pages
    * differing only in rare tokens stop colliding; two pages sharing
    * their rare tokens keep colliding — the weighting that makes
    * simhash usable on web text (Manku et al., WWW'07 §3 runs
    * idf-weighted features for exactly this reason; cf.
    * `/root/reference` which has no near-dup surface at all).
    *
    * Exactness: weights and vote sums are count-derived integers, so
    * every bit sign is engine-exact — no float accumulation anywhere.
    * Weight magnitude is ≤ n_docs·10⁶, so a doc's per-bit vote sum is
    * bounded by distinct-tokens · n_docs · 10⁶ — which EXCEEDS Long
    * around 10⁸–10⁹ docs for ordinary 10³–10⁴-token documents. The
    * accumulation therefore runs in DECIMAL(38,0) (headroom past
    * 10²⁰ docs), the same widening [[graft.operators.Profiler.keySkew]]
    * uses; DuckDB mirrors with its automatic HUGEINT sum.
    *
    * Scale shape: ONE distinct (doc, token) pass persisted behind the
    * release contract (it feeds df and the vote join), df at the
    * TOKEN grain with map-side combine, one token-keyed shuffle join
    * back (the df table is never broadcast — vocabulary unbounded),
    * then [[simhash]]'s own 16-bit vote, one map-side-combinable
    * groupBy. Pairing reuses `bandedFingerprintPairs`.
    */
  def simhashIdfPlan(docs: DataFrame): DedupPlan = {
    val toksD = distinctTokens(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val dfreq = toksD.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val weighted = toksD.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("w", expr("(n_docs * 1000000) DIV df"))
    val out = simhashVote(weighted, 16, col("w").cast("decimal(38,0)"), "simhash_idf")
    DedupPlan(out, "simhash_idf", Seq(toksD))
  }

  /** Banded hamming-distance pairs over an arbitrary fingerprint
    * column — the machinery behind [[simhashPairs]] (16-bit text
    * simhash) and [[Multimodal.imageNearDupPairs]] (64-bit image
    * dHash). `fp` has columns (doc_id, fp: long); output is
    * (doc_a, doc_b, hamming) with hamming ≤ maxHamming.
    *
    * Same two-level shape simhash documents: equal fingerprints pair
    * through one equi-join; unequal ones collapse to DISTINCT values,
    * band into maxHamming+1 disjoint bit ranges (pigeonhole: within
    * the radius ⇒ exact agreement on ≥1 band), equi-join per band,
    * then a bit_count post-filter — and value pairs expand back to doc
    * pairs output-proportionally.
    *
    * Band values are extracted with SHIFT+MASK, not `%`: for a
    * fingerprint with the sign bit set, `shiftright` sign-extends and
    * a remainder would depend on the sign, so two values agreeing on a
    * band's bits could band apart and a true near-pair would be MISSED
    * (sign-bit case asserted in OperatorsSpec). The mask is the bit
    * window regardless of sign.
    */
  private[operators] def bandedFingerprintPairs(
      fp: DataFrame, bits: Int, maxHamming: Int): DataFrame = {
    val nb = maxHamming + 1
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64]")
    require(nb >= 1 && nb <= bits, s"maxHamming must be in [0, ${bits - 1}]")

    // same-fingerprint doc pairs: one equi-join, hamming 0
    val same = fp.as("a")
      .join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(0L).as("hamming"))

    val pairs =
      if (maxHamming == 0) same
      else {
        // distinct fingerprint VALUES, banded into nb disjoint bit ranges
        val widths  = (0 until nb).map(i => bits / nb + (if (i < bits % nb) 1 else 0))
        val offsets = widths.scanLeft(0)(_ + _)
        val bandCols = (0 until nb).map { i =>
          // mask of widths(i) < 64 bits: maxHamming >= 1 means nb >= 2,
          // so widths(i) <= 33 and the shift below never overflows
          struct(lit(i).as("band"),
            shiftright(col("fp"), offsets(i))
              .bitwiseAND(lit((1L << widths(i)) - 1)).as("bval"))
        }
        val banded = fp.select(col("fp")).distinct()
          .select(col("fp"), explode(array(bandCols: _*)).as("b"))
          .select(col("fp"), col("b.band").as("band"), col("b.bval").as("bval"))
        val vp = banded.select(col("band"), col("bval"), col("fp").as("fa"))
          .join(banded.select(col("band"), col("bval"), col("fp").as("fb")),
            Seq("band", "bval"))
          .where(col("fa") < col("fb"))
          .withColumn("hamming", bit_count(col("fa").bitwiseXOR(col("fb"))))
          .where(col("hamming") <= maxHamming)
          .select(col("fa"), col("fb"), col("hamming").cast("long").as("hamming"))
          .distinct()
        // expand qualifying value pairs to doc pairs (output-proportional)
        val diff = vp
          .join(fp.select(col("doc_id").as("ida"), col("fp").as("fa")), Seq("fa"))
          .join(fp.select(col("doc_id").as("idb"), col("fp").as("fb")), Seq("fb"))
          .select(least(col("ida"), col("idb")).as("doc_a"),
            greatest(col("ida"), col("idb")).as("doc_b"), col("hamming"))
        same.unionAll(diff)
      }
    pairs.select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Quantized embedding: float → round(x·10⁴) as int64. Integer dot
    * products are exact and order-free — deterministic across engines.
    */
  def quantized(emb: DataFrame): DataFrame =
    // widen float→double BEFORE scaling: float-precision multiply
    // rounds differently than the oracle's double arithmetic
    emb.select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 10000).cast("long")).as("v"))

  // native codegen'd expression (see graft.functions.DotLong)
  private def dot(a: Column, b: Column): Column = graft.functions.DotLong(a, b)

  /** Embedding cosine near-dup pairs above `threshold`. Brute-force
    * pairwise — the correctness baseline; the LSH-bucketed scale path
    * lives in [[Similarity]].
    */
  def embeddingPairs(emb: DataFrame, threshold: Double): DataFrame = {
    // self-norms computed ONCE per vector, not per pair: the N² pair
    // stage then does a single dot product instead of three (the two
    // norm dots would otherwise dominate — measured 3× on the bench)
    val q = normed(emb)
    val l = q.select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na"))
    val r = q.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb"))
    cosineAtLeast(l.crossJoin(r).where(col("vec_a") < col("vec_b")), threshold)
  }

  /** Embedding cosine near-dup pairs via SRP-LSH — the SCALE path and
    * the gate default. Candidates are restricted to vector pairs
    * sharing a sign-random-projection bucket in at least one of
    * `Similarity.NumTables` tables (signatures in one narrow pass,
    * banded bucket self-join — O(Σ bucket²), never O(N²)), then ranked
    * by exact integer-quantized cosine and filtered at `threshold`.
    * Candidate recall vs [[embeddingPairs]] (the brute-force baseline,
    * kept as the test-suite cross-check) is the standard 1-(1-p^B)^T
    * SRP bound; the oracle replays the same literal plane matrix so
    * the candidate set is deterministic cross-engine.
    */
  def embeddingPairsLsh(emb: DataFrame, threshold: Double): DataFrame =
    scoredBucketPairs(Similarity.lshBuckets(normed(emb)), threshold)

  /** The attach-strategy rule for [[embeddingPairsLshAuto]], named so
    * it is unit-testable on its own: the vector payload table is
    * n × (8·dim + 24) bytes (8 B per quantized component + row
    * overhead), and only a table inside `budget` may be broadcast.
    */
  private[operators] def attachBroadcastable(n: Long, dim: Long,
      budget: Long = 128L << 20): Boolean =
    n * (8L * dim + 24L) <= budget

  /** [[embeddingPairsLsh]] with the bucket GRAIN auto-sized from the
    * corpus count — the 100 TB form. The fixed-4-bit gate form keeps
    * Σ n_b² ≈ n²/16 candidates per table (structurally quadratic — the
    * 100× rehearsal measured it at 206× wall on 100× data); this form
    * holds expected bucket occupancy at `occupancy` exactly:
    * signatures at [[Similarity.autoBits]] width, then folded onto
    * ⌈n/occupancy⌉ buckets by modulus (the fold smooths the
    * power-of-two occupancy staircase — without it, occupancy
    * oscillates in (occ/2, occ] across sizes and the measured scale
    * ratio can exceed the data factor by up to 2×; a pair's collision
    * still requires equal SIGNATURES, so recall is exactly the
    * bits-wide contract, the fold only merges random bucket pairs).
    * Candidates stay ≈ n·occupancy/2 per table — linear in n.
    *
    * Physical shape (differs from the fixed-width gate form on
    * purpose): the band self-join carries vector IDS ONLY — at
    * occupancy 64 the candidate stream is ~n·256 rows of 16 bytes,
    * not 1 KB rows with both embedding payloads (measured 76 s → the
    * payload copy dominated, not the dot products). What happens next
    * depends on the driver-decided attach strategy: while the payload
    * table fits a broadcast, candidates are scored IN the band-join
    * stage via two map-side broadcast probes and only the surviving
    * pairs are deduped (the candidate stream never shuffles at all);
    * past the broadcast budget, candidates dedup across tables FIRST
    * and the payloads attach to the halved stream via id-keyed shuffle
    * joins. The signature input is repartitioned to the session
    * shuffle parallelism ONLY when the scan's split count is
    * degenerate (under a quarter of the parallelism) — the stage
    * chain otherwise inherits the parquet SPLIT COUNT as its task
    * count, but the re-shuffle is not free and an unconditional form
    * was A/B-measured 2x slower at 100x bench data (see the inline
    * comment). The quantized input is referenced three times; each
    * reference is one narrow column-pruned scan, deliberately
    * recomputed (cheaper than a SER-cache round trip at this row
    * weight — the [[graft.operators.TextAnalysis]] commonness
    * measurement).
    *
    * One driver-side COUNT picks width and bucket count (the
    * kmeans-centroid bounded-state pattern); both rules are
    * integer-exact and replayed verbatim by the oracle. Recall
    * contract: per-table collision for an angle-θ pair is
    * (1−θ/π)^bits — use NEAR-DUP thresholds (cos ≥ ~0.9) at scale;
    * exact duplicates collide at any width (spec-asserted).
    */
  def embeddingPairsLshAuto(emb: DataFrame, threshold: Double,
      occupancy: Long = 64L, broadcastBudgetBytes: Long = 128L << 20): DataFrame = {
    require(occupancy > 0, "occupancy must be positive")
    val n = emb.count()
    val bits = Similarity.autoBits(n, occupancy)
    val numBuckets = math.max(1L, (n + occupancy - 1) / occupancy)
    val q = normed(emb)
    // DECOUPLE compute parallelism from input file layout — but ONLY
    // when the layout is actually degenerate. The signature stage
    // (T·bits plane projections per vector) runs in the SCAN stage,
    // whose task count is the parquet split count: a single-file
    // 200k-vector input would compute ~3G multiplies on one core
    // while the rest idle, so a few-split input gets one narrow
    // (vec_id, v) re-shuffle up to the session parallelism first.
    // The guard is CONDITIONAL because the shuffle is not free — A/B
    // at 100× bench data, where the scan already had 9+ splits: an
    // unconditional repartition ran the query at 75–79 s (round-robin
    // and hash keyed alike) vs 37 s without; the extra exchange
    // materializes the quantized vectors twice (both band self-join
    // sides re-read it) for parallelism the scan already had
    val shufflePar = emb.sparkSession.sessionState.conf.numShufflePartitions
    val sig0 = q.select(col("vec_id"), col("v"))
    val sigIn =
      if (sig0.rdd.getNumPartitions * 4 < shufflePar)
        sig0.repartition(shufflePar, col("vec_id"))
      else sig0
    val ids = Similarity
      .lshBucketsBits(sigIn, bits)
      .select(col("t"), pmod(col("bucket"), lit(numBuckets)).as("bucket"),
        col("vec_id"))
    val cand = ids
      .join(ids.select(col("t"), col("bucket"), col("vec_id").as("vec_b")),
        Seq("t", "bucket"))
      .where(col("vec_id") < col("vec_b"))
      .select(col("vec_id").as("vec_a"), col("vec_b"))
    // payload-attach strategy, decided from the driver-known n: the
    // candidate stream is large and skinny, the vector table is
    // n × (8·dim + 24) bytes. While the payload side fits a broadcast
    // (≤128 MB) the two attaches are map-side hash lookups — no
    // candidate ever shuffles; past that both sides shuffle and the
    // volume is candidates·16 B + n·payload, linear either way
    // (Catalyst won't broadcast on its own here: the payload table
    // sits above the default 10 MB auto-broadcast threshold long
    // before n stops fitting comfortably). The row weight uses the
    // MEASURED MAXIMUM vector width — one map-side-combinable
    // aggregate, not an arbitrary first row: a ragged corpus whose
    // first-scanned row is the narrow one would otherwise
    // under-measure the payload and broadcast a multi-GB table
    // silently (the exact hazard the probe exists to close)
    val dim = emb.agg(max(size(col("embedding"))).as("d")).head() match {
      case r if !r.isNullAt(0) => r.getInt(0).toLong
      case _                   => 64L
    }
    val smallPayload = attachBroadcastable(n, dim, broadcastBudgetBytes)
    val va = q.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("norm").as("na"))
    val vb = q.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("norm").as("nb"))
    if (smallPayload)
      // broadcast path: score FIRST, dedup only survivors. The two
      // payload attaches are map-side broadcast probes and the dot is
      // codegen'd, so the whole candidate stream — self-join output,
      // probes, score, threshold — runs inside the band-join stage with
      // NO exchange, and the only shuffle in the query is the distinct
      // over the (tiny) surviving pair set. The previous shape
      // (distinct candidates BEFORE attach) shuffled the full
      // candidate stream — n·occupancy·2 rows — into a global
      // dedup hashAgg; at 100× bench data AQE coalesced that reduce
      // stage by compressed BYTES (16 B/row keys compress hard) down
      // to 4 tasks each aggregating hundreds of millions of rows:
      // minutes of wall on a stage the score-first shape never runs.
      // A pair colliding in k ≤ NumTables tables is scored k times —
      // k extra 64-mult dots, orders cheaper than shuffling the
      // candidate stream once
      cosineAtLeast(cand.join(broadcast(va), Seq("vec_a"))
        .join(broadcast(vb), Seq("vec_b")), threshold).distinct()
    else
      // shuffle path (payload over the broadcast budget): dedup the
      // ids-only candidate stream BEFORE the attaches — here the
      // attaches are shuffle joins that move payload bytes, so the
      // cross-table dedup halves real shuffle volume instead of
      // feeding a needless global hashAgg
      cosineAtLeast(cand.distinct().join(va, Seq("vec_a")).join(vb, Seq("vec_b")),
        threshold)
  }

  private def normed(emb: DataFrame): DataFrame =
    quantized(emb)
      .withColumn("norm", sqrt(dot(col("v"), col("v")).cast("double")))

  /** Exact quantized cosine of (vec_a, va, na, vec_b, vb, nb) rows,
    * kept at ≥ `threshold`: (vec_a, vec_b, cos). Zero-norm guard: 0/0
    * is NULL in Spark but NaN in DuckDB (and NaN passes `>= threshold`
    * there); degenerate pairs score 0.0 in both engines, below any
    * positive threshold.
    */
  private def cosineAtLeast(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .withColumn("cos",
        when(col("na") * col("nb") > 0,
          dot(col("va"), col("vb")).cast("double") / (col("na") * col("nb")))
          .otherwise(lit(0.0)))
      .where(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))

  /** Banded self-join → exact-cosine score → threshold → pair dedup:
    * the fixed-width LSH form. (The auto-width form bands ids only and
    * attaches payloads afterwards; it shares [[cosineAtLeast]], not
    * this join.)
    */
  private def scoredBucketPairs(tb: DataFrame, threshold: Double): DataFrame = {
    val l = tb.select(col("t"), col("bucket"),
      col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na"))
    val r = tb.select(col("t"), col("bucket"),
      col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb"))
    // score BEFORE deduping table collisions: the dot is a cheap
    // codegen'd loop over the streamed join output, while a
    // dropDuplicates first would shuffle every candidate WITH both
    // embedding arrays (~1 KB/row) — scoring first means the dedup
    // shuffle carries only (vec_a, vec_b, cos) for the pairs that
    // survive the threshold
    cosineAtLeast(l.join(r, Seq("t", "bucket")).where(col("vec_a") < col("vec_b")),
      threshold).distinct()
  }

  /** Connected components over near-dup pairs — the step that turns
    * pairwise candidates into dedup CLUSTERS (keep one doc per
    * component). Each round combines min-label propagation over the
    * edges with POINTER DOUBLING (label ← label of my label), so a
    * chain of length d converges in O(log d) rounds, not O(d) — plain
    * propagation needed ~20 rounds on chain-shaped near-dup clusters
    * and each extra round is two shuffles. Labels are cut every round
    * and the loop exits once a round changes no label, after 20 rounds
    * at the latest ([[Fixpoint]] states the round-checkpoint protocol,
    * reliable mode included). No driver-side graph — both steps are
    * shuffle joins.
    */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponentsPlan(vertices, pairs).df

  // pointer doubling doubles the reach per round: 20 rounds span ~10^6 hops
  private val CcRounds = 20

  /** Managed form of [[connectedComponents]]: the returned plan's
    * `release()` also frees the FINAL round checkpoint the label table
    * reads (the convenience form leaves it to the ContextCleaner).
    * Callers composing CC into their own managed plans (the graph
    * census, golden records) should use this and forward the
    * finalizers, so an eager materialize-then-release wrapper frees
    * every block CC created.
    */
  def connectedComponentsPlan(vertices: DataFrame, pairs: DataFrame): DedupPlan = {
    import org.apache.spark.sql.graftshim.CheckpointBridge
    // SEVER the caller's pair plan once, at entry. Two reasons, both
    // measured in the 100× rehearsal: (a) the symmetrization references
    // `pairs` twice in one plan — un-severed, the caller's whole
    // candidate pipeline (LSH, banding, scoring…) executes twice
    // inside the sym materialization; (b) worse, a DEEP caller plan
    // (multi-join, frames referenced several times) under CC's
    // checkpoints sent Catalyst's size-only stats visitor into
    // BigInteger products of astronomical magnitude — the driver spent
    // 20+ MINUTES in BigInt Toom-Cook multiplication planning one
    // materialization, with every executor idle. A checkpointed edge
    // list is a LogicalRDD leaf: shallow plan, bounded stats, computed
    // once.
    val pairsCkpt = Fixpoint.cut(pairs.select(col("doc_a"), col("doc_b")))
    // PRE-PARTITIONED on v, the per-round join key: Dataset.checkpoint
    // preserves the physical plan's output partitioning on the
    // LogicalRDD leaf, so every round's edge⋈labels join re-exchanges
    // only the O(|V|) label table — never the edge list. Same layout
    // contract as pageRankPlan's repartition(src).persist (guide §2.4:
    // establish the partitioning once); before this, each round paid a
    // full |E| exchange of sym (measured in the r16 pass: the edge
    // exchange was the largest per-round shuffle on every CC gate).
    val sym = Fixpoint.cut(pairsCkpt.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(pairsCkpt.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .repartition(col("v"))
      .sortWithinPartitions(col("v"))) // pre-sorted too: the checkpoint
      // leaf keeps ordering, so each round's sort-merge join skips both
      // the exchange AND the sort on the edge side
    CheckpointBridge.release(pairsCkpt) // sym holds the only copy the loop needs
    // __chg rides inside each round's checkpoint so the convergence
    // probe is a block-local count over the just-materialized
    // checkpoint — not an extra shuffle join per round
    // one row per DISTINCT id: a repeated id would multiply its rows
    // in every round's prop ⋈ prop pointer-doubling join
    val ids = vertices.select(col("doc_id")).distinct()
    val r = Fixpoint.run(ids.select(col("doc_id"), col("doc_id").as("label"),
        lit(true).as("__chg")), CcRounds, Fixpoint.EachRound,
        _.where(col("__chg")).count() == 0L) { (_, prev) =>
      val labels = prev.select(col("doc_id"), col("label"))
      // neighbor-min FIRST (map-side-combinable, so the post-join
      // exchange carries one (doc_id, min) row per map partition×key,
      // not the raw edge-grain label stream the previous
      // union-then-groupBy shape shuffled), then least() with the own
      // label via a node-grain join. Value-identical per round to the
      // old min-over-(self ∪ neighbors) formulation.
      val nmin = sym
        .join(labels.select(col("doc_id").as("v"), col("label")), Seq("v"))
        .groupBy(col("u").as("doc_id"))
        .agg(min(col("label")).as("__nl"))
      // carry the OWN label through as __old: the round's change bit
      // falls out of the final projection instead of costing the extra
      // labels⋈next join the previous shape paid per round
      val prop = labels.join(nmin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label").as("__old"),
          least(col("label"), col("__nl")).as("pl")) // least() skips nulls
      // pointer doubling: resolve each label through the JUST-PROPAGATED
      // table (not the previous round's), so each round's reach is
      // 2·(prev + 1) instead of prev + prev(-1) — fewer rounds to the
      // same fixpoint (measured 8 → 6 on the co-purchase gate). The
      // right side re-keys prop's own (doc_id → pl) mapping; its nmin
      // shuffle is AQE-stage-reused, so the second reference costs one
      // node-grain join, not a recompute of the edge pass.
      prop
        .join(prop.select(col("doc_id").as("pl"), col("pl").as("__l2")),
          Seq("pl"), "left")
        .select(col("doc_id"),
          least(col("pl"), col("__l2")).as("label"),
          (least(col("pl"), col("__l2")) =!= col("__old")).as("__chg"))
    }
    CheckpointBridge.release(sym)
    r.plan(r.result.select(col("doc_id"), col("label").as("cluster_id"),
        (col("doc_id") === col("label")).as("is_keeper")),
      "connected_components", Nil)
  }

  /** Time-windowed event dedup — retry/double-delivery suppression:
    * a row whose key re-arrives within `windowSec` of the PREVIOUS
    * KEPT occurrence is a duplicate; beyond the window the key
    * legitimately recurs (a user really can click twice an hour
    * apart). This is semantics exact content dedup can't express
    * (every recurrence has a distinct payload/ts) and sessionization
    * doesn't either (sessions group, they don't suppress).
    *
    * The kept/dropped decision chains: an arrival inside the window
    * of a DROPPED row but outside the window of the last KEPT row is
    * kept (an epoch-bucket shortcut gets chained gaps wrong), so each
    * row folds its key's STRICT-PREFIX timeline. One key shuffle;
    * per-key cost is O(h²) in the key's history length h (every row
    * re-folds its prefix — the price of staying in pure SQL-mirrorable
    * window algebra). That is the right trade when h is bounded, which
    * deployment makes true: retries cluster within minutes, so the
    * production shape runs this per ingest partition (hour/day), where
    * h = a key's events per partition, not per corpus lifetime. An
    * unbounded-history stream wants
    * [[graft.streaming.Streaming.dedupStream]]'s watermark-evicted
    * state instead. Emits every input row with `is_dup`; callers
    * filter.
    *
    * `maxHistory` > 0 turns the scaladoc's "bounded h" deployment
    * assumption into an ENFORCED contract: any key whose history
    * exceeds it fails the job loudly (the repo's no-silent-caps
    * convention) instead of letting one hot key OOM a task with an
    * O(h²) collected-prefix frame. Unbounded-history batch callers
    * belong on [[dedupWithinLinear]] (same verdicts, O(h) per key).
    */
  def dedupWithin(events: DataFrame, keys: Seq[String], tsCol: String,
      windowSec: Long, tieCol: String, maxHistory: Int = 0): DataFrame = {
    require(keys.nonEmpty && windowSec > 0, "need keys and windowSec > 0")
    import org.apache.spark.sql.expressions.Window
    // chained-gap-correct fold over the key's chronological timeline:
    // a row is kept iff its epoch is > windowSec after the last KEPT
    // epoch of its STRICT prefix (frame ends at -1 — folding through
    // the current row would misread a same-second duplicate as kept).
    // The tie column makes same-second order deterministic, so the
    // verdict is engine-exact. aggregate() over the collected prefix
    // is the per-key timeline walk; frame size is the key's history.
    val wPrev = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lastKeptBefore = aggregate(
      collect_list(unix_seconds(col(tsCol))).over(wPrev),
      lit(Long.MinValue / 2),
      (acc, t) => when(t - acc > windowSec, t).otherwise(acc))
    val verdict = !(unix_seconds(col(tsCol)) - lastKeptBefore > windowSec)
    if (maxHistory <= 0) events.withColumn("is_dup", verdict)
    else {
      // count over the SAME window partition — no extra shuffle; the
      // guard fires inside the stage that would otherwise build the
      // oversized frame
      val h = count(lit(1)).over(Window.partitionBy(keys.map(col): _*))
      events.withColumn("is_dup",
        when(h > maxHistory, raise_error(concat(
          lit(s"dedupWithin: key history exceeds maxHistory=$maxHistory (h="),
          h.cast("string"),
          lit(") — the O(h^2) frame would violate the bounded-history " +
            "deployment contract; use dedupWithinLinear or " +
            "Streaming.dedupStream"))))
          .otherwise(verdict))
    }
  }

  /** Linear-cost form of [[dedupWithin]] — identical verdicts, O(h)
    * time and O(1) carried state per key instead of the window form's
    * O(h²) collected-prefix frames: one `groupByKey` on the dedup
    * key, the shuffle's own sort delivers each key's rows in
    * (ts, tie) order (`flatMapSortedGroups` — no per-group in-memory
    * sort, rows stream through the iterator), and a single forward
    * walk carries just `lastKept`. This is the form for UNBOUNDED key
    * histories in batch — a key with 10⁸ events costs 10⁸ comparisons
    * here vs ~10¹⁶ frame re-folds in the window form, and task memory
    * stays one row regardless of h.
    *
    * The trade against [[dedupWithin]]: this leaves pure window
    * algebra (a typed per-group fold — outside whole-stage codegen
    * and not directly SQL-mirrorable), so the window form remains the
    * default for the bounded-h ingest-partition deployment. The two
    * forms' row-identical agreement is asserted in OperatorsSpec over
    * fixtures AND generated timelines, and this form carries its own
    * oracle gate (`dd_event_dedup_linear`, same SQL as the window
    * form — DuckDB can't tell which implementation produced the
    * verdicts, which is the point).
    *
    * Null keys group together (matching `Window.partitionBy`); the
    * group key renders columns NUL-separated with a \\u0001 null
    * marker — injective for key values free of those control bytes
    * (the repo's canonical-digest convention). BinaryType key columns
    * are REJECTED loudly: an Array[Byte]'s `toString` is its identity
    * hash, so distinct byte values would silently collide (hash them
    * to hex first, or key on a digest column). Null-timestamp rows
    * match the window form exactly: null `is_dup`, and no
    * contribution to the kept-timeline state.
    */
  def dedupWithinLinear(events: DataFrame, keys: Seq[String], tsCol: String,
      windowSec: Long, tieCol: String): DataFrame = {
    require(keys.nonEmpty && windowSec > 0, "need keys and windowSec > 0")
    keys.foreach { k =>
      require(events.schema(k).dataType !=
        org.apache.spark.sql.types.BinaryType,
        s"dedupWithinLinear: key column '$k' is BinaryType — its " +
          "toString is not value-injective; hash it (e.g. hex(md5)) first")
    }
    import org.apache.spark.sql.{Encoders, Row}
    // epoch seconds precomputed as a COLUMN so the fold never touches
    // engine-private timestamp representations — unix_seconds is the
    // exact same floor the window form applies. The temp column name
    // is collision-checked against the input schema, not assumed free.
    val esCol = Iterator.from(0).map(i => s"__es$i")
      .find(n => !events.columns.contains(n)).get
    val withEs = events.withColumn(esCol, unix_seconds(col(tsCol)))
    val esIdx = withEs.schema.length - 1
    val keyIdx = keys.map(withEs.schema.fieldIndex)
    val outSchema = org.apache.spark.sql.types.StructType(
      events.schema.fields :+ org.apache.spark.sql.types.StructField(
        "is_dup", org.apache.spark.sql.types.BooleanType))
    withEs
      .groupByKey(r => keyIdx.map(i =>
        if (r.isNullAt(i)) "\u0001" else r.get(i).toString)
        .mkString("\u0000"))(Encoders.STRING)
      .flatMapSortedGroups(col(tsCol).asc, col(tieCol).asc) { (_, rows) =>
        var lastKept = Long.MinValue / 2
        rows.map { r =>
          // null ts matches the window form: null is_dup, and the row
          // contributes nothing to the kept-timeline state (the window
          // form's collect_list drops nulls from the prefix)
          if (r.isNullAt(esIdx)) Row.fromSeq(r.toSeq.init :+ null)
          else {
            val es = r.getLong(esIdx)
            val kept = es - lastKept > windowSec
            if (kept) lastKept = es
            Row.fromSeq(r.toSeq.init :+ !kept)
          }
        }
      }(Encoders.row(outSchema))
  }

  /** Quality-aware keeper election — the step after clustering that
    * [[connectedComponents]]' min-doc_id keeper only approximates:
    * inside each near-dup cluster keep the HIGHEST-QUALITY document
    * (score column, deterministic tie-break on min doc_id), the policy
    * a real curation pipeline wants (keep the longest/cleanest copy,
    * not the earliest-ingested one).
    *
    * One join (clusters × scores, both keyed by doc_id — co-partitioned
    * shuffle) + one max-struct aggregation per cluster: the argmax
    * rides a single map-side-combinable `max(struct(score, -doc_id))`,
    * no window over the full corpus. Output one row per cluster:
    * (cluster_id, keeper, keeper_score, n_docs).
    */
  def keeperByQuality(clusters: DataFrame, scores: DataFrame): DataFrame =
    clusters.select(col("doc_id"), col("cluster_id"))
      .join(scores, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        max(struct(col("score"), (-col("doc_id")).as("neg_id"), col("doc_id").as("id")))
          .as("best"),
        count(lit(1)).as("n_docs"))
      .select(col("cluster_id"), col("best.id").as("keeper"),
        col("best.score").as("keeper_score"), col("n_docs"))

  /** Span-level exact dedup — C4/CCNet-style paragraph dedup
    * re-expressed at fixed token-block granularity (the synthetic corpus
    * has no newline paragraph boundaries): chop each document into
    * consecutive `blockTokens`-word blocks and flag every block whose
    * content already appeared in an earlier document (or earlier
    * position of the same document). First-occurrence-wins makes the
    * pass idempotent and ingestion-order-stable — the policy web-scale
    * pipelines use to strip boilerplate shared across pages.
    *
    * Scale shape: blocks are keyed by md5(block) so the dedup shuffle
    * carries a fixed 32-byte key, never block text; the
    * first-occurrence window partitions by that hash (one tiny
    * occurrence list per partition key, no global sort) and the per-doc
    * rollup is map-side combinable. Outputs exact integer counts plus
    * one division — cross-engine deterministic.
    */
  def spanDedup(docs: DataFrame, blockTokens: Int = 20): DataFrame = {
    val blocks = docs.select(col("doc_id"),
      posexplode(Tokens.windows(Tokens.of(col("text")), blockTokens, blockTokens, md5))
        .as(Seq("block_idx", "block_hash")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block_hash")).orderBy(col("doc_id"), col("block_idx"))
    blocks
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_blocks"))
      .withColumn("dup_frac", col("n_dup_blocks").cast("double") / col("n_blocks"))
  }

  /** LSH candidates verified by EXACT jaccard — the standard two-stage
    * near-dup pipeline at scale: the banded minhash join proposes a
    * small candidate set (recall knob), then each candidate pair is
    * verified with the true shingle-set jaccard (precision restored),
    * so the quadratic exact computation runs over O(candidates), never
    * O(corpus²).
    *
    * Cost shape: the verify join explodes each candidate pair by one
    * side's shingle set and matches the other side keyed by (doc,
    * shingle) — Σ_pairs |shingles| work, bounded by candidate count ×
    * document length. Intersection and union sizes are exact integers;
    * jaccard is one division (cross-engine deterministic).
    *
    * `threshold` must be > 0: the verify stage joins candidates on
    * shared shingles (inner), so a pair with zero intersection —
    * jaccard exactly 0 — never reaches the filter and cannot be
    * emitted. A threshold of 0 would silently promise pairs this
    * operator structurally cannot produce, so it is rejected.
    */
  def lshVerifiedPairs(docs: DataFrame, threshold: Double): DataFrame =
    lshVerifiedPairsPlan(docs, threshold).df

  /** Managed form of [[lshVerifiedPairs]]: the plan plus a release
    * handle for the retained shingle cache (the DiffReport.release
    * pattern — long-lived sessions call `release()` after consuming
    * the result instead of waiting for clearCache()/session end).
    */
  def lshVerifiedPairsPlan(docs: DataFrame, threshold: Double): DedupPlan = {
    require(threshold > 0,
      "lshVerifiedPairs: threshold must be > 0 — the inner verify join " +
        "cannot emit zero-intersection (jaccard 0) pairs")
    // ONE tokenize/explode/distinct pass feeds all four consumers
    // (signatures, sizes, and both sides of the verify join)
    val sh = shingleDf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val cand = bandPairs(lshBands(signaturesFromShingles(sh)))
    val verified = jaccardAtLeast(candidateShingleCounts(cand, sh), sizes, threshold)
    DedupPlan(verified, "lsh-verified", Seq(sh))
  }

  /** The rewrite form of [[spanDedup]] — the actual C4 transform:
    * duplicated blocks are REMOVED and each document's surviving
    * blocks are reassembled in order (first-occurrence keeps its copy;
    * a doc whose every block was seen earlier survives with empty
    * text, mirroring C4's empty-page behavior — the caller decides
    * whether to drop it).
    *
    * Unlike the report variant, a rewrite inherently moves block TEXT
    * through the dedup shuffle (the survivor's content must reach its
    * reassembly) — cost is one input-sized shuffle partitioned by
    * block hash, then a doc-keyed reassembly aggregation whose
    * collect_list is bounded by a single document's block count
    * (order restored by array_sort on the (idx, block) structs — never
    * relies on collect_list arrival order).
    */
  def spanDedupRewrite(docs: DataFrame, blockTokens: Int = 20): DataFrame = {
    val blocks = docs.select(col("doc_id"),
      posexplode(Tokens.windows(Tokens.of(col("text")), blockTokens, blockTokens))
        .as(Seq("block_idx", "block")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("block"))).orderBy(col("doc_id"), col("block_idx"))
    val kept = blocks.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("block_idx"), col("block")))),
            s => s.getField("block")), " ").as("text_deduped"),
        count(lit(1)).as("n_blocks_kept"))
    docs.select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"),
        coalesce(col("n_blocks_kept"), lit(0L)).as("n_blocks_kept"))
  }

  /** Sliding-window exact-substring dedup — the suffix-array-style
    * training-data metric ("Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2022) re-expressed with hashed k-token
    * grams: a duplicated span is detected at ANY token offset, not
    * just on [[spanDedup]]'s fixed block grid (which misses every
    * duplicate shifted off 20-token alignment — the common case, since
    * boilerplate starts mid-page). Every k-gram (stride 1) is keyed by
    * md5; an occurrence is duplicated when an identical gram appeared
    * earlier in (doc_id, pos) order — first-occurrence-wins, so the
    * pass is idempotent and ingestion-order-stable. Per doc the
    * flagged gram intervals [pos, pos+k) are MERGED (overlapping grams
    * of one duplicated passage collapse) into `dup_tokens`, the count
    * of tokens covered by at least one duplicated gram — the fraction
    * a C4-style rewrite would remove.
    *
    * Scale shape: ~one gram per input token, but each carries only a
    * fixed 32-byte hash + (doc_id, pos) — the dedup shuffle is
    * O(corpus tokens)·O(40 B), never gram text; the first occurrence
    * per gram is a `min(struct(doc_id, pos))` aggregation at the
    * gram-hash grain + a join back (the [[TextAnalysis.noveltyStats]]
    * shape) — map-side combinable, so a corpus-hot boilerplate gram
    * (a license header in millions of docs) partially aggregates on
    * every input partition instead of shipping ALL its occurrences to
    * one window reducer; the interval merge is a per-doc window
    * bounded by document length. Docs shorter than k tokens have no
    * grams and report zero duplication. Exact integer counts + one
    * division — cross-engine deterministic.
    */
  /** Interval-merge of k-wide gram hits at a key grain — rows
    * (keys…, pos) in, (keys…, island, hits, s, e) out, where islands
    * are maximal overlapping/touching runs of the intervals
    * [pos, pos+k). The shared core of [[spanDedupSliding]] and
    * [[Curation.decontaminateSpans]]: a per-key window (prev-max-end,
    * island flag, running island id) + one island-grain rollup. Every
    * window is bounded by the per-key hit count (document length at
    * worst), never corpus-sized.
    */
  private[operators] def gramIslands(hits: DataFrame, keys: Seq[String],
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kc = keys.map(col)
    val byPos = Window.partitionBy(kc: _*).orderBy(col("pos"))
    val prevEnd = byPos.rowsBetween(Window.unboundedPreceding, -1)
    hits
      .withColumn("prev_end", max(col("pos") + k).over(prevEnd))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("pos") >= col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("new_island")).over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(kc :+ col("island"): _*)
      .agg(count(lit(1)).as("hits"), min(col("pos")).as("s"),
        (max(col("pos")) + k).as("e"))
  }

  /** Unmanaged form: NO caching — the gram table is re-derived by each
    * of its two consumers (two corpus scans) so a long-lived session
    * calling this repeatedly accumulates zero executor storage.
    * Callers wanting the one-pass cached form use
    * [[spanDedupSlidingPlan]] and release its handle.
    */
  def spanDedupSliding(docs: DataFrame, gramTokens: Int = 8): DataFrame =
    spanDedupSlidingBuild(docs, gramTokens, cacheGrams = false).df

  /** Managed form of [[spanDedupSliding]]: the gram table feeds both
    * the first-occurrence aggregation and the join back, so it is
    * persisted behind the release contract (one gram pass over the
    * corpus, not two).
    */
  def spanDedupSlidingPlan(docs: DataFrame, gramTokens: Int = 8): DedupPlan =
    spanDedupSlidingBuild(docs, gramTokens, cacheGrams = true)

  private def spanDedupSlidingBuild(docs: DataFrame, gramTokens: Int,
      cacheGrams: Boolean): DedupPlan = {
    import org.apache.spark.storage.StorageLevel
    require(gramTokens >= 2, s"spanDedupSliding: gramTokens must be >= 2, got $gramTokens")
    val ts = Tokens.of(col("text"))
    val gramsBase = Tokens.grams(docs, gramTokens, "gram_hash", md5)
    val grams =
      if (cacheGrams) gramsBase.persist(StorageLevel.MEMORY_AND_DISK_SER)
      else gramsBase
    // first occurrence per gram = lexicographic min of (doc_id, pos):
    // a map-side-combinable aggregate, never a per-gram-hash window
    // (a row_number form ships a hot gram's every occurrence to ONE
    // reducer — the one skew funnel this family otherwise bans)
    val first = grams.groupBy(col("gram_hash"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val flagged = grams.join(first, Seq("gram_hash"))
      .select(col("doc_id"), col("pos"),
        (col("first.doc_id") =!= col("doc_id") ||
          col("first.pos") =!= col("pos")).as("dup"))
    val perDoc = flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_grams"))
    // island merge: a gram starts a new island iff it begins at or
    // past the max end of every earlier flagged gram in the doc
    val coverage = gramIslands(
        flagged.where(col("dup")).select(col("doc_id"), col("pos")),
        Seq("doc_id"), gramTokens)
      .groupBy(col("doc_id"))
      .agg(sum(col("e") - col("s")).as("dup_tokens"))
    val out = docs.select(col("doc_id"), size(ts).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(coverage, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .as("dup_token_frac"))
    DedupPlan(out, "span_sliding", if (cacheGrams) Seq(grams) else Nil)
  }

  /** Asymmetric shingle-containment join — Broder's containment
    * measure |S(q) ∩ S(c)| / |S(q)|: how much of query doc q is
    * contained in corpus doc c. The directional companion to jaccard:
    * a short quote fully inside a long document scores containment 1.0
    * but a tiny jaccard, so this is the operator for quote/subset
    * detection, eval-leakage triage (WHICH corpus doc swallowed the
    * benchmark item), and prefix/retrieval-overlap audits.
    *
    * Scale shape: both sides shingle once, meet in a join keyed on
    * the shingle (posting-list intersection — cost Σ_s qdf(s)·df(s),
    * never |Q|·|C|), and collapse to the (query, corpus) pair grain in
    * one map-side-combinable count. The query side is the small side
    * by construction (a benchmark, a probe set) — at real scale the
    * optimizer broadcasts it and the corpus streams through one pass,
    * exactly the decontaminate shape but at pair grain with the
    * containment fraction. The fraction is one correctly-rounded
    * division of exact integers — bit-identical cross-engine.
    */
  def containmentPairs(queryDocs: DataFrame, corpusDocs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val qsh = shingleDf(queryDocs).withColumnRenamed("doc_id", "query_doc")
    val csh = shingleDf(corpusDocs).withColumnRenamed("doc_id", "corpus_doc")
    val sizes = qsh.groupBy(col("query_doc")).agg(count(lit(1)).as("n_query_shingles"))
    qsh.join(csh, Seq("shingle"))
      .groupBy(col("query_doc"), col("corpus_doc"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes, Seq("query_doc"))
      .withColumn("containment",
        col("n_inter").cast("double") / col("n_query_shingles"))
      .where(col("containment") >= threshold)
      .select(col("query_doc"), col("corpus_doc"), col("n_inter"),
        col("n_query_shingles"), col("containment"))
  }

  /** Pair-set quality metrics — the evaluation harness every
    * approximate dedup needs before it ships: score a candidate pair
    * set (an LSH/banding/blocking output) against a ground-truth pair
    * set with exact precision / recall / F1. Returns ONE row:
    * (n_pred, n_truth, n_hit, precision, recall, f1).
    *
    * One full-outer join on the pair key + one aggregation — both
    * inputs stay distributed, counts are exact integers, and the three
    * ratios are fixed trees of correctly-rounded double ops (the
    * engine-determinism contract), with empty-set guards pinned to 0.0
    * on every engine. At 100 TB this is how a tuned banding config is
    * validated on a labeled sample before the full run.
    */
  def evaluatePairs(predicted: DataFrame, truth: DataFrame): DataFrame = {
    val p = predicted.select(col("doc_a"), col("doc_b")).distinct()
      .withColumn("in_p", lit(1L))
    val t = truth.select(col("doc_a"), col("doc_b")).distinct()
      .withColumn("in_t", lit(1L))
    val counts = p.join(t, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        coalesce(sum(col("in_p")), lit(0L)).as("n_pred"),
        coalesce(sum(col("in_t")), lit(0L)).as("n_truth"),
        coalesce(sum(when(col("in_p").isNotNull && col("in_t").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_hit"))
    val scored = counts.select(col("n_pred"), col("n_truth"), col("n_hit"),
      when(col("n_pred") > 0, col("n_hit").cast("double") / col("n_pred"))
        .otherwise(lit(0.0)).as("precision"),
      when(col("n_truth") > 0, col("n_hit").cast("double") / col("n_truth"))
        .otherwise(lit(0.0)).as("recall"))
    scored.withColumn("f1",
      when(col("precision") + col("recall") > 0,
        lit(2.0) * col("precision") * col("recall")
          / (col("precision") + col("recall"))).otherwise(lit(0.0)))
  }

  /** [[evaluatePairs]] specialized to the common "validate a banding
    * config": minhash-LSH candidates scored against exact-jaccard
    * truth, with ONE cached tokenize/explode/distinct pass feeding
    * both sides (signatures + bands for predicted; posting-list
    * intersection + sizes for truth) — the [[lshVerifiedPairsPlan]]
    * sharing shape. As separate operators the corpus is shingled
    * twice; here the second scan is a cache read. Truth is the exact
    * co-shingle join of [[jaccardPairs]] (skew-safe, merge-pinned) —
    * on the labeled SAMPLE this evaluation runs on, not the full
    * corpus, so the quadratic exactness is the point.
    */
  def evaluateMinhashPlan(docs: DataFrame, threshold: Double): DedupPlan = {
    require(threshold > 0, "evaluateMinhashPlan: threshold must be > 0")
    val sh = shingleDf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val pred = bandPairs(lshBands(signaturesFromShingles(sh)))
    val (common, sizes, keyCache) = coShingleCounts(sh, None)
    val truth = jaccardAtLeast(common, sizes, threshold).select(col("doc_a"), col("doc_b"))
    DedupPlan(evaluatePairs(pred, truth), "eval-shared", Seq(sh, keyCache))
  }

  /** [[evaluateMinhashPlan]] over a FIXED-SIZE deterministic sample —
    * the 100 TB form of the banding-validation report. Exact ground
    * truth is inherently a shingle self-join (Σ_shingle df² work):
    * correct for a gate corpus, unrunnable over a 100 TB one, and
    * unnecessary — the report VALIDATES a banding config, and its
    * P/R estimates converge with the SAMPLE size (binomial error
    * ~1/√pairs), not the corpus size. `sampleK` docs are chosen by
    * salted-hash order ([[Sampling.fixedK]] — stable under
    * repartitioning, re-runs, and incremental ingest), so the whole
    * eval costs O(sampleK²) however big the corpus: the cost of truth
    * is pinned by the operator, not the data. Measured at 100× bench
    * data: full-corpus eval 105 s; sampled (k=200) 0.60 s → 0.83 s —
    * ratio 1.4 at 100× data, the residue being the sample scan.
    */
  def evaluateMinhashSampledPlan(docs: DataFrame, threshold: Double,
      sampleK: Int, salt: String = "eval"): DedupPlan = {
    require(sampleK > 0, "evaluateMinhashSampledPlan: sampleK must be > 0")
    evaluateMinhashPlan(
      Sampling.fixedK(docs, col("doc_id"), sampleK, salt), threshold)
  }

  /** MinHash ESTIMATE accuracy report — per banded candidate pair, the
    * signature-agreement jaccard estimate (matching hash positions /
    * 8) against the exact jaccard and their absolute error. This is
    * the sketch-calibration view [[evaluateMinhashPlan]]'s set-level
    * P/R/F1 can't give: it shows HOW WRONG the 8-hash estimate is per
    * pair, which is what justifies (or vetoes) skipping the exact
    * verify stage at 100 TB. Same single-cached-shingle-pass shape;
    * the estimate is an integer match count through one division, so
    * the report is bit-identical cross-engine.
    */
  def minhashEstimatePlan(docs: DataFrame): DedupPlan = {
    val sh = shingleDf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val sig = signaturesFromShingles(sh)
    val cand = bandPairs(lshBands(sig))
    def side(s: String) = sig.select(
      (col("doc_id").as(s"doc_$s") +:
        (0 to 7).map(i => col(s"h$i").as(s"$s$i"))): _*)
    val est = cand.join(side("a"), Seq("doc_a")).join(side("b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (0 to 7).map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
          .reduce(_ + _).as("n_match"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val out = est
      .join(candidateShingleCounts(cand, sh), Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_match").cast("double") / 8.0).as("est"),
        (coalesce(col("c"), lit(0L)).cast("double")
          / (col("na") + col("nb") - coalesce(col("c"), lit(0L)))).as("jaccard"))
      .withColumn("abs_err", abs(col("est") - col("jaccard")))
    DedupPlan(out, "minhash-est", Seq(sh))
  }

  /** Cross-SOURCE corpus overlap matrix — the corpus-composition
    * audit run before mixing sources into a training set: for every
    * source pair, the exact shingle-set Jaccard (ppm) AND the
    * MinHash-signature estimate (0..8 matching hashes of the
    * source-level signature) side by side. A pair of crawls with high
    * overlap means double-counted mass under mixture weights; the
    * minhash column is the O(1)-per-source sketch a 100 TB pipeline
    * would consult FIRST, validated here against the exact value.
    *
    * Scale shape: one shingle pass collapsed to the (source, shingle)
    * grain (persisted, shared by sizes + intersections + signatures);
    * the intersection is a shingle-keyed join at that grain; the
    * source-level signature is one 8-min aggregation (a source-level
    * minhash is the min over its docs' minhashes, so it's computable
    * without doc signatures); the final pair join runs at the SOURCE
    * grain — thousands of rows at most, a broadcast nested loop by
    * construction, never data-sized.
    *
    * The intersection join's cost per shingle is f² where f = how many
    * sources contain it — with many sources, a UNIVERSAL stop-shingle
    * costs sources² for that one key (the hot-shingle skew the jaccard
    * family prefilters). `maxSourceFreq` drops shingles present in
    * more than that many sources before everything (sizes, Jaccard,
    * and signatures all see the filtered set consistently): a shingle
    * in nearly every source carries no overlap SIGNAL anyway — it
    * shifts all pairs equally — so the capped report ranks pairs the
    * same while bounding the join at f ≤ cap. The gate runs the exact
    * (uncapped) form; at real source counts set the cap.
    */
  def sourceOverlapPlan(docs: DataFrame,
      maxSourceFreq: Option[Int] = None): DedupPlan = {
    import org.apache.spark.storage.StorageLevel
    val ss0 = shingleDf(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("shingle")).distinct()
    val filtered = maxSourceFreq.fold(ss0) { cap =>
      // unhinted anti-join against the tiny hot-shingle set — AQE picks
      // broadcast vs shuffle from runtime size (the jaccard prefilter's
      // established shape)
      val hot = ss0.groupBy(col("shingle")).agg(count(lit(1)).as("__f"))
        .where(col("__f") > cap).select(col("shingle"))
      ss0.join(hot, Seq("shingle"), "left_anti")
    }
    val ss = filtered.persist(StorageLevel.MEMORY_AND_DISK_SER)
    // the source universe comes from DOCS (one tiny distinct, no
    // shingle pass), not from the filtered shingle set: a source whose
    // shingles are ALL above the cap must still appear in the overlap
    // matrix with n=0 rather than silently vanish (no-silent-caps)
    val allSources = docs.select(col("source")).distinct()
    val sizes = allSources
      .join(ss.groupBy(col("source")).agg(count(lit(1)).as("__n")), Seq("source"), "left")
      .select(col("source"), coalesce(col("__n"), lit(0L)).as("n"))
    val sig = ss.groupBy(col("source"))
      .agg(min(mh(0)).as("h0"), (1 until NumHashes).map(i => min(mh(i)).as(s"h$i")): _*)
    val common = ss.as("a").join(ss.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    // broadcast turns the inequality pair join into a nested loop over
    // the SOURCE-grain aggregate (thousands of rows at most) instead of
    // a raw CartesianProduct of two shuffled sides
    val pairs = sizes.select(col("source").as("source_a"), col("n").as("n_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))),
        col("source_a") < col("source_b"))
    val matches = (0 until NumHashes)
      .map(i => when(col(s"ah$i") === col(s"bh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val out = pairs
      .join(common, Seq("source_a", "source_b"), "left")
      // LEFT joins: a capped-out source has no signature row; inner
      // joins here would drop its pairs again after the sizes fix above
      // (null === null is null → the match counter falls to otherwise 0)
      .join(sig.select(col("source").as("source_a") +:
        (0 until NumHashes).map(i => col(s"h$i").as(s"ah$i")): _*), Seq("source_a"), "left")
      .join(sig.select(col("source").as("source_b") +:
        (0 until NumHashes).map(i => col(s"h$i").as(s"bh$i")): _*), Seq("source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        // DECIMAL(38,0) product: two billion-shingle sources would wrap
        // BIGINT; greatest(…,1) keeps the empty-empty corner total-safe
        // under ANSI div
        expr("""CAST(coalesce(n_common, 0) AS DECIMAL(38,0)) * 1000000
               | DIV greatest(n_a + n_b - coalesce(n_common, 0), 1)""".stripMargin)
          .as("jaccard_ppm"),
        matches.as("minhash_matches"))
    DedupPlan(out, "source_overlap", Seq(ss))
  }

  // ---------------------------------------------------------------- gate

  /** The gate corpus with a planted hot shingle: `zq zq zq ` leads
    * the text of docs 0..299, so the shingle `zq zq zq` has df 300,
    * above [[HotDocFreq]]; no gate text contains `zq`. The
    * `dd_jaccard_salted` oracle plants it the same way.
    */
  private def plantedHot(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") < 300, concat(lit("zq zq zq "), col("text")))
        .otherwise(col("text")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: content-hash groups; keeper = min doc_id.
    "dd_exact" -> ((s, dir) =>
      table(s, dir, "documents")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("content_hash")),

    "dd_minhash_sig" -> ((s, dir) =>
      minhashSignatures(table(s, dir, "documents")).orderBy("doc_id")),

    "dd_minhash_pairs" -> ((s, dir) =>
      minhashCandidates(table(s, dir, "documents")).orderBy("doc_a", "doc_b")),

    "dd_jaccard" -> ((s, dir) =>
      jaccardPairs(table(s, dir, "documents"), 0.1).orderBy("doc_a", "doc_b")),

    // cross-source overlap matrix: exact shingle Jaccard beside the
    // source-level minhash sketch estimate
    "dd_source_overlap" -> ((s, dir) =>
      sourceOverlapPlan(table(s, dir, "documents")).df
        .orderBy("source_a", "source_b")),

    // stop-shingle prefiltered variant (maxDocFreq = 20)
    "dd_jaccard_prefiltered" -> ((s, dir) =>
      jaccardPairs(table(s, dir, "documents"), 0.1, Some(20)).orderBy("doc_a", "doc_b")),

    // the same exact join over a corpus with a planted hot shingle:
    // `zq zq zq` leads the first 300 docs (df 300 > HotDocFreq at every
    // scale factor), so the salted hot stratum runs under the oracle
    "dd_jaccard_salted" -> ((s, dir) =>
      jaccardPairs(plantedHot(table(s, dir, "documents")), 0.1)
        .orderBy("doc_a", "doc_b")),

    "dd_simhash" -> ((s, dir) =>
      simhash(table(s, dir, "documents")).orderBy("doc_id")),

    "dd_simhash_pairs" -> ((s, dir) =>
      simhashPairs(table(s, dir, "documents"), 3).orderBy("doc_a", "doc_b")),

    // the auto-width 100 TB form: fingerprint width sized from COUNT so
    // the banded value join never saturates (the fixed 16-bit form above
    // stays as the deterministic small-scale gate)
    "dd_simhash_pairs_auto" -> ((s, dir) =>
      simhashPairsAutoPlan(table(s, dir, "documents"), 3).df
        .orderBy("doc_a", "doc_b")),

    // idf-weighted fingerprints: distinctive vocabulary sets the bits
    "dd_simhash_idf" -> ((s, dir) =>
      simhashIdfPlan(table(s, dir, "documents")).df.orderBy("doc_id")),

    // retry suppression: same (user, event_type) within 10 min of the
    // last KEPT occurrence is a duplicate; later recurrences are real
    "dd_event_dedup" -> ((s, dir) =>
      dedupWithin(table(s, dir, "events"), Seq("user_id", "event_type"),
        "ts", windowSec = 600, tieCol = "event_id")
        .select(col("event_id"), col("is_dup"))
        .orderBy("event_id")),

    // the O(h) typed-fold twin, gated against the SAME oracle — the
    // SQL can't tell which implementation produced the verdicts
    "dd_event_dedup_linear" -> ((s, dir) =>
      dedupWithinLinear(table(s, dir, "events"), Seq("user_id", "event_type"),
        "ts", windowSec = 600, tieCol = "event_id")
        .select(col("event_id"), col("is_dup"))
        .orderBy("event_id")),

    // gated on the LSH scale path; the brute-force baseline is the
    // test-suite cross-check (OperatorsSpec recall/equality tests)
    "dd_embedding_pairs" -> ((s, dir) =>
      embeddingPairsLsh(table(s, dir, "embeddings"), 0.4).orderBy("vec_a", "vec_b")),

    // the auto-width 100 TB form: bucket width sized from COUNT so the
    // banded join stays linear (the fixed-width form above is the
    // deterministic small-scale gate; this one gates the width rule +
    // auto plane family end-to-end — the oracle recomputes both)
    "dd_embedding_pairs_auto" -> ((s, dir) =>
      embeddingPairsLshAuto(table(s, dir, "embeddings"), 0.4)
        .orderBy("vec_a", "vec_b")),

    // connected components over the AUTO-width pairs — the full
    // embedding-dedup path as it runs at 100 TB (the fixed-width
    // dd_embedding_clusters gate keeps the small-scale baseline)
    "dd_embedding_clusters_auto" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val pairs = embeddingPairsLshAuto(emb, 0.4)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      connectedComponents(emb.select(col("vec_id").as("doc_id")), pairs)
        .select(col("doc_id").as("vec_id"), col("cluster_id"), col("is_keeper"))
        .orderBy("vec_id")
    }),

    // embedding near-dup pairs → connected components — the clustering
    // machinery reused across modalities (keeper = min vec_id): the
    // step that turns pairwise embedding similarity into dedup CLUSTERS
    "dd_embedding_clusters" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val pairs = embeddingPairsLsh(emb, 0.4)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      connectedComponents(emb.select(col("vec_id").as("doc_id")), pairs)
        .select(col("doc_id").as("vec_id"), col("cluster_id"), col("is_keeper"))
        .orderBy("vec_id")
    }),

    // MinHash pairs → connected components → dedup clusters + keepers.
    "dd_dedup_clusters" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      connectedComponents(docs, minhashCandidates(docs)).orderBy("doc_id")
    }),

    // Duplication profile: cluster-SIZE histogram (how much of the
    // corpus sits in singletons vs n-way near-dup groups) plus the
    // doc mass per size — the dedup-savings estimate a curation run
    // reads before deciding thresholds; two tiny-grain aggregations
    // over the CC output
    "dd_cluster_sizes" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      connectedComponents(docs, minhashCandidates(docs))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .select(col("sz").as("cluster_size"), col("n_clusters"),
          (col("sz") * col("n_clusters")).as("n_docs"))
        .orderBy("cluster_size")
    }),

    // Clusters + quality scores → per-cluster keeper election (keep
    // the longest copy, exact integer score, tie-break min doc_id).
    "dd_keeper_quality" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val clusters = connectedComponents(docs, minhashCandidates(docs))
      val scores = docs.select(col("doc_id"), length(col("text")).cast("long").as("score"))
      keeperByQuality(clusters, scores).orderBy("cluster_id")
    }),

    // Incremental ingest: new batch (doc_id ≡ 0 mod 5) deduped against
    // the existing corpus's signature INDEX — no corpus self-pairing,
    // corpus text never re-shingled.
    "dd_incremental" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val corpusIndex = minhashSignatures(d.where(pmod(col("doc_id"), lit(5)) =!= 0))
      val newBatch = d.where(pmod(col("doc_id"), lit(5)) === 0)
      incrementalCandidates(corpusIndex, newBatch)
        .orderBy("new_doc", "corpus_doc")
    }),

    // Span-level (20-token block) exact dedup, first-occurrence-wins.
    "dd_span" -> ((s, dir) =>
      spanDedup(table(s, dir, "documents"), 20).orderBy("doc_id")),

    // The rewrite form: duplicated blocks removed, text reassembled.
    "dd_span_rewrite" -> ((s, dir) =>
      spanDedupRewrite(table(s, dir, "documents"), 20).orderBy("doc_id")),

    // Sliding-window (stride-1, 8-token) substring dedup with merged
    // duplicated-span token coverage — catches duplicates at ANY
    // offset, not just the 20-token block grid. Managed plan form:
    // the gram table feeds two consumers, so the gate takes the
    // one-pass cached shape (the unmanaged form is deliberately
    // cache-free for long-lived sessions and pays a second gram pass)
    "dd_span_sliding" -> ((s, dir) =>
      spanDedupSlidingPlan(table(s, dir, "documents"), 8).df.orderBy("doc_id")),

    // LSH candidates → exact-jaccard verification: the two-stage
    // near-dup pipeline (exactness over O(candidates), never corpus²).
    "dd_lsh_verified" -> ((s, dir) =>
      lshVerifiedPairs(table(s, dir, "documents"), 0.1).orderBy("doc_a", "doc_b")),

    // Directional containment: probe docs (doc_id ≡ 0 mod 10) scored
    // for how fully each is contained in each other doc's shingles.
    "dd_containment" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      containmentPairs(
        d.where(pmod(col("doc_id"), lit(10)) === 0),
        d.where(pmod(col("doc_id"), lit(10)) =!= 0), 0.5)
        .orderBy("query_doc", "corpus_doc")
    }),

    // LSH banding scored against exact-jaccard ground truth: the
    // recall/precision report that validates a banding config.
    "dd_eval" -> ((s, dir) =>
      evaluateMinhashPlan(table(s, dir, "documents"), 0.1).df),

    // the same P/R/F1 report over a FIXED-SIZE hash sample — truth
    // cost pinned at O(sampleK²) regardless of corpus size
    "dd_eval_sampled" -> ((s, dir) =>
      evaluateMinhashSampledPlan(table(s, dir, "documents"), 0.1, 200).df),

    // per-pair sketch-vs-exact calibration over the banded candidates
    "dd_minhash_est" -> ((s, dir) =>
      minhashEstimatePlan(table(s, dir, "documents")).df
        .orderBy("doc_a", "doc_b")),
  )

  // Shared SQL fragments for the DuckDB oracles.
  private[operators] val shingleSql =
    """SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS ts FROM documents),
      |     UNNEST(range(1, len(ts)-1)) AS u(i)""".stripMargin

  private val minhashSql =
    s"""SELECT doc_id,
       | min(md5('0|' || shingle)) AS h0, min(md5('1|' || shingle)) AS h1,
       | min(md5('2|' || shingle)) AS h2, min(md5('3|' || shingle)) AS h3,
       | min(md5('4|' || shingle)) AS h4, min(md5('5|' || shingle)) AS h5,
       | min(md5('6|' || shingle)) AS h6, min(md5('7|' || shingle)) AS h7
       |FROM ($shingleSql) GROUP BY doc_id""".stripMargin

  private val simhashSql =
    """WITH toks AS (
      | SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
      | FROM documents),
      |hv AS (
      | SELECT doc_id,
      |  (strpos('0123456789abcdef', substr(md5(tok),1,1)) - 1) * 4096 +
      |  (strpos('0123456789abcdef', substr(md5(tok),2,1)) - 1) * 256 +
      |  (strpos('0123456789abcdef', substr(md5(tok),3,1)) - 1) * 16 +
      |  (strpos('0123456789abcdef', substr(md5(tok),4,1)) - 1) AS h16
      | FROM toks),
      |votes AS (
      | SELECT doc_id, j,
      |  SUM(CASE WHEN CAST(FLOOR(h16 / POWER(2, 15 - j)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS s
      | FROM hv, UNNEST(range(0, 16)) AS r(j) GROUP BY doc_id, j)
      |SELECT doc_id,
      | CAST(SUM(CASE WHEN s > 0 THEN CAST(POWER(2, 15 - j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |FROM votes GROUP BY doc_id""".stripMargin

  /** Shared CTE chain: minhash signatures → LSH bands → candidate
    * pairs → symmetric edges → transitive closure (`reach`). Callers
    * prepend `WITH RECURSIVE `.
    */
  private[operators] val clustersCte =
    s"""sig AS ($minhashSql),
       |bands AS (
       | SELECT doc_id, 0 AS band, md5(h0 || h1) AS bkey FROM sig UNION ALL
       | SELECT doc_id, 1, md5(h2 || h3) FROM sig UNION ALL
       | SELECT doc_id, 2, md5(h4 || h5) FROM sig UNION ALL
       | SELECT doc_id, 3, md5(h6 || h7) FROM sig),
       |pairs AS (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |edges AS (
       | SELECT doc_a AS u, doc_b AS v FROM pairs
       | UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       | SELECT doc_id, doc_id FROM documents
       | UNION
       | SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)""".stripMargin

  /** Shared CTE: quantized embeddings → SRP-LSH buckets → candidate
    * pairs → exact-cosine scores (the dd_embedding_pairs pipeline up to
    * the threshold filter). Callers append their own final select.
    */
  private val embeddingPairsCte =
    s"""q AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS v
       | FROM embeddings),
       |${Similarity.lshBucketsSqlCte},
       |cand AS (
       | SELECT DISTINCT a.vec_id AS vec_a, a.v AS va, b.vec_id AS vec_b, b.v AS vb
       | FROM tb a JOIN tb b USING (t, bucket) WHERE a.vec_id < b.vec_id),
       |scored AS (
       | SELECT vec_a, vec_b,
       |  CASE WHEN list_dot_product(va, va) > 0 AND list_dot_product(vb, vb) > 0
       |   THEN list_dot_product(va, vb) / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))
       |   ELSE 0.0 END AS cos
       | FROM cand)""".stripMargin

  /** [[embeddingPairsCte]]'s auto-width twin: same quantize → bucket →
    * candidate → score chain over [[Similarity.lshBucketsAutoSqlCte]]
    * (COUNT-derived bit width, auto plane family).
    */
  private val embeddingPairsAutoCte =
    s"""q AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS v
       | FROM embeddings),
       |${Similarity.lshBucketsAutoSqlCte(64L)},
       |cand AS (
       | SELECT DISTINCT a.vec_id AS vec_a, a.v AS va, b.vec_id AS vec_b, b.v AS vb
       | FROM tb a JOIN tb b USING (t, bucket) WHERE a.vec_id < b.vec_id),
       |scored AS (
       | SELECT vec_a, vec_b,
       |  CASE WHEN list_dot_product(va, va) > 0 AND list_dot_product(vb, vb) > 0
       |   THEN list_dot_product(va, vb) / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))
       |   ELSE 0.0 END AS cos
       | FROM cand)""".stripMargin

  def oracles: Map[String, String] = Map(
    "dd_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "dd_minhash_sig" -> s"$minhashSql ORDER BY doc_id",
    // per-doc signatures are independent, so sig(filtered docs) =
    // filter(sig(all docs)) — the oracle splits AFTER one sig pass
    "dd_incremental" ->
      s"""WITH sig AS ($minhashSql),
         |bands AS (
         | SELECT doc_id, 0 AS band, md5(h0 || h1) AS bkey FROM sig UNION ALL
         | SELECT doc_id, 1, md5(h2 || h3) FROM sig UNION ALL
         | SELECT doc_id, 2, md5(h4 || h5) FROM sig UNION ALL
         | SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |nb AS (SELECT doc_id AS new_doc, band, bkey FROM bands WHERE doc_id % 5 = 0),
         |ob AS (SELECT doc_id AS corpus_doc, band, bkey FROM bands WHERE doc_id % 5 <> 0)
         |SELECT DISTINCT new_doc, corpus_doc FROM nb JOIN ob USING (band, bkey)
         |ORDER BY new_doc, corpus_doc""".stripMargin,
    "dd_minhash_pairs" ->
      s"""WITH sig AS ($minhashSql),
         |bands AS (
         | SELECT doc_id, 0 AS band, md5(h0 || h1) AS bkey FROM sig UNION ALL
         | SELECT doc_id, 1, md5(h2 || h3) FROM sig UNION ALL
         | SELECT doc_id, 2, md5(h4 || h5) FROM sig UNION ALL
         | SELECT doc_id, 3, md5(h6 || h7) FROM sig)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dd_source_overlap" ->
      s"""WITH sh0 AS ($shingleSql),
         |ss AS (SELECT DISTINCT d.source, s.shingle
         |       FROM sh0 s JOIN documents d USING (doc_id)),
         |sizes AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY 1),
         |common AS (SELECT a.source AS source_a, b.source AS source_b,
         |        COUNT(*) AS n_common
         |  FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
         |  GROUP BY 1, 2),
         |sig AS (SELECT source,
         |  min(md5('0|' || shingle)) AS h0, min(md5('1|' || shingle)) AS h1,
         |  min(md5('2|' || shingle)) AS h2, min(md5('3|' || shingle)) AS h3,
         |  min(md5('4|' || shingle)) AS h4, min(md5('5|' || shingle)) AS h5,
         |  min(md5('6|' || shingle)) AS h6, min(md5('7|' || shingle)) AS h7
         | FROM ss GROUP BY source),
         |pairs AS (SELECT sa.source AS source_a, sb.source AS source_b,
         |        sa.n AS n_a, sb.n AS n_b
         |  FROM sizes sa JOIN sizes sb ON sa.source < sb.source)
         |SELECT p.source_a, p.source_b, p.n_a, p.n_b,
         | COALESCE(c.n_common, 0) AS n_common,
         | CAST(CAST(COALESCE(c.n_common, 0) AS HUGEINT) * 1000000
         |   // GREATEST(p.n_a + p.n_b - COALESCE(c.n_common, 0), 1) AS BIGINT)
         |   AS jaccard_ppm,
         | CAST((CASE WHEN x.h0 = y.h0 THEN 1 ELSE 0 END)
         |  + (CASE WHEN x.h1 = y.h1 THEN 1 ELSE 0 END)
         |  + (CASE WHEN x.h2 = y.h2 THEN 1 ELSE 0 END)
         |  + (CASE WHEN x.h3 = y.h3 THEN 1 ELSE 0 END)
         |  + (CASE WHEN x.h4 = y.h4 THEN 1 ELSE 0 END)
         |  + (CASE WHEN x.h5 = y.h5 THEN 1 ELSE 0 END)
         |  + (CASE WHEN x.h6 = y.h6 THEN 1 ELSE 0 END)
         |  + (CASE WHEN x.h7 = y.h7 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS minhash_matches
         |FROM pairs p
         | LEFT JOIN common c ON c.source_a = p.source_a AND c.source_b = p.source_b
         | JOIN sig x ON x.source = p.source_a
         | JOIN sig y ON y.source = p.source_b
         |ORDER BY p.source_a, p.source_b""".stripMargin,
    "dd_jaccard_prefiltered" ->
      s"""WITH sh0 AS ($shingleSql),
         |hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > 20),
         |sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |common AS (
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
         | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         | GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
         |FROM common
         | JOIN cnt ca ON ca.doc_id = doc_a
         | JOIN cnt cb ON cb.doc_id = doc_b
         |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.1
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dd_jaccard" ->
      s"""WITH sh AS ($shingleSql),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |common AS (
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
         | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         | GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
         |FROM common
         | JOIN cnt ca ON ca.doc_id = doc_a
         | JOIN cnt cb ON cb.doc_id = doc_b
         |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.1
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the naive self-join over the same planted corpus as the gate
    "dd_jaccard_salted" ->
      s"""WITH planted AS (
         | SELECT doc_id, CASE WHEN doc_id < 300 THEN 'zq zq zq ' || text
         |  ELSE text END AS text FROM documents),
         |sh AS (${shingleSql.replace("FROM documents", "FROM planted")}),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |common AS (
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
         | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         | GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
         |FROM common
         | JOIN cnt ca ON ca.doc_id = doc_a
         | JOIN cnt cb ON cb.doc_id = doc_b
         |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.1
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dd_simhash" -> s"$simhashSql ORDER BY doc_id",
    // the strict-prefix fold mirrored: list window frame to -1, init
    // prepended (DuckDB's list_reduce uses the head as its seed)
    "dd_event_dedup" ->
      """WITH e AS (SELECT event_id,
        |  CAST(epoch(ts) AS BIGINT) AS es,
        |  list(CAST(epoch(ts) AS BIGINT)) OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix
        | FROM events),
        |k AS (SELECT event_id, es,
        |  list_reduce(
        |    [CAST(-4611686018427387904 AS BIGINT)] || COALESCE(prefix, []),
        |    (acc, t) -> CASE WHEN t - acc > 600 THEN t ELSE acc END) AS last_kept
        | FROM e)
        |SELECT event_id, NOT (es - last_kept > 600) AS is_dup
        |FROM k ORDER BY event_id""".stripMargin,
    // identical SQL by design: the linear fold must be observationally
    // indistinguishable from the window-algebra form
    "dd_event_dedup_linear" ->
      """WITH e AS (SELECT event_id,
        |  CAST(epoch(ts) AS BIGINT) AS es,
        |  list(CAST(epoch(ts) AS BIGINT)) OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix
        | FROM events),
        |k AS (SELECT event_id, es,
        |  list_reduce(
        |    [CAST(-4611686018427387904 AS BIGINT)] || COALESCE(prefix, []),
        |    (acc, t) -> CASE WHEN t - acc > 600 THEN t ELSE acc END) AS last_kept
        | FROM e)
        |SELECT event_id, NOT (es - last_kept > 600) AS is_dup
        |FROM k ORDER BY event_id""".stripMargin,
    // idf-weighted votes: same bit machinery, weight = n_docs*1e6 // df
    "dd_simhash_idf" ->
      """WITH toks AS (
        | SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
        | FROM documents),
        |dfreq AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |hv AS (
        | SELECT doc_id,
        |  (strpos('0123456789abcdef', substr(md5(tok),1,1)) - 1) * 4096 +
        |  (strpos('0123456789abcdef', substr(md5(tok),2,1)) - 1) * 256 +
        |  (strpos('0123456789abcdef', substr(md5(tok),3,1)) - 1) * 16 +
        |  (strpos('0123456789abcdef', substr(md5(tok),4,1)) - 1) AS h16,
        |  (n.n_docs * 1000000) // dfreq.df AS w
        | FROM toks JOIN dfreq USING (tok) CROSS JOIN n),
        |votes AS (
        | SELECT doc_id, j,
        |  SUM(CASE WHEN CAST(FLOOR(h16 / POWER(2, 15 - j)) AS BIGINT) % 2 = 1
        |      THEN w ELSE -w END) AS s
        | FROM hv, UNNEST(range(0, 16)) AS r(j) GROUP BY doc_id, j)
        |SELECT doc_id,
        | CAST(SUM(CASE WHEN s > 0 THEN CAST(POWER(2, 15 - j) AS BIGINT) ELSE 0 END)
        |   AS BIGINT) AS simhash_idf
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dd_simhash_pairs" ->
      s"""WITH sh AS ($simhashSql)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a, sh b
         |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // width rule replayed verbatim (smallest multiple-of-4 bits in
    // [16,60] with 64·2^(bits/4) >= n), then the generalized
    // hex-digit vote machinery at that width; banding is a Spark-side
    // physical detail (exact by pigeonhole), so the oracle checks the
    // all-pairs hamming truth directly. Bit extraction uses BIGINT
    // floor-division — h reaches 2^60, past DOUBLE's 2^53 exactness
    "dd_simhash_pairs_auto" ->
      """WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |w AS (SELECT COALESCE(MIN(b), 60) AS bits FROM
        |   (SELECT 16 + 4*i AS b FROM UNNEST(range(0, 12)) AS r(i)) cand, n
        |  WHERE 64 * CAST(POWER(2, b // 4) AS HUGEINT) >= n_docs),
        |toks AS (
        | SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
        | FROM documents),
        |hv AS (
        | SELECT doc_id, tok,
        |  CAST(SUM((strpos('0123456789abcdef', substr(md5(tok), d, 1)) - 1)
        |       * CAST(POWER(16, (SELECT bits FROM w) // 4 - d) AS BIGINT))
        |    AS BIGINT) AS h
        | FROM toks, UNNEST(range(1, (SELECT bits FROM w) // 4 + 1)) AS r(d)
        | GROUP BY doc_id, tok),
        |votes AS (
        | SELECT doc_id, j,
        |  SUM(CASE WHEN (h // CAST(POWER(2, (SELECT bits FROM w) - 1 - j) AS BIGINT)) % 2 = 1
        |      THEN 1 ELSE -1 END) AS s
        | FROM hv, UNNEST(range(0, (SELECT bits FROM w))) AS r(j)
        | GROUP BY doc_id, j),
        |sh AS (
        | SELECT doc_id,
        |  CAST(SUM(CASE WHEN s > 0
        |    THEN CAST(POWER(2, (SELECT bits FROM w) - 1 - j) AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS simhash
        | FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sh a, sh b
        |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dd_dedup_clusters" ->
      s"""WITH RECURSIVE $clustersCte
         |SELECT u AS doc_id, MIN(v) AS cluster_id, (u = MIN(v)) AS is_keeper
         |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,
    "dd_cluster_sizes" ->
      s"""WITH RECURSIVE $clustersCte,
         |cl AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
         |szs AS (SELECT cluster_id, COUNT(*) AS sz FROM cl GROUP BY cluster_id)
         |SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
         | sz * COUNT(*) AS n_docs
         |FROM szs GROUP BY sz ORDER BY cluster_size""".stripMargin,
    "dd_keeper_quality" ->
      s"""WITH RECURSIVE $clustersCte,
         |clusters AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
         |scored AS (
         | SELECT c.cluster_id, c.doc_id, CAST(length(d.text) AS BIGINT) AS score
         | FROM clusters c JOIN documents d USING (doc_id)),
         |ranked AS (
         | SELECT cluster_id, doc_id, score,
         |  ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY score DESC, doc_id ASC) AS rn,
         |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_docs
         | FROM scored)
         |SELECT cluster_id, doc_id AS keeper, score AS keeper_score,
         | CAST(n_docs AS BIGINT) AS n_docs
         |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    "dd_embedding_pairs" ->
      s"""WITH $embeddingPairsCte
         |SELECT vec_a, vec_b, cos FROM scored WHERE cos >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,
    "dd_embedding_pairs_auto" ->
      s"""WITH $embeddingPairsAutoCte
         |SELECT vec_a, vec_b, cos FROM scored WHERE cos >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,
    "dd_embedding_clusters_auto" ->
      s"""WITH RECURSIVE $embeddingPairsAutoCte,
         |vp AS (SELECT vec_a, vec_b FROM scored WHERE cos >= 0.4),
         |edges AS (SELECT vec_a AS u, vec_b AS v FROM vp
         |          UNION ALL SELECT vec_b, vec_a FROM vp),
         |reach(u, v) AS (
         | SELECT vec_id, vec_id FROM embeddings
         | UNION
         | SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         |SELECT u AS vec_id, MIN(v) AS cluster_id, (u = MIN(v)) AS is_keeper
         |FROM reach GROUP BY u ORDER BY vec_id""".stripMargin,
    "dd_embedding_clusters" ->
      s"""WITH RECURSIVE $embeddingPairsCte,
         |vp AS (SELECT vec_a, vec_b FROM scored WHERE cos >= 0.4),
         |edges AS (SELECT vec_a AS u, vec_b AS v FROM vp
         |          UNION ALL SELECT vec_b, vec_a FROM vp),
         |reach(u, v) AS (
         | SELECT vec_id, vec_id FROM embeddings
         | UNION
         | SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         |SELECT u AS vec_id, MIN(v) AS cluster_id, (u = MIN(v)) AS is_keeper
         |FROM reach GROUP BY u ORDER BY vec_id""".stripMargin,
    "dd_span" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS ts FROM documents),
        |i AS (SELECT doc_id, ts,
        |        UNNEST(range(0, GREATEST(CAST(ceil(len(ts)/20.0) AS BIGINT), 1))) AS block_idx
        |      FROM t),
        |b AS (SELECT doc_id, block_idx,
        |        md5(array_to_string(ts[(block_idx*20+1):(block_idx*20+20)], ' ')) AS block_hash
        |      FROM i),
        |rn AS (SELECT doc_id, block_idx,
        |        ROW_NUMBER() OVER (PARTITION BY block_hash ORDER BY doc_id, block_idx) AS rn FROM b)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
        |FROM rn GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // sliding k-gram (k=8) dedup: pos is 0-based in Spark, range() is
    // 1-based here — i in [1, len-8+1] maps to pos = i-1; the island
    // merge replays Spark's prev-max-end window verbatim
    "dd_span_sliding" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS ts FROM documents),
        |g AS (SELECT doc_id, i - 1 AS pos,
        |        md5(array_to_string(ts[i:i+7], ' ')) AS h
        |      FROM t, UNNEST(range(1, len(ts) - 8 + 2)) AS r(i)
        |      WHERE len(ts) >= 8),
        |f AS (SELECT doc_id, pos,
        |        ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) > 1 AS dup
        |      FROM g),
        |p AS (SELECT doc_id, COUNT(*) AS n_grams,
        |        SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS n_dup_grams
        |      FROM f GROUP BY 1),
        |d AS (SELECT doc_id, pos,
        |        MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM f WHERE dup),
        |isl AS (SELECT doc_id, pos,
        |        SUM(CASE WHEN prev_end IS NULL OR pos >= prev_end THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |      FROM d),
        |c AS (SELECT doc_id, island, MAX(pos) + 8 - MIN(pos) AS covered
        |      FROM isl GROUP BY 1, 2),
        |cov AS (SELECT doc_id, SUM(covered) AS dup_tokens FROM c GROUP BY 1)
        |SELECT t.doc_id,
        | CAST(len(t.ts) AS BIGINT) AS n_tokens,
        | CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
        | CAST(COALESCE(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
        | CAST(COALESCE(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        | CAST(COALESCE(cov.dup_tokens, 0) AS DOUBLE) / len(t.ts) AS dup_token_frac
        |FROM t LEFT JOIN p USING (doc_id) LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dd_span_rewrite" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS ts FROM documents),
        |i AS (SELECT doc_id, ts,
        |        UNNEST(range(0, GREATEST(CAST(ceil(len(ts)/20.0) AS BIGINT), 1))) AS block_idx
        |      FROM t),
        |b AS (SELECT doc_id, block_idx,
        |        array_to_string(ts[(block_idx*20+1):(block_idx*20+20)], ' ') AS block
        |      FROM i),
        |rn AS (SELECT doc_id, block_idx, block,
        |        ROW_NUMBER() OVER (PARTITION BY md5(block) ORDER BY doc_id, block_idx) AS rn FROM b),
        |agg AS (SELECT doc_id, string_agg(block, ' ' ORDER BY block_idx) AS text_deduped,
        |         CAST(COUNT(*) AS BIGINT) AS n_blocks_kept
        |        FROM rn WHERE rn = 1 GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(agg.text_deduped, '') AS text_deduped,
        |  COALESCE(agg.n_blocks_kept, 0) AS n_blocks_kept
        |FROM (SELECT doc_id FROM documents) d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dd_lsh_verified" ->
      s"""WITH sh AS ($shingleSql),
         |sig AS ($minhashSql),
         |bands AS (
         | SELECT doc_id, 0 AS band, md5(h0 || h1) AS bkey FROM sig UNION ALL
         | SELECT doc_id, 1, md5(h2 || h3) FROM sig UNION ALL
         | SELECT doc_id, 2, md5(h4 || h5) FROM sig UNION ALL
         | SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, COUNT(*) AS c
         | FROM cand c
         | JOIN sh sa ON sa.doc_id = c.doc_a
         | JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY c.doc_a, c.doc_b)
         |SELECT doc_a, doc_b,
         | CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c) AS jaccard
         |FROM inter i
         |JOIN sizes na ON na.doc_id = i.doc_a
         |JOIN sizes nb ON nb.doc_id = i.doc_b
         |WHERE CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c) >= 0.1
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dd_containment" ->
      s"""WITH sh AS ($shingleSql),
         |q AS (SELECT doc_id AS query_doc, shingle FROM sh WHERE doc_id % 10 = 0),
         |c AS (SELECT doc_id AS corpus_doc, shingle FROM sh WHERE doc_id % 10 <> 0),
         |sizes AS (SELECT query_doc, COUNT(*) AS n_query_shingles FROM q GROUP BY 1),
         |inter AS (SELECT query_doc, corpus_doc, COUNT(*) AS n_inter
         |          FROM q JOIN c USING (shingle) GROUP BY 1, 2)
         |SELECT query_doc, corpus_doc, n_inter, n_query_shingles,
         | CAST(n_inter AS DOUBLE) / n_query_shingles AS containment
         |FROM inter JOIN sizes USING (query_doc)
         |WHERE CAST(n_inter AS DOUBLE) / n_query_shingles >= 0.5
         |ORDER BY query_doc, corpus_doc""".stripMargin,
    "dd_minhash_est" ->
      s"""WITH sig AS ($minhashSql),
         |bands AS (
         | SELECT doc_id, 0 AS band, md5(h0 || h1) AS bkey FROM sig UNION ALL
         | SELECT doc_id, 1, md5(h2 || h3) FROM sig UNION ALL
         | SELECT doc_id, 2, md5(h4 || h5) FROM sig UNION ALL
         | SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |pred AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |est AS (
         | SELECT doc_a, doc_b,
         |  (CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END
         |   + CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END
         |   + CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END
         |   + CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END
         |   + CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END
         |   + CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END
         |   + CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END
         |   + CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END) AS n_match
         | FROM pred JOIN sig sa ON doc_a = sa.doc_id
         |  JOIN sig sb ON doc_b = sb.doc_id),
         |sh AS ($shingleSql),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |common AS (
         | SELECT p.doc_a, p.doc_b, COUNT(*) AS c
         | FROM pred p JOIN sh x ON x.doc_id = p.doc_a
         |  JOIN sh y ON y.doc_id = p.doc_b AND y.shingle = x.shingle
         | GROUP BY 1, 2)
         |SELECT e.doc_a, e.doc_b,
         | CAST(n_match AS DOUBLE) / 8.0 AS est,
         | CAST(COALESCE(c, 0) AS DOUBLE) / (ca.n + cb.n - COALESCE(c, 0)) AS jaccard,
         | ABS(CAST(n_match AS DOUBLE) / 8.0
         |  - CAST(COALESCE(c, 0) AS DOUBLE) / (ca.n + cb.n - COALESCE(c, 0))) AS abs_err
         |FROM est e
         | LEFT JOIN common co ON co.doc_a = e.doc_a AND co.doc_b = e.doc_b
         | JOIN cnt ca ON ca.doc_id = e.doc_a
         | JOIN cnt cb ON cb.doc_id = e.doc_b
         |ORDER BY e.doc_a, e.doc_b""".stripMargin,
    // the sampled twin: identical CTE chain over the fixedK hash
    // sample (same 'salt|id' md5 order rule as sa_fixed_k)
    "dd_eval_sampled" -> {
      val sampled = (s: String) => s.replace("FROM documents",
        """FROM (SELECT * FROM documents
          | ORDER BY md5('eval|' || CAST(doc_id AS VARCHAR)) LIMIT 200)"""
          .stripMargin.replaceAll("\\s+", " "))
      s"""WITH sig AS (${sampled(minhashSql)}),
         |bands AS (
         | SELECT doc_id, 0 AS band, md5(h0 || h1) AS bkey FROM sig UNION ALL
         | SELECT doc_id, 1, md5(h2 || h3) FROM sig UNION ALL
         | SELECT doc_id, 2, md5(h4 || h5) FROM sig UNION ALL
         | SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |pred AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS (${sampled(shingleSql)}),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |common AS (
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
         | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         | GROUP BY 1, 2),
         |truth AS (
         | SELECT doc_a, doc_b FROM common
         |  JOIN cnt ca ON ca.doc_id = doc_a
         |  JOIN cnt cb ON cb.doc_id = doc_b
         | WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.1),
         |m AS (SELECT
         |  (SELECT COUNT(*) FROM pred) AS n_pred,
         |  (SELECT COUNT(*) FROM truth) AS n_truth,
         |  (SELECT COUNT(*) FROM pred JOIN truth USING (doc_a, doc_b)) AS n_hit),
         |pr AS (SELECT n_pred, n_truth, n_hit,
         |  CASE WHEN n_pred > 0
         |   THEN CAST(n_hit AS DOUBLE) / n_pred ELSE 0.0 END AS precision,
         |  CASE WHEN n_truth > 0
         |   THEN CAST(n_hit AS DOUBLE) / n_truth ELSE 0.0 END AS recall
         | FROM m)
         |SELECT n_pred, n_truth, n_hit, precision, recall,
         | CASE WHEN precision + recall > 0
         |  THEN 2.0 * precision * recall / (precision + recall)
         |  ELSE 0.0 END AS f1
         |FROM pr""".stripMargin
    },
    "dd_eval" ->
      s"""WITH sig AS ($minhashSql),
         |bands AS (
         | SELECT doc_id, 0 AS band, md5(h0 || h1) AS bkey FROM sig UNION ALL
         | SELECT doc_id, 1, md5(h2 || h3) FROM sig UNION ALL
         | SELECT doc_id, 2, md5(h4 || h5) FROM sig UNION ALL
         | SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |pred AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |common AS (
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
         | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         | GROUP BY 1, 2),
         |truth AS (
         | SELECT doc_a, doc_b FROM common
         |  JOIN cnt ca ON ca.doc_id = doc_a
         |  JOIN cnt cb ON cb.doc_id = doc_b
         | WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.1),
         |m AS (SELECT
         |  (SELECT COUNT(*) FROM pred) AS n_pred,
         |  (SELECT COUNT(*) FROM truth) AS n_truth,
         |  (SELECT COUNT(*) FROM pred JOIN truth USING (doc_a, doc_b)) AS n_hit),
         |pr AS (SELECT n_pred, n_truth, n_hit,
         |  CASE WHEN n_pred > 0
         |   THEN CAST(n_hit AS DOUBLE) / n_pred ELSE 0.0 END AS precision,
         |  CASE WHEN n_truth > 0
         |   THEN CAST(n_hit AS DOUBLE) / n_truth ELSE 0.0 END AS recall
         | FROM m)
         |SELECT n_pred, n_truth, n_hit, precision, recall,
         | CASE WHEN precision + recall > 0
         |  THEN 2.0 * precision * recall / (precision + recall)
         |  ELSE 0.0 END AS f1
         |FROM pr""".stripMargin,
  )
}
