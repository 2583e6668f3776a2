package graft.operators

import graft.GraftSession.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *   - brute-force cosine top-k: the correctness baseline. O(Q·N) dot
  *     products; fine when Q (the query set) is small and broadcast.
  *   - sign-random-projection LSH: each vector gets a b-bit signature
  *     (sign of dot with b deterministic ±1 hyperplanes); candidates
  *     share the signature bucket, ranked by exact cosine within the
  *     bucket. At 100 TB: the signature is computed in one narrow pass,
  *     the bucket join replaces the O(N²) cross product with
  *     O(Σ bucket²), and skewed buckets can be split by widening b.
  *
  * Determinism: vectors are quantized to int64 (round(x·10⁴)) so dot
  * products are exact integer sums — order-free and identical across
  * engines; hyperplane signs derive from md5 parity, no RNG.
  */
object Similarity {

  def quantized(emb: DataFrame): DataFrame =
    // widen float→double BEFORE scaling (see Dedup.quantized)
    emb.select(col("vec_id"), col("label"),
      transform(col("embedding"), x => round(x.cast("double") * 10000).cast("long")).as("v"))

  // native codegen'd expression — the HOF form (aggregate∘zip_with)
  // interprets per element and dominated the N²-pair stages
  private def dot(a: Column, b: Column): Column = graft.functions.DotLong(a, b)

  // Zero-norm guard: 0/0 is NULL in Spark but NaN in DuckDB (default
  // ieee_floating_point_ops), and NaN sorts ABOVE all reals in DuckDB's
  // ORDER BY cos DESC — a silent cross-engine divergence. Degenerate
  // vectors get cosine 0.0 ("no similarity signal"), a total-order
  // value both engines agree on.
  private def cosine(va: Column, vb: Column): Column = {
    val na = dot(va, va)
    val nb = dot(vb, vb)
    when(na > 0 && nb > 0,
      dot(va, vb).cast("double") /
        (sqrt(na.cast("double")) * sqrt(nb.cast("double"))))
      .otherwise(lit(0.0))
  }

  /** Exact top-k neighbors for each query vector (vec_id < numQueries),
    * ranked by cosine desc with vec_id tie-break. The query side is
    * broadcast — the big side streams through unchanged.
    */
  def bruteForceTopK(emb: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val q = quantized(emb)
    val queries = broadcast(
      q.where(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    q.select(col("vec_id").as("neighbor_id"), col("v"))
      .crossJoin(queries)
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos"))
  }

  private[graft] val NumTables = 4 // independent hash tables
  private[graft] val BitsPerTable = 4
  private[graft] val Dim = 64

  /** Auto-sized bucket width (see [[lshSignatureBits]]): up to 24 bits
    * = 16M buckets per table, enough to hold expected occupancy at
    * billions of vectors. The auto plane family lives at indices
    * `AutoPlaneBase + t·AutoMaxBits + b` — disjoint from the legacy
    * 16-plane family, and STABLE under bucket-width growth (widening
    * from B to B+1 bits appends plane b=B per table; the first B bits
    * are unchanged, so the B+1-bit buckets REFINE the B-bit buckets).
    */
  private[graft] val AutoMaxBits = 24
  private[graft] val AutoPlaneBase = 1000

  /** Smallest bucket width (≥ the legacy 4, ≤ [[AutoMaxBits]]) whose
    * expected bucket occupancy n/2^bits is at most `occupancy` —
    * integer-exact (`occupancy·2^b ≥ n`, no floating log), so the
    * Spark plan and the DuckDB oracle can never disagree at a
    * power-of-two boundary.
    */
  private[graft] def autoBits(n: Long, occupancy: Long = 64L): Int =
    (BitsPerTable to AutoMaxBits)
      .find(b => (occupancy << b) >= n).getOrElse(AutoMaxBits)

  /** ±1 hyperplane component for (plane p, dim j): parity of the first
    * md5 hex digit of "p|j". Deterministic, engine-independent.
    */
  private def planeSign(p: Int, j: Int): Int = {
    // evaluated at planning time on the driver — tiny (16×64) and baked
    // into the plan as literals, so executors do no md5 work for planes
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p|$j".getBytes("UTF-8"))
    val firstHexDigit = (d(0) >> 4) & 0xf
    if (firstHexDigit % 2 == 1) 1 else -1
  }

  /** Multi-table sign-random-projection signatures: table t gets a
    * BitsPerTable-bit bucket from planes t·B..t·B+B-1 (bit b = 1 iff
    * Σ_j sign(p,j)·v[j] > 0). One narrow pass; a single 4-bit table is
    * too selective (recall collapses), while T independent tables give
    * union recall 1-(1-p^B)^T — the standard recall/cost knob.
    */
  def lshSignature(q: DataFrame): DataFrame = {
    val buckets = (0 until NumTables).map { t =>
      val bits = (0 until BitsPerTable).map { b =>
        val p = t * BitsPerTable + b
        // projection = dot with the literal ±1 plane vector via the
        // native codegen'd dot_long — a 64-term sum expression tree per
        // plane (1024 nodes total) blew past codegen limits
        val plane = typedLit((0 until Dim).map(j => planeSign(p, j).toLong))
        val proj = graft.functions.DotLong(col("v"), plane)
        when(proj > 0, lit(1L << (BitsPerTable - 1 - b))).otherwise(lit(0L))
      }
      bits.reduce(_ + _).as(s"sig$t")
    }
    q.select(col("*") +: buckets: _*)
  }

  /** [[lshSignature]] with a CALLER-SIZED bucket width, over the auto
    * plane family (see [[AutoMaxBits]]). This is the knob that keeps
    * the banded self-join LINEAR as the corpus grows: with the legacy
    * fixed 4-bit tables, candidates per table are Σ n_b² ≈ n²/16 — a
    * structurally quadratic shape the 100× rehearsal measured at 206×
    * wall on 100× data. Sizing bits so n/2^bits stays at a constant
    * occupancy makes candidates ≈ n·occupancy/2 per table. The recall
    * trade is explicit: per-table collision probability for an
    * angle-θ pair is (1−θ/π)^bits, union recall 1−(1−p^bits)^T — wider
    * buckets lower recall for LOOSE thresholds, so the auto path is
    * for NEAR-DUP thresholds (cos ≥ ~0.9, where p ≈ 0.93 keeps
    * per-table recall useful at 24 bits, and exact duplicates collide
    * with probability 1 at any width); holding recall for loose
    * thresholds at scale requires growing tables, not buckets.
    */
  def lshSignatureBits(q: DataFrame, bits: Int): DataFrame = {
    require(bits >= 1 && bits <= AutoMaxBits, s"bits in 1..$AutoMaxBits")
    val buckets = (0 until NumTables).map { t =>
      val bs = (0 until bits).map { b =>
        val p = AutoPlaneBase + t * AutoMaxBits + b
        val plane = typedLit((0 until Dim).map(j => planeSign(p, j).toLong))
        val proj = graft.functions.DotLong(col("v"), plane)
        when(proj > 0, lit(1L << (bits - 1 - b))).otherwise(lit(0L))
      }
      bs.reduce(_ + _).as(s"sig$t")
    }
    q.select(col("*") +: buckets: _*)
  }

  /** Explode a signed DataFrame into (table, bucket) membership rows —
    * NumTables rows per vector; every non-sig column rides along.
    */
  private[graft] def lshBuckets(q: DataFrame): DataFrame =
    explodeBuckets(lshSignature(q), q.columns)

  /** [[lshBuckets]] over the auto plane family at `bits` width. */
  private[graft] def lshBucketsBits(q: DataFrame, bits: Int): DataFrame =
    explodeBuckets(lshSignatureBits(q, bits), q.columns)

  private def explodeBuckets(sig: DataFrame, keepNames: Seq[String]): DataFrame = {
    val keep = keepNames.map(col)
    sig.select(keep :+ explode(array((0 until NumTables).map(t =>
        struct(lit(t).as("t"), col(s"sig$t").as("bucket"))): _*)).as("tb"): _*)
      .select(keep :+ col("tb.t").as("t") :+ col("tb.bucket").as("bucket"): _*)
  }

  /** ANN via multi-table LSH: candidates share a bucket in ANY table
    * (union over tables, deduped), ranked by exact cosine. Recall vs
    * bruteForceTopK is checked in the test suite.
    */
  def lshTopK(emb: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val tb = lshBuckets(quantized(emb))
      .select(col("vec_id"), col("v"), col("t"), col("bucket"))
    val queries = broadcast(
      tb.where(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("t"), col("bucket")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    tb.select(col("vec_id").as("neighbor_id"), col("v"), col("t"), col("bucket"))
      .join(queries, Seq("t", "bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("neighbor_id"), col("v"))
      // a pair colliding in several tables counts once; dedup on the
      // pair KEYS (cheap fixed-width shuffle) — a full distinct would
      // compare the embedding arrays too
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos", cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos"))
  }

  /** Nearest-centroid assignment against a SMALL centroid list baked
    * into the plan as literals (the [[lshSignature]] plane trick):
    * a narrow, shuffle-free pass — no join, no window — which is the
    * shape that survives 100 TB. Tie-break: cosine desc, centroid id
    * asc, via the struct-max pattern.
    */
  def assignToCentroids(q: DataFrame, cents: Seq[(Long, Seq[Long])]): DataFrame = {
    require(cents.nonEmpty, "need at least one centroid")
    val structs = array(cents.map { case (cid, cv) =>
      struct(cosine(col("v"), typedLit(cv)).as("cos"),
        lit(-cid).as("nc"), lit(cid).as("cid"))
    }: _*)
    q.withColumn("cluster", array_max(structs).getField("cid"))
  }

  /** Lloyd's k-means over quantized integer embeddings — the semantic
    * clustering primitive under IVF index building, cluster-balanced
    * sampling and embedding-level dedup.
    *
    * Engine-reproducible by construction: init = the k lowest-id
    * vectors; centroids stay INTEGER (element-wise floor-average of
    * exact long sums) so no float accumulation order can perturb a
    * round; assignment ties break deterministically. Empty clusters are
    * dropped (never re-seeded) — same rule every engine can replicate.
    *
    * Per round: one narrow assignment pass (centroids are plan
    * literals) + one map-side-combinable aggregation producing k·d
    * longs. Only those k·d values ever reach the driver — bounded by
    * (k, dim), independent of corpus size, the same driver state any
    * k-means fit (e.g. Spark MLlib's) keeps between rounds.
    */
  def kmeansFit(emb: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansFitQ(quantized(emb).select(col("vec_id"), col("v")), k, iters, Dim)

  /** [[kmeansFit]]'s core over an ALREADY-quantized (vec_id, v) frame
    * of `dims`-long vectors — shared with [[pqCodes]], which fits one
    * codebook per sub-vector block.
    */
  private[operators] def kmeansFitQ(
      q: DataFrame, k: Int, iters: Int, dims: Int): DataFrame =
    kmeansFitQCents(q, k, iters, dims)._1

  /** `kmeansFitQ` plus the FINAL centroid table — [[pqTopK]] needs
    * the codebook itself to reconstruct vectors for asymmetric
    * distances. Centroids are k·dims longs of driver state, the
    * bounded-collect pattern.
    */
  private[operators] def kmeansFitQCents(
      q: DataFrame, k: Int, iters: Int, dims: Int): (DataFrame, Seq[(Long, Seq[Long])]) = {
    var cents: Seq[(Long, Seq[Long])] =
      q.orderBy(col("vec_id")).limit(k).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq
    var assigned = assignToCentroids(q, cents)
    (1 to iters).foreach { _ =>
      cents = assigned.groupBy(col("cluster"))
        .agg(array((0 until dims).map(j =>
          floor(sum(element_at(col("v"), j + 1)) / count(lit(1))).cast("long")): _*).as("cv"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq
        .sortBy(_._1)
      assigned = assignToCentroids(q, cents)
    }
    (assigned.select(col("vec_id"), col("cluster")), cents)
  }

  /** Incremental IVF index maintenance: fit centroids ONCE on the
    * existing corpus ([[kmeansFit]]'s loop), then assign an arriving
    * batch against the FROZEN centroid table — the standard ANN-index
    * ingest path (FAISS `add` after `train`): new vectors get their
    * inverted-list cell in one narrow, shuffle-free pass (centroids
    * are plan literals — no join, no window, no re-read of the
    * indexed corpus), so ingest cost is O(batch), independent of
    * index size. Assigning an already-indexed vector reproduces its
    * original cell exactly (same centroid set, same tie-break), so
    * the incremental path and a full rebuild agree wherever they
    * overlap — the invariant the spec asserts. Centroid refresh
    * stays a periodic offline refit (the k-means rule that empty
    * cells are dropped, never reseeded, makes the frozen table stable
    * under any batch composition).
    */
  def ivfIncremental(embBase: DataFrame, embNew: DataFrame,
      k: Int, iters: Int): DataFrame = {
    val (_, cents) = kmeansFitQCents(
      quantized(embBase).select(col("vec_id"), col("v")), k, iters, Dim)
    assignToCentroids(quantized(embNew).select(col("vec_id"), col("v")), cents)
      .select(col("vec_id"), col("cluster"))
  }

  /** PQ asymmetric-distance top-k — the search side of [[pqCodes]]:
    * corpus vectors are replaced by their codebook RECONSTRUCTIONS
    * (per block, the centroid the code names — a when-chain over plan
    * literals, shuffle-free), queries keep their EXACT vectors, and
    * ranking runs on cos(query, reconstruction). This is the standard
    * ADC trade: ~blocks·log2(k) bits per corpus vector in exchange
    * for quantization error the recall report quantifies. Scale
    * shape matches [[bruteForceTopK]] (queries broadcast, corpus
    * streams, per-query window top-k) with the corpus column now
    * codebook-compressed — at 100 TB the reconstruction would read
    * the stored codes instead of refitting.
    */
  def pqTopK(emb: DataFrame, blocks: Int, kCodebook: Int, iters: Int,
      numQueries: Int, k: Int): DataFrame = {
    require(blocks >= 1 && Dim % blocks == 0, s"blocks must divide Dim=$Dim")
    val sub = Dim / blocks
    val q = quantized(emb).select(col("vec_id"), col("v"))
    val recon = (0 until blocks).map { b =>
      val qb = q.select(col("vec_id"), slice(col("v"), b * sub + 1, sub).as("v"))
      val (assigned, cents) = kmeansFitQCents(qb, kCodebook, iters, sub)
      val reconB = cents.tail.foldLeft(
        when(col("cluster") === cents.head._1, typedLit(cents.head._2))) {
        case (acc, (cid, cv)) => acc.when(col("cluster") === cid, typedLit(cv))
      }
      assigned.select(col("vec_id"), reconB.as(s"r$b"))
    }.reduce(_.join(_, Seq("vec_id")))
      .select(col("vec_id"),
        concat((0 until blocks).map(b => col(s"r$b")): _*).as("rv"))
    val queries = broadcast(q.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    recon.select(col("vec_id").as("neighbor_id"), col("rv"))
      .crossJoin(queries)
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("rv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos"))
  }

  /** Product-quantization codes — the memory-side member of the ANN
    * triple next to the LSH tables and the IVF probe: the vector
    * splits into `blocks` contiguous sub-vectors, each block gets its
    * OWN k-centroid codebook (the shared deterministic integer
    * `kmeansFitQ`), and a vector compresses to `blocks` small codes
    * — k^blocks virtual cells from only blocks·k centroids. At 100 TB
    * this is what makes a billion-vector index fit in memory:
    * blocks·log2(k) bits per vector instead of dims·32, with
    * asymmetric distances reconstructible from blocks tiny
    * query-to-codebook tables. Codebook fitting inherits kmeans'
    * bounds (per block: narrow assignment passes + one k·sub-dim
    * aggregation to the driver); code assignment is shuffle-free
    * (centroids ride as plan literals); the final code table joins
    * the blocks on vec_id.
    *
    * Output: (vec_id, c0..c{blocks−1}) — flat BIGINT code columns,
    * engine-reproducible bit-for-bit.
    */
  def pqCodes(emb: DataFrame, blocks: Int, k: Int, iters: Int): DataFrame = {
    require(blocks >= 1 && Dim % blocks == 0, s"blocks must divide Dim=$Dim")
    val sub = Dim / blocks
    val q = quantized(emb).select(col("vec_id"), col("v"))
    (0 until blocks).map { b =>
      val qb = q.select(col("vec_id"), slice(col("v"), b * sub + 1, sub).as("v"))
      kmeansFitQ(qb, k, iters, sub).select(col("vec_id"), col("cluster").as(s"c$b"))
    }.reduce(_.join(_, Seq("vec_id")))
  }

  /** Per-dimension (min, max) of the quantized corpus, collected to
    * the driver — 2·Dim longs of bounded state (the k-means centroid
    * pattern): ONE map-side-combinable aggregation however large the
    * corpus, and the range table rides back into the plan as literals.
    */
  private def sqRange(q: DataFrame): (Seq[Long], Seq[Long]) = {
    val row = q.agg(
      array((0 until Dim).map(j => min(element_at(col("v"), j + 1))): _*).as("mn"),
      array((0 until Dim).map(j => max(element_at(col("v"), j + 1))): _*).as("mx"))
      .head()
    (row.getSeq[Long](0), row.getSeq[Long](1))
  }

  /** Scalar-quantization codes (SQ8) — the third compression member of
    * the ANN family next to [[pqCodes]] and the LSH tables: each
    * dimension maps affinely onto [0, 255] against its own corpus-wide
    * (min, max) range, so a vector stores as Dim bytes with NO
    * codebook fit at all. The standard first rung of the memory
    * ladder (float32 → SQ8 → PQ): 4× smaller than floats, cheaper to
    * build than PQ (one range aggregation vs per-block k-means), and
    * decoded by two integer ops per dimension. All arithmetic is
    * exact 64-bit integer (scaled inputs, integer division), so codes
    * are engine-identical.
    *
    * Scale shape: one range aggregation (driver-bounded, 2·Dim longs)
    * + one shuffle-free codegen'd projection; a constant dimension
    * (max = min) codes to 0 everywhere and decodes to that constant.
    *
    * Output: (vec_id, codes_str) — the space-joined byte sequence,
    * order-preserving and engine-comparable.
    */
  def sqCodes(emb: DataFrame): DataFrame = {
    val q = quantized(emb).select(col("vec_id"), col("v"))
    val (mn, mx) = sqRange(q)
    q.select(col("vec_id"),
      array_join(sqCodeArray(col("v"), mn, mx), " ").as("codes_str"))
  }

  /** The per-vector code array for [[sqCodes]]/[[sqTopK]]: ranges ride
    * as array literals, element i reads its own (lo, hi) by index —
    * pure codegen'd array expressions, shuffle-free.
    */
  private def sqCodeArray(v: Column, mn: Seq[Long], mx: Seq[Long]): Column = {
    val mnL = typedLit(mn)
    val mxL = typedLit(mx)
    transform(v, (x, i) => {
      val lo = element_at(mnL, (i + 1).cast("int"))
      val hi = element_at(mxL, (i + 1).cast("int"))
      // exact: operands stay far inside the 2^53 double-exact window
      when(hi > lo, ((x - lo) * 255 / (hi - lo)).cast("long")).otherwise(lit(0L))
    })
  }

  /** SQ asymmetric-distance top-k — the search side of [[sqCodes]],
    * the same ADC trade [[pqTopK]] makes: corpus vectors are replaced
    * by their SQ reconstructions (lo + code·(hi−lo)/255, integer),
    * queries keep exact vectors, ranking runs on cosine against the
    * reconstruction. Plan shape matches [[bruteForceTopK]]: queries
    * broadcast, corpus streams through one codegen'd
    * encode-decode-score projection, per-query window top-k.
    */
  def sqTopK(emb: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val q = quantized(emb).select(col("vec_id"), col("v"))
    val (mn, mx) = sqRange(q)
    val mnL = typedLit(mn)
    val mxL = typedLit(mx)
    val recon = transform(sqCodeArray(col("v"), mn, mx), (c, i) => {
      val lo = element_at(mnL, (i + 1).cast("int"))
      val hi = element_at(mxL, (i + 1).cast("int"))
      lo + (c * (hi - lo) / 255).cast("long")
    })
    val queries = broadcast(q.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    q.select(col("vec_id").as("neighbor_id"), recon.as("rv"))
      .crossJoin(queries)
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("rv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos"))
  }

  /** Cluster-balanced (diversity) sampling: k-means the embeddings,
    * then keep `perCluster` hash-chosen vectors per cluster — the
    * standard "cover the semantic space, don't let one mode dominate"
    * downsampling step before training. Selection within a cluster is
    * ordered by a salted hash fraction (deterministic, engine-free),
    * so the sample is reproducible and unbiased within the cluster.
    *
    * Scale: the per-cluster pick is a window top-n — one shuffle
    * partitioned by cluster. A cluster's partition holds only its OWN
    * rows; k is the parallelism floor, so pick k ≫ executor count at
    * real scale (or pre-filter with a hash threshold when clusters are
    * huge and exactness of the per-cluster count isn't required).
    */
  def clusterBalancedSample(
      emb: DataFrame, k: Int, iters: Int, perCluster: Int,
      salt: String = "diverse"): DataFrame = {
    val assigned = kmeansFit(emb, k, iters)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(Sampling.hashFraction(col("vec_id"), salt), col("vec_id"))
    assigned.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= perCluster)
      .select(col("vec_id"), col("cluster"))
  }

  /** Cluster labeling: the top-m most DISTINCTIVE terms per embedding
    * cluster — the step that turns an unlabeled k-means partition into
    * a human-readable topic map of the corpus. Distinctiveness is
    * integer lift in ppm: (cdf/csize) ÷ (df/N) = (cdf·N·10⁶) div
    * (df·csize) — how over-represented the term is inside the cluster
    * vs the corpus, computed entirely in 64-bit integer arithmetic so
    * every engine ranks identically.
    *
    * Scale shape: the doc→cluster assignment joins the distinct
    * (doc, term) stream on doc_id (one fact-keyed shuffle), cluster
    * term counts and global df are both map-side-combinable
    * aggregations, the corpus size rides in as a 1-row broadcast, and
    * the final top-m is a per-cluster window over the (clusters ×
    * vocab) table — already tiny relative to the corpus.
    */
  def clusterTerms(emb: DataFrame, docs: DataFrame,
      k: Int, iters: Int, m: Int): DataFrame = {
    val assigned = kmeansFit(emb, k, iters)
    val toks = Tokens.of(col("text"))
    val dterm = docs.select(col("doc_id"), explode(array_distinct(toks)).as("term"))
    val cdf = dterm.join(assigned.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
      .groupBy(col("cluster"), col("term")).agg(count(lit(1)).as("cdf"))
    val csize = assigned.groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
    val dfreq = dterm.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = cdf.join(csize, Seq("cluster")).join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("lift_ppm", expr("(cdf * n_docs * 1000000) div (df * csize)"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("lift_ppm").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= m)
      .select(col("cluster"), col("rank"), col("term"),
        col("cdf"), col("df"), col("lift_ppm"))
  }

  /** Hybrid retrieval — reciprocal-rank fusion of the lexical top-k
    * ([[TextAnalysis.lexicalTopK]]) and the embedding top-k over the
    * same query set: the RAG-stack shape where BM25-ish term match and
    * dense cosine each miss what the other catches, and the fused list
    * beats both. RRF needs only RANKS, so the two retrievers never
    * have to agree on a score scale.
    *
    * Fusion arithmetic is the engine's integer-surrogate contract:
    * `1_000_000 div (rrfK + rank)` summed per modality — order-
    * isomorphic to the textbook 1/(k+r) floats but bit-identical
    * cross-engine. A doc absent from one list contributes 0 from it.
    *
    * Scale shape: each retriever keeps its own bounded-candidate plan
    * (posting-list join; broadcast query side), the fusion join runs
    * at the O(queries·kPer) grain — tiny — and the final top-k is a
    * per-query WindowGroupLimit, not a global sort.
    */
  def hybridTopK(docs: DataFrame, emb: DataFrame, queryMod: Int = 101,
      kPer: Int = 10, k: Int = 5, rrfK: Int = 60): DataFrame = {
    val lex = TextAnalysis.lexicalTopK(docs, queryMod, kPer)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val qn = quantized(emb)
    val queries = broadcast(qn.where(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv")))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("doc_id"))
    val sem = qn.select(col("vec_id").as("doc_id"), col("v"))
      .crossJoin(queries)
      .where(col("doc_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("v")))
      .withColumn("sem_rank", row_number().over(ws).cast("long"))
      .where(col("sem_rank") <= kPer)
      .select(col("query_id"), col("doc_id"), col("sem_rank"))
    rrfFuse(lex, sem, k, rrfK)
  }

  /** The RRF fusion stage shared by [[hybridTopK]] and
    * [[hybridTopKAnn]]: full-outer join at the O(queries·kPer) grain,
    * integer-surrogate reciprocal ranks, per-query WindowGroupLimit.
    */
  private def rrfFuse(lex: DataFrame, sem: DataFrame,
      k: Int, rrfK: Int): DataFrame = {
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr(s"1000000 div ($rrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($rrfK + sem_rank)"), lit(0L)))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wf).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("lex_rank"), col("sem_rank"), col("rrf"))
  }

  /** [[hybridTopK]] with the semantic arm BUCKETED at the count-auto
    * grain — the 100 TB form. The exhaustive arm above scores every
    * (query, vector) pair — an O(n·queries) cross join measured at
    * 60 s / ratio 44 on 100× bench data, the worst non-baseline
    * similarity ratio — while this form probes only each query's
    * SRP-LSH buckets at occupancy held CONSTANT by the
    * [[autoBits]]/⌈n/occ⌉ width rule: per-query candidates are bounded
    * by tables × occupancy, independent of corpus size, and the query
    * side — which grows as n/queryMod — is broadcast only while it
    * fits the [[Dedup.attachBroadcastable]] budget (shuffle probe join
    * past it; the map-side probe is an optimization, never an
    * assumption). The FIXED
    * 4-bit grain ([[lshBuckets]]) was A/B-measured here and REJECTED:
    * at 100× data its 16-bucket space saturates (12.5 k vectors per
    * bucket), the probe join emits 200 M candidates, and the "scale
    * path" ran 2.8× SLOWER than the brute-force arm it replaces
    * (167 s vs 60 s); the auto grain is what makes bucketing win. The
    * lexical arm, RRF arithmetic, and output schema are IDENTICAL to
    * [[hybridTopK]] — swapping the semantic retriever never changes
    * the fusion contract.
    *
    * Recall contract: the bucketed arm can miss low-cosine neighbors
    * the exhaustive arm would surface (per-table collision for an
    * angle-θ pair is (1−θ/π)^bits, and the auto width GROWS with the
    * corpus); exact duplicates collide in every table, and
    * [[annRecall]] ([[queries]] `ss_recall`) is the report that
    * validates the trade before pointing it at a corpus. One
    * driver-side COUNT picks the width; the oracle recomputes it from
    * COUNT(*) with the same integer rules.
    */
  def hybridTopKAnn(docs: DataFrame, emb: DataFrame, queryMod: Int = 101,
      kPer: Int = 10, k: Int = 5, rrfK: Int = 60,
      occupancy: Long = 64L): DataFrame = {
    require(occupancy > 0, "occupancy must be positive")
    val lex = TextAnalysis.lexicalTopK(docs, queryMod, kPer)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val n = emb.count()
    val bits = autoBits(n, occupancy)
    val numBuckets = math.max(1L, (n + occupancy - 1) / occupancy)
    val tb = lshBucketsBits(quantized(emb).select(col("vec_id"), col("v")), bits)
      .select(col("vec_id"), col("v"), col("t"),
        pmod(col("bucket"), lit(numBuckets)).as("bucket"))
    // the query side is n/queryMod vectors × NumTables exploded rows —
    // it GROWS with the corpus, so broadcasting it is a driver-decided
    // budget call (the same attachBroadcastable rule as the pairs
    // payload, sized from the measured MAX vector width × the table
    // fan-out), never an assumption: past the budget the probe join
    // runs as a shuffle join on (t, bucket) — linear either way
    val dim = emb.agg(max(size(col("embedding"))).as("d")).head() match {
      case r if !r.isNullAt(0) => r.getInt(0).toLong
      case _                   => 64L
    }
    val qRows = (n / math.max(1, queryMod) + 1) * NumTables
    val qSide = tb.where(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("t"), col("bucket"))
    val queries =
      if (Dedup.attachBroadcastable(qRows, dim)) broadcast(qSide) else qSide
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("doc_id"))
    val sem = tb.select(col("vec_id").as("doc_id"), col("v"), col("t"),
        col("bucket"))
      .join(queries, Seq("t", "bucket"))
      .where(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("doc_id"), col("v"))
      // a pair colliding in several tables counts once; dedup on the
      // pair KEYS only (the payload columns are identical per pair)
      .dropDuplicates("query_id", "doc_id")
      .withColumn("cos", cosine(col("qv"), col("v")))
      .withColumn("sem_rank", row_number().over(ws).cast("long"))
      .where(col("sem_rank") <= kPer)
      .select(col("query_id"), col("doc_id"), col("sem_rank"))
    rrfFuse(lex, sem, k, rrfK)
  }

  /** Recall@k of an ANN result list against the exact brute-force
    * top-k — the [[graft.operators.Dedup.evaluateMinhashPlan]] of the
    * similarity family: the report that validates an LSH/IVF config on
    * a query sample before pointing it at the full corpus. Per query:
    * hits = |ann ∩ exact| (inner join on the pair key), recall =
    * hits/k as one correctly-rounded division. The join runs at the
    * O(queries·k) grain; the dominant cost is the exact baseline
    * itself, which is the point of running it on a SAMPLE.
    */
  def annRecall(ann: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k > 0, "need k > 0")
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(ann.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / k).as("recall"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LSH recall against the exact top-10 per query — the config
    // validation report for the ANN path
    "ss_recall" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      annRecall(
        lshTopK(emb, numQueries = 5, k = 10),
        bruteForceTopK(emb, numQueries = 5, k = 10), k = 10)
        .orderBy("query_id")
    }),
    // full k-means assignment after one Lloyd round from the
    // deterministic k-lowest-id init — every vector's cluster checked
    "ss_kmeans" -> ((s, dir) =>
      kmeansFit(table(s, dir, "embeddings"), k = 4, iters = 1)
        .orderBy("vec_id")),
    // incremental IVF ingest: centroids trained on the existing corpus
    // (vec_id % 5 != 0), the "arriving" batch (vec_id % 5 == 0)
    // assigned against the frozen table — no refit, no corpus re-read
    "ss_ivf_incremental" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      ivfIncremental(
        e.where(pmod(col("vec_id"), lit(5)) =!= 0),
        e.where(pmod(col("vec_id"), lit(5)) === 0), k = 4, iters = 1)
        .orderBy("vec_id")
    }),
    // product-quantization codes: 4 blocks of 16 dims, 4-centroid
    // codebook each — 256 virtual cells from 16 centroids
    "ss_pq_codes" -> ((s, dir) =>
      pqCodes(table(s, dir, "embeddings"), blocks = 4, k = 4, iters = 1)
        .orderBy("vec_id")),
    // PQ asymmetric-distance recall vs the exact top-10 — quantifies
    // the compression/recall trade at a realistic operating point
    // (16-centroid codebooks -> 16^4 virtual cells, 16 bits/vector)
    "ss_pq_recall" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      annRecall(
        pqTopK(emb, blocks = 4, kCodebook = 16, iters = 1, numQueries = 5, k = 10),
        bruteForceTopK(emb, numQueries = 5, k = 10), k = 10)
        .orderBy("query_id")
    }),
    // scalar-quantization codes: every dimension affinely mapped onto
    // [0,255] against its corpus range — Dim bytes/vector, no codebook
    "ss_sq_codes" -> ((s, dir) =>
      sqCodes(table(s, dir, "embeddings")).orderBy("vec_id")),
    // SQ asymmetric-distance recall vs the exact top-10 — quantifies
    // the 4x-compression rung below PQ on the memory ladder
    "ss_sq_recall" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      annRecall(
        sqTopK(emb, numQueries = 5, k = 10),
        bruteForceTopK(emb, numQueries = 5, k = 10), k = 10)
        .orderBy("query_id")
    }),
    // 25 hash-chosen vectors from each of 4 k-means clusters
    "ss_diverse_sample" -> ((s, dir) =>
      clusterBalancedSample(table(s, dir, "embeddings"),
        k = 4, iters = 1, perCluster = 25)
        .orderBy("vec_id")),
    "ss_knn" -> ((s, dir) =>
      bruteForceTopK(table(s, dir, "embeddings"), numQueries = 5, k = 10)
        .orderBy("query_id", "rank")),
    // RRF fusion of lexical and embedding retrieval (doc_id ↔ vec_id
    // share the id space: the embedding of document i)
    "ss_hybrid" -> ((s, dir) =>
      hybridTopK(table(s, dir, "documents"), table(s, dir, "embeddings"))
        .orderBy("query_id", "rank")),
    // the bucketed-semantic-arm twin: same fusion contract, candidates
    // per query bounded by tables × bucket occupancy instead of n
    "ss_hybrid_ann" -> ((s, dir) =>
      hybridTopKAnn(table(s, dir, "documents"), table(s, dir, "embeddings"))
        .orderBy("query_id", "rank")),
    // topic labels for the k-means clusters: vec_id ↔ doc_id share the
    // id space in the test tables (the embedding of document i)
    "ss_cluster_terms" -> ((s, dir) =>
      clusterTerms(table(s, dir, "embeddings"), table(s, dir, "documents"),
        k = 4, iters = 1, m = 3)
        .orderBy("cluster", "rank")),
    "ss_ann_lsh" -> ((s, dir) =>
      lshTopK(table(s, dir, "embeddings"), numQueries = 5, k = 10)
        .orderBy("query_id", "rank")),
    // IVF-style partitioned search: centroids = per-label integer mean
    // (the label column stands in for a k-means assignment); each query
    // probes only its nearest centroid's partition.
    "ss_ivf_probe" -> ((s, dir) => {
      val q = quantized(table(s, dir, "embeddings"))
      // integer centroid: element-wise floor-average of quantized vecs
      val cent = q.groupBy(col("label")).agg(
        count(lit(1)).as("n"),
        array((0 until Dim).map(j =>
          floor(sum(element_at(col("v"), j + 1)) / count(lit(1))).cast("long")): _*).as("cv"))
      val queries = broadcast(
        q.where(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("v").as("qv")))
      // nearest centroid per query by cosine
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("ccos").desc, col("label"))
      val probe = queries.crossJoin(cent)
        .withColumn("ccos", cosine(col("qv"), col("cv")))
        .withColumn("r", row_number().over(wq))
        .where(col("r") === 1)
        .select(col("query_id"), col("qv"), col("label"))
      // search only within the probed partition
      val wk = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      q.join(probe, Seq("label"))
        .where(col("vec_id") =!= col("query_id"))
        .withColumn("cos", cosine(col("qv"), col("v")))
        .withColumn("rank", row_number().over(wk))
        .where(col("rank") <= 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("vec_id").as("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),
  )

  private val quantSql =
    "SELECT vec_id, label, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS v FROM embeddings"

  // mirrors cosine()'s zero-norm guard so both engines agree on 0/0
  private def cosSql(a: String, b: String) =
    s"CASE WHEN list_dot_product($a, $a) > 0 AND list_dot_product($b, $b) > 0" +
      s" THEN list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))" +
      " ELSE 0.0 END"

  // plane sign literal matrix, rendered into the oracle SQL so DuckDB
  // agrees bit-for-bit with the Spark literals
  private[graft] def planeSignList(p: Int): String =
    (0 until Dim).map(j => planeSign(p, j)).mkString("[", ", ", "]")

  /** Shared oracle CTE fragment: plane matrix → per-vector (t, bucket)
    * membership (`tb`), given a `q(vec_id, v)` CTE already in scope.
    * Used by both the ANN oracle here and Dedup's LSH-gated
    * embedding-pairs oracle so the two stay bit-identical.
    */
  private[graft] def lshBucketsSqlCte: String =
    s"""planes AS (
       |${(0 until NumTables * BitsPerTable).map(p =>
          s" SELECT $p AS p, ${planeSignList(p)} AS s").mkString(" UNION ALL\n")}),
       |proj AS (
       | SELECT q.vec_id, p,
       |  list_sum(list_transform(range(1, ${Dim + 1}), j -> q.v[j] * s[j])) AS d
       | FROM q CROSS JOIN planes),
       |sig AS (
       | SELECT vec_id, p // $BitsPerTable AS t,
       |  SUM(CASE WHEN d > 0 THEN CAST(POWER(2, ${BitsPerTable - 1} - (p % $BitsPerTable)) AS BIGINT) ELSE 0 END) AS bucket
       | FROM proj GROUP BY vec_id, p // $BitsPerTable),
       |tb AS (SELECT q.vec_id, q.v, sig.t, sig.bucket FROM q JOIN sig USING (vec_id))""".stripMargin

  /** Oracle CTE for the AUTO-SIZED bucket grain ([[lshSignatureBits]]/
    * [[autoBits]]): the bit count AND the ⌈n/occupancy⌉ bucket-count
    * fold are computed from COUNT(*) with the same integer rules as
    * the Spark plan (no floating log anywhere), the plane matrix is
    * the auto family (AutoPlaneBase + t·AutoMaxBits + b), and only
    * planes below the computed width contribute. Produces `tb` like
    * [[lshBucketsSqlCte]].
    */
  private[graft] def lshBucketsAutoSqlCte(occupancy: Long): String =
    s"""bits AS (
       | SELECT COALESCE(MIN(b), $AutoMaxBits) AS nb FROM range($BitsPerTable, ${AutoMaxBits + 1}) t(b)
       | WHERE $occupancy * (CAST(1 AS BIGINT) << b) >= (SELECT COUNT(*) FROM q)),
       |nbuck AS (
       | SELECT GREATEST(((SELECT COUNT(*) FROM q) + ${occupancy - 1}) // $occupancy, 1) AS m),
       |planes AS (
       |${(0 until NumTables * AutoMaxBits).map(i =>
          s" SELECT $i AS i, ${planeSignList(AutoPlaneBase + (i / AutoMaxBits) * AutoMaxBits + (i % AutoMaxBits))} AS s")
         .mkString(" UNION ALL\n")}),
       |proj AS (
       | SELECT q.vec_id, i,
       |  list_sum(list_transform(range(1, ${Dim + 1}), j -> q.v[j] * s[j])) AS d
       | FROM q CROSS JOIN planes WHERE (i % $AutoMaxBits) < (SELECT nb FROM bits)),
       |sig AS (
       | SELECT vec_id, i // $AutoMaxBits AS t,
       |  SUM(CASE WHEN d > 0
       |   THEN (CAST(1 AS BIGINT) << ((SELECT nb FROM bits) - 1 - (i % $AutoMaxBits)))
       |   ELSE 0 END) % (SELECT m FROM nbuck) AS bucket
       | FROM proj GROUP BY vec_id, i // $AutoMaxBits),
       |tb AS (SELECT q.vec_id, q.v, sig.t, sig.bucket FROM q JOIN sig USING (vec_id))""".stripMargin

  /** Shared oracle CTE chain for the k=4, iters=1 k-means gate fit:
    * init c0 = 4 lowest ids → assign a1 → integer centroids c1 →
    * final assignment a2(vec_id, cluster).
    */
  private def kmeansSqlCtes(k: Int, where: String = ""): String =
    s"""q AS ($quantSql$where),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM q ORDER BY vec_id LIMIT $k),
       |a1 AS (SELECT vec_id, v, cid AS cluster FROM (
       |  SELECT q.vec_id, q.v, c.cid,
       |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |     ORDER BY ${cosSql("q.v", "c.cv")} DESC, c.cid) AS r
       |  FROM q CROSS JOIN c0 c) WHERE r = 1),
       |c1 AS (SELECT cluster AS cid, list(cj ORDER BY j) AS cv FROM (
       |  SELECT cluster, j, CAST(FLOOR(SUM(v[j]) / COUNT(*)) AS BIGINT) AS cj
       |  FROM a1, UNNEST(range(1, ${Dim + 1})) AS r(j) GROUP BY cluster, j)
       | GROUP BY cluster),
       |a2 AS (SELECT vec_id, cid AS cluster FROM (
       |  SELECT q.vec_id, c.cid,
       |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |     ORDER BY ${cosSql("q.v", "c.cv")} DESC, c.cid) AS r
       |  FROM q CROSS JOIN c1 c) WHERE r = 1)""".stripMargin

  /** One block's codebook fit for the ss_pq_codes oracle — the
    * kmeansSqlCtes chain over the b-th `sub`-dim slice, CTE names
    * suffixed so `blocks` copies compose in one WITH.
    */
  private def pqBlockSqlCtes(b: Int, sub: Int, k: Int): String = {
    val lo = b * sub + 1
    val hi = (b + 1) * sub
    s"""qb$b AS (SELECT vec_id, v[$lo:$hi] AS v FROM q),
       |c0_$b AS (SELECT vec_id AS cid, v AS cv FROM qb$b ORDER BY vec_id LIMIT $k),
       |a1_$b AS (SELECT vec_id, v, cid AS cluster FROM (
       |  SELECT qb.vec_id, qb.v, c.cid,
       |   ROW_NUMBER() OVER (PARTITION BY qb.vec_id
       |     ORDER BY ${cosSql("qb.v", "c.cv")} DESC, c.cid) AS r
       |  FROM qb$b qb CROSS JOIN c0_$b c) WHERE r = 1),
       |c1_$b AS (SELECT cluster AS cid, list(cj ORDER BY j) AS cv FROM (
       |  SELECT cluster, j, CAST(FLOOR(SUM(v[j]) / COUNT(*)) AS BIGINT) AS cj
       |  FROM a1_$b, UNNEST(range(1, ${sub + 1})) AS r(j) GROUP BY cluster, j)
       | GROUP BY cluster),
       |a2_$b AS (SELECT vec_id, cid AS cluster FROM (
       |  SELECT qb.vec_id, c.cid,
       |   ROW_NUMBER() OVER (PARTITION BY qb.vec_id
       |     ORDER BY ${cosSql("qb.v", "c.cv")} DESC, c.cid) AS r
       |  FROM qb$b qb CROSS JOIN c1_$b c) WHERE r = 1)""".stripMargin
  }

  /** Shared oracle CTEs for the SQ gates: per-dim corpus ranges, then
    * per-(vector, dim) codes — integer floor division matching the
    * Spark projection exactly (all operands non-negative).
    */
  private def sqSqlCtes: String =
    s"""q AS ($quantSql),
       |qj AS (SELECT vec_id, j, v[j] AS x
       |  FROM q, UNNEST(range(1, ${Dim + 1})) r(j)),
       |ds AS (SELECT j, MIN(x) AS mn, MAX(x) AS mx FROM qj GROUP BY j),
       |codes AS (SELECT vec_id, j, mn, mx,
       |  CASE WHEN mx > mn THEN ((x - mn) * 255) // (mx - mn)
       |       ELSE 0 END AS c
       | FROM qj JOIN ds USING (j))""".stripMargin

  def oracles: Map[String, String] = Map(
    "ss_sq_codes" ->
      s"""WITH $sqSqlCtes
         |SELECT vec_id, array_to_string(list(c ORDER BY j), ' ') AS codes_str
         |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "ss_sq_recall" ->
      s"""WITH $sqSqlCtes,
         |rec AS (SELECT vec_id, list(mn + (c * (mx - mn)) // 255 ORDER BY j) AS rv
         | FROM codes GROUP BY vec_id),
         |qs AS (SELECT vec_id AS query_id, v AS qv FROM q WHERE vec_id < 5),
         |ascored AS (SELECT query_id, rec.vec_id AS neighbor_id,
         |  ${cosSql("qv", "rv")} AS cos
         | FROM rec CROSS JOIN qs WHERE rec.vec_id <> query_id),
         |aranked AS (SELECT query_id, neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         | FROM ascored),
         |ann AS (SELECT query_id, neighbor_id FROM aranked WHERE rk <= 10),
         |bscored AS (SELECT query_id, q.vec_id AS neighbor_id,
         |  ${cosSql("qv", "v")} AS cos
         | FROM q CROSS JOIN qs WHERE q.vec_id <> query_id),
         |branked AS (SELECT query_id, neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         | FROM bscored),
         |ex AS (SELECT query_id, neighbor_id FROM branked WHERE rk <= 10),
         |h AS (SELECT ex.query_id, COUNT(*) AS n_hit
         |      FROM ex JOIN ann USING (query_id, neighbor_id) GROUP BY ex.query_id)
         |SELECT e.query_id, COALESCE(n_hit, 0) AS n_hit,
         | CAST(COALESCE(n_hit, 0) AS DOUBLE) / 10 AS recall
         |FROM (SELECT DISTINCT query_id FROM ex) e
         | LEFT JOIN h ON e.query_id = h.query_id
         |ORDER BY e.query_id""".stripMargin,
    "ss_pq_codes" ->
      s"""WITH q AS ($quantSql),
         |${(0 until 4).map(b => pqBlockSqlCtes(b, 16, 4)).mkString(",\n")}
         |SELECT vec_id, a2_0.cluster AS c0, a2_1.cluster AS c1,
         | a2_2.cluster AS c2, a2_3.cluster AS c3
         |FROM a2_0 JOIN a2_1 USING (vec_id) JOIN a2_2 USING (vec_id)
         | JOIN a2_3 USING (vec_id)
         |ORDER BY vec_id""".stripMargin,
    "ss_pq_recall" ->
      s"""WITH q AS ($quantSql),
         |${(0 until 4).map(b => pqBlockSqlCtes(b, 16, 16)).mkString(",\n")},
         |codes AS (SELECT vec_id, a2_0.cluster AS c0, a2_1.cluster AS c1,
         |  a2_2.cluster AS c2, a2_3.cluster AS c3
         | FROM a2_0 JOIN a2_1 USING (vec_id) JOIN a2_2 USING (vec_id)
         |  JOIN a2_3 USING (vec_id)),
         |rec AS (SELECT codes.vec_id, x0.cv || x1.cv || x2.cv || x3.cv AS rv
         | FROM codes JOIN c1_0 x0 ON x0.cid = codes.c0
         |  JOIN c1_1 x1 ON x1.cid = codes.c1
         |  JOIN c1_2 x2 ON x2.cid = codes.c2
         |  JOIN c1_3 x3 ON x3.cid = codes.c3),
         |qs AS (SELECT vec_id AS query_id, v AS qv FROM q WHERE vec_id < 5),
         |ascored AS (SELECT query_id, rec.vec_id AS neighbor_id,
         |  ${cosSql("qv", "rv")} AS cos
         | FROM rec CROSS JOIN qs WHERE rec.vec_id <> query_id),
         |aranked AS (SELECT query_id, neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         | FROM ascored),
         |ann AS (SELECT query_id, neighbor_id FROM aranked WHERE rk <= 10),
         |bscored AS (SELECT query_id, q.vec_id AS neighbor_id,
         |  ${cosSql("qv", "v")} AS cos
         | FROM q CROSS JOIN qs WHERE q.vec_id <> query_id),
         |branked AS (SELECT query_id, neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         | FROM bscored),
         |ex AS (SELECT query_id, neighbor_id FROM branked WHERE rk <= 10),
         |h AS (SELECT ex.query_id, COUNT(*) AS n_hit
         |      FROM ex JOIN ann USING (query_id, neighbor_id) GROUP BY ex.query_id)
         |SELECT e.query_id, COALESCE(n_hit, 0) AS n_hit,
         | CAST(COALESCE(n_hit, 0) AS DOUBLE) / 10 AS recall
         |FROM (SELECT DISTINCT query_id FROM ex) e
         | LEFT JOIN h ON e.query_id = h.query_id
         |ORDER BY e.query_id""".stripMargin,
    "ss_recall" ->
      s"""WITH q AS ($quantSql),
         |$lshBucketsSqlCte,
         |qs AS (SELECT vec_id AS query_id, v AS qqv, t, bucket FROM tb WHERE vec_id < 5),
         |acand AS (
         | SELECT DISTINCT query_id, qqv, tb.vec_id AS neighbor_id, tb.v
         | FROM tb JOIN qs USING (t, bucket) WHERE tb.vec_id <> query_id),
         |ascored AS (
         | SELECT query_id, neighbor_id, ${cosSql("qqv", "v")} AS cos FROM acand),
         |aranked AS (
         | SELECT query_id, neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         | FROM ascored),
         |ann AS (SELECT query_id, neighbor_id FROM aranked WHERE rk <= 10),
         |bqs AS (SELECT vec_id AS query_id, v AS qv FROM q WHERE vec_id < 5),
         |bscored AS (
         | SELECT query_id, vec_id AS neighbor_id, ${cosSql("qv", "v")} AS cos
         | FROM q CROSS JOIN bqs WHERE vec_id <> query_id),
         |branked AS (
         | SELECT query_id, neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         | FROM bscored),
         |ex AS (SELECT query_id, neighbor_id FROM branked WHERE rk <= 10),
         |h AS (SELECT ex.query_id, COUNT(*) AS n_hit
         |      FROM ex JOIN ann USING (query_id, neighbor_id) GROUP BY ex.query_id)
         |SELECT e.query_id, COALESCE(n_hit, 0) AS n_hit,
         | CAST(COALESCE(n_hit, 0) AS DOUBLE) / 10 AS recall
         |FROM (SELECT DISTINCT query_id FROM ex) e
         | LEFT JOIN h ON e.query_id = h.query_id
         |ORDER BY e.query_id""".stripMargin,
    "ss_kmeans" ->
      s"""WITH ${kmeansSqlCtes(4)}
         |SELECT vec_id, cluster FROM a2 ORDER BY vec_id""".stripMargin,
    // the kmeans chain over the base corpus only, then the new batch
    // assigned against c1 — the frozen final centroid table
    "ss_ivf_incremental" ->
      s"""WITH ${kmeansSqlCtes(4, " WHERE vec_id % 5 <> 0")},
         |qn AS ($quantSql WHERE vec_id % 5 = 0),
         |an AS (SELECT vec_id, cid AS cluster FROM (
         |  SELECT qn.vec_id, c.cid,
         |   ROW_NUMBER() OVER (PARTITION BY qn.vec_id
         |     ORDER BY ${cosSql("qn.v", "c.cv")} DESC, c.cid) AS r
         |  FROM qn CROSS JOIN c1 c) WHERE r = 1)
         |SELECT vec_id, cluster FROM an ORDER BY vec_id""".stripMargin,
    "ss_cluster_terms" ->
      s"""WITH ${kmeansSqlCtes(4)},
         |tokr AS (SELECT doc_id,
         |  unnest(string_split_regex(trim(text), ' +')) AS term FROM documents),
         |dterm AS (SELECT DISTINCT doc_id, term FROM tokr),
         |cdf AS (SELECT a2.cluster, dterm.term, COUNT(*) AS cdf
         |  FROM dterm JOIN a2 ON dterm.doc_id = a2.vec_id
         |  GROUP BY a2.cluster, dterm.term),
         |csize AS (SELECT cluster, COUNT(*) AS csize FROM a2 GROUP BY cluster),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM dterm GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |sc AS (SELECT cluster, term, cdf, df,
         |   (cdf * n_docs * 1000000) // (df * csize) AS lift_ppm
         |  FROM cdf JOIN csize USING (cluster) JOIN dfreq USING (term) CROSS JOIN n),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
         |    ORDER BY lift_ppm DESC, term) AS rank FROM sc)
         |SELECT CAST(cluster AS BIGINT) AS cluster, CAST(rank AS BIGINT) AS rank,
         | term, CAST(cdf AS BIGINT) AS cdf, CAST(df AS BIGINT) AS df,
         | CAST(lift_ppm AS BIGINT) AS lift_ppm
         |FROM r WHERE rank <= 3 ORDER BY cluster, rank""".stripMargin,
    "ss_diverse_sample" ->
      s"""WITH ${kmeansSqlCtes(4)},
         |r AS (SELECT vec_id, cluster,
         |  ROW_NUMBER() OVER (PARTITION BY cluster
         |    ORDER BY ${Sampling.hashFractionSql("vec_id", "diverse")}, vec_id) AS rk
         | FROM a2)
         |SELECT vec_id, cluster FROM r WHERE rk <= 25 ORDER BY vec_id""".stripMargin,
    "ss_knn" ->
      s"""WITH q AS ($quantSql),
         |qs AS (SELECT vec_id AS query_id, v AS qv FROM q WHERE vec_id < 5),
         |scored AS (
         | SELECT query_id, vec_id AS neighbor_id, ${cosSql("qv", "v")} AS cos
         | FROM q CROSS JOIN qs WHERE vec_id <> query_id),
         |ranked AS (
         | SELECT query_id, neighbor_id, cos,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         | FROM scored)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "ss_hybrid" ->
      s"""WITH tok_raw AS (SELECT doc_id,
         |   unnest(string_split_regex(trim(text), ' +')) AS term FROM documents),
         |tok AS (SELECT DISTINCT doc_id, term FROM tok_raw),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |ql AS (SELECT doc_id AS query_id, term FROM tok WHERE doc_id % 101 = 0),
         |sc AS (SELECT ql.query_id, tok.doc_id, COUNT(*) AS n_shared,
         |   SUM((n.n_docs * 1000000) // dfreq.df) AS score
         |  FROM ql JOIN tok USING (term) JOIN dfreq USING (term) CROSS JOIN n
         |  WHERE tok.doc_id <> ql.query_id
         |  GROUP BY ql.query_id, tok.doc_id),
         |lexr0 AS (SELECT query_id, doc_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, n_shared DESC, doc_id) AS BIGINT) AS lex_rank
         |  FROM sc),
         |lexr AS (SELECT * FROM lexr0 WHERE lex_rank <= 10),
         |qv AS ($quantSql),
         |qs AS (SELECT vec_id AS query_id, v AS qv FROM qv WHERE vec_id % 101 = 0),
         |ssc AS (SELECT query_id, vec_id AS doc_id, ${cosSql("qv", "v")} AS cos
         |  FROM qv CROSS JOIN qs WHERE vec_id <> query_id),
         |semr0 AS (SELECT query_id, doc_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, doc_id) AS BIGINT) AS sem_rank FROM ssc),
         |semr AS (SELECT * FROM semr0 WHERE sem_rank <= 10),
         |f AS (SELECT COALESCE(l.query_id, s.query_id) AS query_id,
         |   COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank
         |  FROM lexr l FULL JOIN semr s
         |   ON l.query_id = s.query_id AND l.doc_id = s.doc_id),
         |sf AS (SELECT query_id, doc_id, lex_rank, sem_rank,
         |   COALESCE(1000000 // (60 + lex_rank), 0)
         |    + COALESCE(1000000 // (60 + sem_rank), 0) AS rrf FROM f),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id) AS rank FROM sf)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
         | lex_rank, sem_rank, CAST(rrf AS BIGINT) AS rrf
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // the bucketed twin: lexical CTEs identical to ss_hybrid, the
    // semantic arm replayed through the AUTO-grain bucket CTEs (width
    // recomputed from COUNT(*), candidates = bucket collisions)
    "ss_hybrid_ann" ->
      s"""WITH tok_raw AS (SELECT doc_id,
         |   unnest(string_split_regex(trim(text), ' +')) AS term FROM documents),
         |tok AS (SELECT DISTINCT doc_id, term FROM tok_raw),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |ql AS (SELECT doc_id AS query_id, term FROM tok WHERE doc_id % 101 = 0),
         |sc AS (SELECT ql.query_id, tok.doc_id, COUNT(*) AS n_shared,
         |   SUM((n.n_docs * 1000000) // dfreq.df) AS score
         |  FROM ql JOIN tok USING (term) JOIN dfreq USING (term) CROSS JOIN n
         |  WHERE tok.doc_id <> ql.query_id
         |  GROUP BY ql.query_id, tok.doc_id),
         |lexr0 AS (SELECT query_id, doc_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, n_shared DESC, doc_id) AS BIGINT) AS lex_rank
         |  FROM sc),
         |lexr AS (SELECT * FROM lexr0 WHERE lex_rank <= 10),
         |q AS ($quantSql),
         |${lshBucketsAutoSqlCte(64L)},
         |qs AS (SELECT vec_id AS query_id, v AS qqv, t, bucket FROM tb
         |  WHERE vec_id % 101 = 0),
         |cand AS (
         | SELECT DISTINCT query_id, qqv, tb.vec_id AS doc_id, tb.v
         | FROM tb JOIN qs USING (t, bucket) WHERE tb.vec_id <> query_id),
         |ssc AS (SELECT query_id, doc_id, ${cosSql("qqv", "v")} AS cos FROM cand),
         |semr0 AS (SELECT query_id, doc_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, doc_id) AS BIGINT) AS sem_rank FROM ssc),
         |semr AS (SELECT * FROM semr0 WHERE sem_rank <= 10),
         |f AS (SELECT COALESCE(l.query_id, s.query_id) AS query_id,
         |   COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank
         |  FROM lexr l FULL JOIN semr s
         |   ON l.query_id = s.query_id AND l.doc_id = s.doc_id),
         |sf AS (SELECT query_id, doc_id, lex_rank, sem_rank,
         |   COALESCE(1000000 // (60 + lex_rank), 0)
         |    + COALESCE(1000000 // (60 + sem_rank), 0) AS rrf FROM f),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id) AS rank FROM sf)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
         | lex_rank, sem_rank, CAST(rrf AS BIGINT) AS rrf
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "ss_ann_lsh" ->
      s"""WITH q AS ($quantSql),
         |$lshBucketsSqlCte,
         |qs AS (SELECT vec_id AS query_id, v AS qqv, t, bucket FROM tb WHERE vec_id < 5),
         |cand AS (
         | SELECT DISTINCT query_id, qqv, tb.vec_id AS neighbor_id, tb.v
         | FROM tb JOIN qs USING (t, bucket) WHERE tb.vec_id <> query_id),
         |scored AS (
         | SELECT query_id, neighbor_id, ${cosSql("qqv", "v")} AS cos FROM cand),
         |ranked AS (
         | SELECT query_id, neighbor_id, cos,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         | FROM scored)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "ss_ivf_probe" ->
      s"""WITH q AS ($quantSql),
         |cent AS (
         | SELECT label, list(cj ORDER BY j) AS cv FROM (
         |  SELECT label, j, CAST(FLOOR(SUM(v[j]) / COUNT(*)) AS BIGINT) AS cj
         |  FROM q, UNNEST(range(1, ${Dim + 1})) AS r(j)
         |  GROUP BY label, j)
         | GROUP BY label),
         |qs AS (SELECT vec_id AS query_id, v AS qv FROM q WHERE vec_id < 5),
         |probe AS (
         | SELECT query_id, qv, label FROM (
         |  SELECT query_id, qv, label,
         |   ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY ${cosSql("qv", "cv")} DESC, label) AS r
         |  FROM qs CROSS JOIN cent) WHERE r = 1),
         |scored AS (
         | SELECT query_id, q.vec_id AS neighbor_id, ${cosSql("qv", "q.v")} AS cos
         | FROM q JOIN probe USING (label) WHERE q.vec_id <> query_id),
         |ranked AS (
         | SELECT query_id, neighbor_id, cos,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         | FROM scored)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
  )
}
