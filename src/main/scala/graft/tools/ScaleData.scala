package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: replicate an sf directory K× with
  * key offsets and identity perturbation, so the heavy operator
  * families can be MEASURED at 10× the bench scale instead of argued
  * about ("would survive 100 TB" as evidence, not plan-shape claims —
  * the r8 verdict's top round-9 ask).
  *
  * The replication is distribution-preserving, which is the property
  * that makes the sf1/sf0.1 ratio meaningful:
  *
  *   - Integer keys shift by `copy · 10^8` — copies are disjoint in id
  *     space, and copy 0 is the untouched original.
  *   - Identity-bearing text is TAGGED per copy (every document token
  *     and every part name's blocking token gets a `c<i>_` prefix, the
  *     brand gets a `#<i>` suffix): within a copy, shingle sets /
  *     Levenshtein distances / block memberships are isomorphic to the
  *     original, while cross-copy shingles and blocks are DISJOINT.
  *     Without this, K identical text copies would turn every
  *     duplicate cluster of size c into one of size K·c and every LSH
  *     bucket join from Σb² into ΣK²b² — a K²-pair workload that no
  *     longer measures scaling, it measures a different (pathological)
  *     duplication profile. Tagging keeps pair volume ~K·linear, i.e.
  *     the same corpus shape at K× the rows.
  *   - Embeddings circular-shift by the copy index, composed with a
  *     per-copy-group deterministic sign mask once k exceeds the
  *     vector dimension: norms and coordinate distributions are
  *     preserved exactly, while cross-copy cosine collapses to noise
  *     (same reason — identical vectors would K²-explode the near-dup
  *     pair families).
  *   - Dimension tables (region, nation) copy through unshifted, so
  *     foreign keys into them stay valid and per-nation fan-in grows
  *     K× — exactly what a bigger corpus does to a small dimension.
  *
  * events.ts passes through RAW (no session-level timestamp rewrite):
  * whatever physical type the fixture shipped (TIMESTAMP(NANOS)-as-
  * long under nanosAsLong, or timestamp[us]) is what lands in the
  * output, so [[graft.GraftSession.table]]'s normalization sees the
  * same layout it would on the original directory.
  *
  * Usage: runMain graft.tools.ScaleData <inDir> <outDir> <k>
  */
object ScaleData {

  private val Stride = 100000000L // 1e8: far above any sf0.1 key

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleData <inDir> <outDir> <k>")
    val Array(inDir, outDir, kStr) = args
    val k = kStr.toInt
    require(k >= 1, "k >= 1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
    graft.GraftSession.commonConfs.foreach { case (kk, v) => b.config(kk, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def raw(name: String): DataFrame = spark.read.parquet(s"$inDir/$name.parquet")

    // one replicated table: union of copyFn(df, i) for i in 0 until k.
    // keyCols are the columns the copies SHIFT by copy·Stride — their
    // input max must sit below Stride or copies would collide in id
    // space and the "disjoint copies" premise (and every downstream
    // pair-volume argument) silently breaks.
    def replicate(name: String, keyCols: Seq[String] = Nil)(
        copyFn: (DataFrame, Int) => DataFrame): Unit = {
      val src = raw(name)
      if (k > 1 && keyCols.nonEmpty) {
        val maxes = src.select(keyCols.map(c => max(col(c)).cast("long").as(c)): _*).head()
        keyCols.zipWithIndex.foreach { case (c, i) =>
          // max() over an EMPTY table is null — nothing to collide, skip
          // (the copies of an empty table are empty; don't NPE the guard)
          if (!maxes.isNullAt(i)) {
            val m = maxes.getLong(i)
            require(m < Stride,
              s"$name.$c max key $m >= Stride $Stride — shifted copies would collide")
          }
        }
      }
      val out = (0 until k).map(i => copyFn(src, i)).reduce(_.unionByName(_))
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scale] $name x$k written")
    }

    def shift(c: String, i: Int) = col(c) + lit(i * Stride)

    // per-token copy tag: shingle/token spaces disjoint across copies,
    // isomorphic within a copy (see scaladoc)
    def tagTokens(c: org.apache.spark.sql.Column, i: Int) =
      concat_ws(" ", transform(graft.operators.Tokens.of(c), t => concat(lit(s"c${i}_"), t)))

    replicate("region")((df, i) => if (i == 0) df else df.limit(0))
    replicate("nation")((df, i) => if (i == 0) df else df.limit(0))

    replicate("customer", Seq("c_custkey"))((df, i) =>
      df.withColumn("c_custkey", shift("c_custkey", i)))
    replicate("supplier", Seq("s_suppkey"))((df, i) =>
      df.withColumn("s_suppkey", shift("s_suppkey", i)))

    replicate("part", Seq("p_partkey")) { (df, i) =>
      if (i == 0) df
      else df
        .withColumn("p_partkey", shift("p_partkey", i))
        // tag the BLOCKING identity (last name token + brand): blocks
        // stay disjoint across copies, within-copy edit distances are
        // unchanged (both sides of any within-copy pair gain the same
        // aligned substring)
        .withColumn("p_name", regexp_replace(col("p_name"), "(\\S+)$", s"c${i}_$$1"))
        .withColumn("p_brand", concat(col("p_brand"), lit(s"#$i")))
    }

    replicate("orders", Seq("o_orderkey", "o_custkey"))((df, i) =>
      df.withColumn("o_orderkey", shift("o_orderkey", i))
        .withColumn("o_custkey", shift("o_custkey", i)))

    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))((df, i) =>
      df.withColumn("l_orderkey", shift("l_orderkey", i))
        .withColumn("l_partkey", shift("l_partkey", i))
        .withColumn("l_suppkey", shift("l_suppkey", i)))

    replicate("events", Seq("event_id", "user_id"))((df, i) =>
      df.withColumn("event_id", shift("event_id", i))
        .withColumn("user_id", shift("user_id", i)))

    replicate("documents", Seq("doc_id")) { (df, i) =>
      if (i == 0) df
      else df
        .withColumn("doc_id", shift("doc_id", i))
        .withColumn("text", tagTokens(col("text"), i))
        .withColumn("n_chars", length(col("text")))
    }

    // the circular shift only decorrelates copies while the shift
    // index stays BELOW the vector dimension — at i >= dim the slice
    // rotation wraps back to the identity, which alone would make
    // copy i and copy (i - dim) IDENTICAL vectors: exactly the K²
    // near-dup pair explosion this generator exists to avoid. For
    // k > dim the rotation is therefore composed with a per-copy-GROUP
    // deterministic ±1 sign mask (group = i / dim): sign flips
    // preserve every norm and coordinate magnitude exactly, distinct
    // masks decorrelate groups (expected cross-group cosine ~0 under
    // the hash-balanced mask), and within a group the rotation
    // decorrelates as before — capacity dim · 2^dim copies. Group 0
    // (i < dim) keeps the all-+1 mask, byte-identical to the k <= dim
    // generator output.
    val dimRow = raw("embeddings").select(
      min(size(col("embedding"))).as("dmin"),
      max(size(col("embedding"))).as("dmax")).head()
    require(k == 1 || !dimRow.isNullAt(0),
      "embeddings is empty — cannot decorrelate copies (run with k=1)")
    val minDim = if (dimRow.isNullAt(0)) 1 else dimRow.getInt(0)
    val maxDim = if (dimRow.isNullAt(1)) 1 else dimRow.getInt(1)
    require(k == 1 || minDim >= 2,
      s"minimum embedding dimension $minDim < 2 — rotation cannot decorrelate")
    // splitmix64-mixed bit per (group, coordinate): deterministic, no
    // RNG state, balanced signs
    def signMask(group: Int): Array[Float] = Array.tabulate(maxDim) { j =>
      var z = group.toLong * 0x9E3779B97F4A7C15L +
        j.toLong * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      if (((z ^ (z >>> 31)) & 1L) == 0L) 1.0f else -1.0f
    }
    // the 2^dim capacity claim needs the masks ACTUALLY GENERATED to be
    // pairwise distinct — at small dims two groups collide with
    // probability ~2^-dim, silently reintroducing the K² pair explosion.
    // Distinctness is checked on the minDim-length PREFIX: a ragged
    // corpus's shortest vectors only consume that prefix, so two masks
    // differing beyond it are still identical for them. Checked up to
    // GLOBAL sign: mask and -mask make copies identical up to a sign
    // flip (cos = ±1), and the −1 case still collapses under
    // |cos|-based near-dup machinery. Driver-side, O(groups · dim)
    if (k > 1) {
      val nGroups = (k - 1) / minDim + 1
      val canon = (0 until nGroups).map { g =>
        val m = signMask(g).toSeq.take(minDim)
        if (m.head < 0) m.map(-_) else m
      }
      require(canon.distinct.size == nGroups,
        s"sign-mask collision among $nGroups copy groups on the $minDim-dim " +
          "prefix: two groups would replicate near-identical vectors (the " +
          "K-squared pair explosion). Use a higher-dimensional embeddings input.")
    }
    replicate("embeddings", Seq("vec_id")) { (df, i) =>
      if (i == 0) df
      else {
        val rot = i % minDim
        val grp = i / minDim
        val rotated = df.withColumn("vec_id", shift("vec_id", i))
          // circular shift by rot: norm-preserving, within-group
          // cross-copy cosine decorrelated (rot < dimension by mod)
          .withColumn("embedding",
            concat(slice(col("embedding"), rot + 1, 4096),
              slice(col("embedding"), 1, rot)))
        if (grp == 0) rotated
        else rotated.withColumn("embedding",
          // element-indexed multiply (not zip_with): the mask literal
          // is maxDim long and element_at never pads a shorter vector
          transform(col("embedding"),
            (x, j) => x * element_at(lit(signMask(grp)), j + 1)))
      }
    }

    println(s"[scale] done -> $outDir (k=$k)")
    spark.stop()
  }
}
