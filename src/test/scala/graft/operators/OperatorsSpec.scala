package graft.operators

import graft.{GraftSession, SparkSpec}
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {

  private def docs = GraftSession.table(spark, Sf0001, "documents")
  private def emb  = GraftSession.table(spark, Sf0001, "embeddings")

  test("source overlap: hand-computed jaccard ppm; minhash matches verified via md5") {
    import spark.implicits._
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5", "A"), // shingles {w1w2w3, w2w3w4, w3w4w5}
      (2L, "w1 w2 w3 w4", "B"),    // {w1w2w3, w2w3w4} — subset of A
      (3L, "z1 z2 z3 z4", "C"))    // {z1z2z3, z2z3z4} — disjoint
      .toDF("doc_id", "text", "source")
    val plan = Dedup.sourceOverlapPlan(d)
    val rows = plan.df.orderBy("source_a", "source_b").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    plan.release()
    // exact side: |A|=3 |B|=2 |C|=2; A∩B=2 (union 3), A∩C=B∩C=0
    assert(rows(("A", "B"))._3 == 2L && rows(("A", "B"))._4 == 2000000L / 3L)
    assert(rows(("A", "C"))._3 == 0L && rows(("A", "C"))._4 == 0L)
    assert(rows(("B", "C"))._3 == 0L && rows(("B", "C"))._4 == 0L)
    // minhash side recomputed independently via MessageDigest
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val sets = Map(
      "A" -> Set("w1 w2 w3", "w2 w3 w4", "w3 w4 w5"),
      "B" -> Set("w1 w2 w3", "w2 w3 w4"),
      "C" -> Set("z1 z2 z3", "z2 z3 z4"))
    def sig(src: String) = (0 until 8).map(i => sets(src).map(sh => md5hex(s"$i|$sh")).min)
    def expect(a: String, b: String) =
      sig(a).zip(sig(b)).count { case (x, y) => x == y }.toLong
    assert(rows(("A", "B"))._5 == expect("A", "B"))
    assert(rows(("A", "C"))._5 == expect("A", "C")) // 0 — disjoint md5 mins
    assert(rows(("B", "C"))._5 == expect("B", "C"))
  }

  test("source overlap: maxSourceFreq drops universal shingles consistently everywhere") {
    import spark.implicits._
    // "u1 u2 u3" appears in all three sources (a stop-shingle); only
    // A and B share a real shingle beyond it
    val d = Seq(
      (1L, "u1 u2 u3 a1 a2", "A"),  // {u1u2u3, u2u3a1, u3a1a2}
      (2L, "u1 u2 u3 a1 a2", "B"),  // same set
      (3L, "u1 u2 u3 zz yy", "C"))  // {u1u2u3, u2u3zz, u3zzyy}
      .toDF("doc_id", "text", "source")
    val capped = Dedup.sourceOverlapPlan(d, maxSourceFreq = Some(2))
    val rows = capped.df.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    capped.release()
    // the universal shingle is gone from sizes AND intersections:
    // |A|=|B|=2 (was 3), A∩B=2, A∩C=B∩C=0 (was 1 via the stop-shingle)
    assert(rows(("A", "B")) == ((2L, 2L, 2L)))
    assert(rows(("A", "C"))._3 == 0L && rows(("B", "C"))._3 == 0L)
    // uncapped form still counts it
    val exact = Dedup.sourceOverlapPlan(d)
    val ac = exact.df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    exact.release()
    assert(ac(("A", "C")) == 1L)
  }

  test("source overlap: a source whose shingles are ALL capped still appears with n=0") {
    import spark.implicits._
    // every shingle of C is shared by all three sources, so with
    // cap=2 C's entire shingle set is filtered out — no-silent-caps
    // requires C to stay in the matrix with n=0, not vanish
    val d = Seq(
      (1L, "u1 u2 u3 u4 a1 a2", "A"), // {u1u2u3,u2u3u4,u3u4a1,u4a1a2}
      (2L, "u1 u2 u3 u4 b1 b2", "B"),
      (3L, "u1 u2 u3 u4", "C"))       // {u1u2u3, u2u3u4} — all universal
      .toDF("doc_id", "text", "source")
    val capped = Dedup.sourceOverlapPlan(d, maxSourceFreq = Some(2))
    val rows = capped.df.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6))).toMap
    capped.release()
    // all three pairs present — C included, with size 0 and 0 overlap
    assert(rows.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
    assert(rows(("A", "C")) == ((2L, 0L, 0L, 0L)))
    assert(rows(("B", "C")) == ((2L, 0L, 0L, 0L)))
    assert(rows(("A", "B"))._3 == 0L) // A and B share only capped shingles
  }

  test("k-anonymity: violating groups listed, summary counts the at-risk mass") {
    import spark.implicits._
    val d = Seq(("a", 1), ("a", 1), ("a", 1), ("b", 2), ("b", 3)).toDF("q1", "q2")
    val quasi = Seq(col("q1"), col("q2"))
    val v = Curation.kAnonymityViolations(d, quasi, k = 3).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(v == Set(("b", 2, 1L), ("b", 3, 1L)))
    val s = Curation.kAnonymitySummary(d, quasi, k = 3).head()
    assert((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3)) ==
      ((3L, 2L, 2L, 1L)))
  }

  test("l-diversity: homogeneous large group violates even though k-anonymous") {
    import spark.implicits._
    // group (a): 4 rows but ONE sensitive value -> l-violation, never
    // a k=3 violation; group (b): 2 rows, 2 distinct values -> diverse
    val d = Seq(("a", "x"), ("a", "x"), ("a", "x"), ("a", "x"),
      ("b", "y"), ("b", "z")).toDF("q1", "sens")
    val quasi = Seq(col("q1"))
    assert(Curation.kAnonymityViolations(d, quasi, k = 3).collect()
      .map(_.getString(0)).toSet == Set("b"))
    val v = Curation.lDiversityViolations(d, quasi, col("sens"), l = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(v == Set(("a", 4L, 1L)))
    val s = Curation.lDiversitySummary(d, quasi, col("sens"), l = 2).head()
    // 2 groups, 1 violating, 4 rows at risk, achieved l = 1
    assert((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3)) ==
      ((2L, 1L, 4L, 1L)))
  }

  test("l-diversity: aliased expression quasi-columns keep their names") {
    import spark.implicits._
    val d = Seq((10L, "x"), (10L, "x"), (25L, "y")).toDF("v", "sens")
    val v = Curation.lDiversityViolations(d,
      Seq((col("v") / 10).cast("long").as("bucket")), col("sens"), l = 2)
    assert(v.columns.toSeq == Seq("bucket", "n_rows", "n_sensitive"))
    assert(v.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("cluster-size histogram: hand graph yields the expected duplication profile") {
    import spark.implicits._
    // components: {1,2,3} (chain), {4,5}, singletons 6 and 7
    val vertices = (1L to 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val hist = Dedup.connectedComponents(vertices, pairs)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
      .select(col("sz"), col("n_clusters"), (col("sz") * col("n_clusters")).as("n_docs"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hist == Map(1L -> ((2L, 2L)), 2L -> ((1L, 2L)), 3L -> ((1L, 3L))))
  }

  test("zipf profile: ranked head tokens with exact rank-frequency products") {
    import spark.implicits._
    val d = Seq("a a a b b c", "a b").toDF("text")
    val r = TextAnalysis.zipfProfile(d, k = 3).orderBy("rank").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq((1L, "a", 4L, 4L), (2L, "b", 3L, 6L), (3L, "c", 1L, 3L)))
  }

  test("novelty: first occurrence owns the shingle, exact duplicate scores zero") {
    import spark.implicits._
    val base = "w1 w2 w3 w4 w5"
    val d = Seq((1L, base), (2L, base), (3L, "z1 z2 z3 z4"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.noveltyStats(d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) == ((3L, 3L, 1000000L)))
    assert(r(2L) == ((3L, 0L, 0L))) // every shingle first seen in doc 1
    assert(r(3L) == ((2L, 2L, 1000000L)))
  }

  test("exact dedup groups account for every document") {
    val g = docs.groupBy(md5(col("text"))).agg(count(lit(1)).as("n"))
    assert(g.agg(sum("n")).head().getLong(0) == docs.count())
  }

  test("minhash signatures: one row per doc with shingles, hex hashes") {
    val sig = Dedup.minhashSignatures(docs)
    assert(sig.count() == docs.count()) // every test doc has ≥3 tokens
    val r = sig.head()
    (1 to 8).foreach(i => assert(r.getString(i).matches("[0-9a-f]{32}")))
  }

  test("narrow per-row minhash signatures equal the aggregated form, with zero shuffles") {
    val agg = Dedup.minhashSignatures(docs).collect()
      .map(r => (0 to 8).map(r.get).toList).toSet
    val narrow = Dedup.minhashSignaturesNarrow(docs)
      .select("doc_id", (0 until 8).map(i => s"h$i"): _*).collect()
      .map(r => (0 to 8).map(r.get).toList).toSet
    assert(narrow == agg && narrow.nonEmpty)
    // the point of the narrow form: one projection, no exchange
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = Dedup.minhashSignaturesNarrow(docs).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    assert(plan.collect { case s: ShuffleExchangeExec => s }.isEmpty)
    // a doc with < 3 tokens: NULL signature (the aggregated form omits it)
    import spark.implicits._
    val tiny = Seq((1L, "only two")).toDF("doc_id", "text")
    assert(Dedup.minhashSignaturesNarrow(tiny).head().isNullAt(2))
    assert(Dedup.minhashSignatures(tiny).count() == 0)
  }

  test("minhash candidate pairs are symmetric-free and deduped") {
    val pairs = Dedup.minhashCandidates(docs)
    assert(pairs.where(col("doc_a") >= col("doc_b")).count() == 0)
    assert(pairs.count() == pairs.distinct().count())
  }

  test("jaccard of a document with itself is 1") {
    val two = docs.limit(3)
    val doubled = two.unionAll(two.withColumn("doc_id", col("doc_id") + 1000000))
    val j = Dedup.jaccardPairs(doubled, 0.99)
      .where(col("doc_b") === col("doc_a") + 1000000)
    assert(j.count() == 3)
    assert(j.agg(min("jaccard")).head().getDouble(0) == 1.0)
  }

  /** `nHot` docs sharing the 3-gram "hot0 hot1 hot2" (df = nHot; above
    * 256 it takes the salted stratum) plus `nDup` exact-duplicate
    * pairs, which score 1.0; hot-only pairs score 1/7.
    */
  private def hotCorpus(nHot: Int, nDup: Int): Seq[(Long, String)] =
    (1L to nHot.toLong).map(i => (i, s"hot0 hot1 hot2 u${i}a u${i}b u${i}c")) ++
      (1L to nDup.toLong).flatMap(i =>
        Seq((2000L + i, s"dup$i w${i}a w${i}b w${i}c w${i}d"),
            (3000L + i, s"dup$i w${i}a w${i}b w${i}c w${i}d")))

  /** Exact shingle jaccard ≥ t over all doc pairs, computed on the
    * driver — the reference the Spark joins must reproduce row for row.
    */
  private def exactJaccard(rows: Seq[(Long, String)], t: Double): Seq[(Long, Long, Double)] = {
    val sets = rows.map { case (id, text) =>
      id -> text.trim.split(" +").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      c = (sa & sb).size if c > 0
      j = c.toDouble / (sa.size + sb.size - c) if j >= t
    } yield (a, b, j)).sortBy(r => (r._1, r._2))
  }

  private def pairRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.orderBy("doc_a", "doc_b").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  /** The initial physical plan's salt replicates, and its inner joins
    * keyed on the shingle: (key count, is sort-merge) each. The cold
    * stratum is the one keyed on the shingle alone; the salted join is
    * keyed on (shingle, salt). The literal sequence(0, salts-1)
    * constant-folds, so a salt replicate renders as
    * `Generate explode(<array>)`, distinct from the shingle pass's
    * `Generate posexplode`.
    */
  private def joinShape(df: org.apache.spark.sql.DataFrame): (Int, Seq[(Int, Boolean)]) = {
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    val saltGenerates = "Generate explode\\(".r.findAllMatchIn(plan.toString).size
    def onShingle(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.exists(_.references.exists(_.name == "shingle"))
    val joins = plan.collect {
      case j: SortMergeJoinExec if j.joinType == Inner && onShingle(j.leftKeys) =>
        (j.leftKeys.size, true)
      case j: HashJoin if j.joinType == Inner && onShingle(j.leftKeys) =>
        (j.leftKeys.size, false)
    }
    (saltGenerates, joins)
  }

  test("salted jaccard is row-identical to the naive self-join on a hot-shingle corpus") {
    import spark.implicits._
    // 1,000 docs all sharing ONE 3-gram — a plain self-join puts
    // 1000²/2 candidate pairs in a single join group — plus 40
    // exact-duplicate pairs that must survive the threshold
    val rows = hotCorpus(1000, 40)
    val expected = exactJaccard(rows, 0.2)
    assert(expected.size == 40)
    val plan = Dedup.jaccardPairsPlan(rows.toDF("doc_id", "text"), 0.2)
    assert(pairRows(plan.df) == expected)
    plan.release()
    // the test corpus (empty hot stratum) matches the reference too
    val healthyRows = docs.collect().toSeq
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val healthyExpected = exactJaccard(healthyRows, 0.1)
    assert(healthyExpected.nonEmpty)
    val healthy = Dedup.jaccardPairsPlan(docs, 0.1)
    assert(pairRows(healthy.df) == healthyExpected)
    healthy.release()
    // the structural bound the salted join relies on: with the same
    // salt expression, the hot shingle's largest (shingle, salt) group
    // is a fraction of its document frequency
    val maxGroup = Dedup.shingleDf(rows.toDF("doc_id", "text"))
      .withColumn("__salt", Skew.rowSalt(8))
      .groupBy("shingle", "__salt").count()
      .agg(max("count")).head().getLong(0)
    assert(maxGroup < 300, s"hot shingle not spread: max group $maxGroup of 1000")
  }

  test("two-path salted jaccard replicates only the hot stratum") {
    import spark.implicits._
    val rows = hotCorpus(300, 10)
    val plan = Dedup.jaccardPairsPlan(rows.toDF("doc_id", "text"), 0.2)
    val (saltGenerates, joins) = joinShape(plan.df)
    // exactly ONE salt-replicate Generate — the hot stratum's; the cold
    // stratum must carry no salt-array replication
    assert(saltGenerates == 1, s"expected 1 salt replicate (hot side only), got $saltGenerates")
    assert(joins.contains((1, true)), s"the cold stratum must join pinned sort-merge: $joins")
    assert(pairRows(plan.df) == exactJaccard(rows, 0.2))
    plan.release()
  }

  test("no Spark job runs while jaccardPairsPlan is being built") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val corpus = hotCorpus(300, 10).toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    val plan =
      try {
        val p = Dedup.jaccardPairsPlan(corpus, 0.2)
        org.apache.spark.graftshim.TestListenerBridge.waitUntilEmpty(spark.sparkContext)
        p
      } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get() == 0, s"${jobs.get()} jobs ran at plan construction")
    plan.release()
  }

  test("lshVerifiedPairs rejects threshold 0 (inner verify join cannot emit jaccard-0 pairs)") {
    intercept[IllegalArgumentException] {
      Dedup.lshVerifiedPairs(docs.limit(10), 0.0)
    }
  }

  test("dedup plans release their caches: no retained RDDs accumulate across invocations") {
    import spark.implicits._
    val hot = hotCorpus(300, 10).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    (1 to 3).foreach { _ =>
      val j = Dedup.jaccardPairsPlan(docs.limit(50), 0.1)
      j.df.count()
      val s = Dedup.simhashPairsPlan(docs.limit(50), 2)
      s.df.count()
      val v = Dedup.lshVerifiedPairsPlan(docs.limit(50), 0.1)
      v.df.count()
      // a non-empty hot stratum
      val t = Dedup.jaccardPairsPlan(hot, 0.2)
      t.df.count()
      val e = Dedup.evaluateMinhashPlan(docs.limit(50), 0.1)
      e.df.count()
      val m = Dedup.minhashEstimatePlan(docs.limit(50))
      m.df.count()
      Seq(j, s, v, t, e, m).foreach(_.release())
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"released dedup plans must not retain RDD caches, leaked ids: $leaked")
    // and the released plan still computes (re-derives from source)
    val p = Dedup.jaccardPairsPlan(docs.limit(20), 0.1)
    p.release()
    assert(p.df.count() >= 0)
  }

  test("simhash of identical docs is identical; hamming 0") {
    val two = docs.limit(2)
    val doubled = two.unionAll(two.withColumn("doc_id", col("doc_id") + 1000000))
    val pairs = Dedup.simhashPairs(doubled, 0)
      .where(col("doc_b") === col("doc_a") + 1000000)
    assert(pairs.count() == 2)
  }

  test("banded simhashPairs equals the all-pairs reference and plans no cartesian product") {
    val sh = Dedup.simhash(docs, 16).cache()
    for (h <- Seq(0, 1, 3, 5)) {
      val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
        .where(col("hamming") <= h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val banded = Dedup.simhashPairs(docs, h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(banded == brute, s"maxHamming=$h: banded pair set differs from all-pairs reference")
    }
    sh.unpersist()
    val plan = Dedup.simhashPairs(docs, 3).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "simhashPairs must not plan an all-pairs join")
  }

  test("embedding near-dup: a vector duplicated is found at cos=1") {
    val one = emb.limit(1)
    val dup = emb.unionAll(one.withColumn("vec_id", col("vec_id") + 1000000))
    val pairs = Dedup.embeddingPairs(dup, 0.999999)
    assert(pairs.where(col("vec_b") === col("vec_a") + 1000000).count() == 1)
  }

  test("LSH embedding pairs are a subset of brute force with decent recall, no cartesian plan") {
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairSet(Dedup.embeddingPairs(emb, 0.4))
    val lsh   = pairSet(Dedup.embeddingPairsLsh(emb, 0.4))
    assert(lsh.subsetOf(brute), "LSH must only emit true above-threshold pairs")
    assert(brute.isEmpty || lsh.size.toDouble / brute.size > 0.3,
      s"candidate recall too low: ${lsh.size}/${brute.size}")
    // identical vectors agree on every projection => always candidates
    val one = emb.limit(1)
    val dup = emb.unionAll(one.withColumn("vec_id", col("vec_id") + 1000000))
    assert(Dedup.embeddingPairsLsh(dup, 0.999999)
      .where(col("vec_b") === col("vec_a") + 1000000).count() == 1)
    val plan = Dedup.embeddingPairsLsh(emb, 0.4).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "embeddingPairsLsh must not plan an all-pairs join")
  }

  test("auto-width embedding LSH: width rule, linear bucket shape, exact-dup recall, subset") {
    import spark.implicits._
    // integer-exact width rule (occupancy·2^b >= n), floor at 4, cap at 24
    assert(Similarity.autoBits(10, 64) == 4)
    assert(Similarity.autoBits(4096, 64) == 6)
    assert(Similarity.autoBits(200000, 64) == 12)
    assert(Similarity.autoBits(Long.MaxValue / 2, 64) == 24)
    // synthetic corpus big enough that the width actually grows: 4096
    // random vectors + one exact duplicate pair
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)
    val base = vec()
    val synth = (0L until 4096L)
      .map(i => (i, if (i >= 4094L) base else vec()))
      .toDF("vec_id", "embedding")
    // the banded join's candidate volume Σ n_b² stays ~n·occupancy per
    // table — nowhere near the fixed-width form's n²/16
    val candVolume = Similarity
      .lshBucketsBits(Dedup.quantized(synth), bits = 6)
      .groupBy("t", "bucket").count()
      .agg(sum(col("count") * col("count"))).head().getLong(0)
    // balanced ideal = T·n·occupancy; assert the real buckets stay
    // within 2x of it (the fixed-width form's n²/16 shape is n/(2·occ)
    // = 32x the ideal here, and the gap widens linearly with n)
    val ideal = 4L * 4096L * 64L
    assert(candVolume < 2 * ideal,
      s"candidate volume $candVolume vs balanced ideal $ideal — buckets too skewed")
    // exact duplicates agree on every projection => found at any width
    val auto = Dedup.embeddingPairsLshAuto(synth, 0.999999)
    assert(auto.where(col("vec_a") === 4094L && col("vec_b") === 4095L).count() == 1)
    // only true above-threshold pairs (scores are exact post-candidate)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairSet(Dedup.embeddingPairs(synth, 0.4))
    assert(pairSet(Dedup.embeddingPairsLshAuto(synth, 0.4)).subsetOf(brute))
    // no all-pairs plan
    val plan = Dedup.embeddingPairsLshAuto(synth, 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "embeddingPairsLshAuto must not plan an all-pairs join")
  }

  test("brute-force topk returns exactly k ranked neighbors per query") {
    val k = 5
    val top = Similarity.bruteForceTopK(emb, numQueries = 3, k = k)
    val counts = top.groupBy("query_id").count().collect()
    assert(counts.length == 3 && counts.forall(_.getLong(1) == k))
    // ranks are 1..k and cosine is non-increasing within a query
    val rows = top.orderBy("query_id", "rank").collect()
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      val cos = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("embedding attach strategy: width-aware rule, shuffle path equals broadcast path") {
    // the rule uses the MEASURED vector width: a 512-dim column at 40k
    // rows is ~165 MB — over budget — where the old assumed-64-dim
    // estimate would have called it broadcastable at 16x its real size
    assert(!Dedup.attachBroadcastable(40000L, 512L))
    assert(Dedup.attachBroadcastable(40000L, 64L))
    assert(Dedup.attachBroadcastable(2000L, 64L))
    // boundary is exact: n*(8*dim+24) == budget is still broadcastable
    assert(Dedup.attachBroadcastable(1L, 1L, budget = 32L))
    assert(!Dedup.attachBroadcastable(1L, 1L, budget = 31L))
    // end-to-end: forcing the shuffle attach (budget 0) must produce
    // EXACTLY the pairs the broadcast attach produces — the strategy
    // is a physical detail, never a semantic one
    val emb = GraftSession.table(spark, Sf0001, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaBroadcast = pairs(Dedup.embeddingPairsLshAuto(emb, 0.4))
    val viaShuffle = pairs(Dedup.embeddingPairsLshAuto(emb, 0.4,
      broadcastBudgetBytes = 0L))
    assert(viaShuffle == viaBroadcast && viaBroadcast.nonEmpty)
  }

  test("pruned lexical search: floor 0 is exact, floored scores respect the bound") {
    val full = TextAnalysis.lexicalTopK(docs).orderBy("query_id", "rank")
      .collect().toSeq
    // the refactor is behavior-preserving at floor 0
    val zero = TextAnalysis.lexicalTopKPlan(docs, 101, 5, 0L)
    val z = zero.df.orderBy("query_id", "rank").collect().toSeq
    zero.release()
    assert(z == full && full.nonEmpty)
    // with the floor, every surviving contribution is >= minIdfPpm, so
    // score >= n_shared * floor — and only floor-passing terms count
    val pruned = TextAnalysis.lexicalTopKPruned(docs).collect()
    assert(pruned.nonEmpty)
    pruned.foreach { r =>
      assert(r.getLong(4) >= r.getLong(3) * 2000000L,
        s"score ${r.getLong(4)} below n_shared*floor for ${r.getLong(0)}")
    }
  }

  test("sampled minhash eval equals the full eval over the fixedK sample") {
    val sample = Sampling.fixedK(docs, col("doc_id"), 200, "eval")
    val hand = Dedup.evaluateMinhashPlan(sample, 0.1)
    val got = Dedup.evaluateMinhashSampledPlan(docs, 0.1, 200)
    val a = hand.df.collect().toSeq
    val b = got.df.collect().toSeq
    hand.release(); got.release()
    assert(a == b && b.length == 1)
    val r = b.head
    // P/R/F1 well-formed, and the sample produced a non-trivial report
    assert(r.getLong(0) >= 0 && r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0
      && r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
  }

  test("hybrid ANN twin: same fusion contract as the exhaustive form, bucket-bounded arm") {
    val full = Similarity.hybridTopK(docs, emb)
    val ann = Similarity.hybridTopKAnn(docs, emb)
    assert(ann.columns.toSeq == full.columns.toSeq)
    val fr = full.collect()
    val ar = ann.collect()
    // per-query: ranks 1..<=5, rrf strictly ordered by construction
    ar.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getLong(1)).sorted.toSeq == (1L to g.length).toSeq)
      val rrf = g.sortBy(_.getLong(1)).map(_.getLong(5))
      assert(rrf.zip(rrf.tail).forall { case (a, b) => a >= b })
    }
    // both forms answer the SAME query set (queries come from the
    // shared queryMod rule, not from the retriever)
    assert(ar.map(_.getLong(0)).toSet == fr.map(_.getLong(0)).toSet)
    // the lexical arm is identical across forms: any (query, doc) with
    // a lex_rank must carry the SAME lex_rank in both result sets
    def lexMap(rows: Array[org.apache.spark.sql.Row]) = rows
      .filter(!_.isNullAt(3))
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val fl = lexMap(fr); val al = lexMap(ar)
    val shared = fl.keySet & al.keySet
    assert(shared.nonEmpty && shared.forall(k => fl(k) == al(k)))
    // recall sanity: the bucketed fused lists overlap the exhaustive
    // fused lists (exact/near duplicates collide in every table)
    val fSet = fr.map(r => (r.getLong(0), r.getLong(2))).toSet
    val aSet = ar.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert((fSet & aSet).nonEmpty)
  }

  test("LSH ANN recall@10 vs brute force is reasonable (same-bucket candidates only)") {
    val bf = Similarity.bruteForceTopK(emb, 5, 10)
      .select(col("query_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val ann = Similarity.lshTopK(emb, 5, 10)
      .select(col("query_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // every ANN hit for a query either matches brute force or is a
    // genuine same-bucket neighbor; recall just needs to be nonzero
    val recalls = bf.keys.toSeq.map { q =>
      val a = ann.getOrElse(q, Set.empty)
      if (a.isEmpty) 0.0 else (bf(q) & a).size.toDouble / 10
    }
    assert(recalls.sum / recalls.size > 0.2, s"mean recall too low: $recalls")
  }

  test("connected components: chain and triangle collapse to min-id clusters") {
    import spark.implicits._
    val vertices = (1L to 7L).toDF("doc_id")
    // chain 1-2-3, triangle 4-5-6, singleton 7
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(vertices, pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(cc(1L) == (1L, true) && cc(2L) == (1L, false) && cc(3L) == (1L, false))
    assert(cc(4L) == (4L, true) && cc(5L) == (4L, false) && cc(6L) == (4L, false))
    assert(cc(7L) == (7L, true))
  }

  test("connected components releases superseded round checkpoints") {
    import spark.implicits._
    // long chain => several pointer-doubling rounds
    val n = 64L
    val vertices = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    val cc = Dedup.connectedComponents(vertices, pairs)
    assert(cc.where(col("cluster_id") === 1L).count() == n)
    val after = spark.sparkContext.getPersistentRDDs.size
    // only the final labels checkpoint may remain (sym + retired rounds released)
    assert(after - before <= 1, s"leaked checkpoints: $before -> $after")
  }

  test("connected components under a reliable checkpoint dir") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val vertices = (1L to 7L).toDF("doc_id")
      val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
        .toDF("doc_a", "doc_b")
      val cc = Dedup.connectedComponents(vertices, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc(3L) == 1L && cc(6L) == 4L && cc(7L) == 7L)
      // reliable checkpoint files were actually written
      assert(new java.io.File(dir).listFiles().nonEmpty)
    } finally {
      // the session is JVM-shared: leaving the dir set would silently
      // flip every later connectedComponents call to reliable mode
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("capStats clamps a checkpoint leaf's inherited astronomical size estimate") {
    import spark.implicits._
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.graftshim.CheckpointBridge
    // stack row-preserving self-joins: the size-only stats visitor
    // estimates each join as the PRODUCT of its children, so the
    // estimate SQUARES per level — far past Long range on 4 rows
    val base = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L)).toDF("doc_a", "doc_b")
    var big = base
    (1 to 6).foreach { _ =>
      val r = big.select(col("doc_a").as("a2"), col("doc_b").as("b2"))
      big = big.join(r, col("doc_a") === col("a2") && col("doc_b") === col("b2"))
        .select(col("doc_a"), col("doc_b"))
    }
    val ck = big.localCheckpoint()
    // precondition — the hazard this guards against: Dataset.checkpoint
    // PRESERVES the origin plan's estimate on the leaf (if a future
    // Spark stops doing that, capStats is obsolete and this test says so)
    val inherited = ck.queryExecution.analyzed.asInstanceOf[LogicalRDD]
      .computeStats().sizeInBytes
    assert(!inherited.isValidLong, s"expected an over-Long estimate, got $inherited")
    val capped = CheckpointBridge.capStats(ck)
    val lr = capped.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    assert(lr.computeStats().sizeInBytes == BigInt(Long.MaxValue))
    // data unaffected by the leaf swap
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L)))
    // no-op on an in-range leaf (idempotent: second call returns df as-is)
    assert(CheckpointBridge.capStats(capped) eq capped)
  }

  test("connected components keeps round-leaf size estimates bounded " +
      "(driver stats-explosion guard)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.LogicalRDD
    // seed CC with a pair plan whose size estimate is already beyond
    // Long range (the embeddingPairsLshAuto composition shape at scale).
    // Without the per-round capStats clamp, every round's checkpoint
    // leaf INHERITS the prior round's join-product estimate and digits
    // compound exponentially in rounds — the measured failure mode was
    // 17+ driver-minutes of BigInteger multiplication inside stats
    // walks while every executor idled. The guard: after the loop, the
    // label table's leaves are checkpoint leaves with Long-range stats.
    val base = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("doc_a", "doc_b")
    var pairs = base
    (1 to 6).foreach { _ =>
      val r = pairs.select(col("doc_a").as("a2"), col("doc_b").as("b2"))
      pairs = pairs.join(r, col("doc_a") === col("a2") && col("doc_b") === col("b2"))
        .select(col("doc_a"), col("doc_b"))
    }
    val vertices = (1L to 7L).toDF("doc_id")
    val plan = Dedup.connectedComponentsPlan(vertices, pairs)
    val cc = plan.df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(3L) == 1L && cc(6L) == 4L && cc(7L) == 7L)
    val leaves = plan.df.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty)
    leaves.foreach {
      case l: LogicalRDD =>
        val s = l.computeStats().sizeInBytes
        assert(s.isValidLong, s"round leaf carries an unbounded estimate: $s")
      case other =>
        fail(s"CC output reads a non-checkpoint leaf: ${other.nodeName}")
    }
    plan.release()
  }

  test("token stats: n_tokens matches manual split") {
    import spark.implicits._
    val d = Seq((1L, "the quick brown fox")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenStats(d).head()
    assert(r.getLong(1) == 4)            // n_tokens
    assert(r.getLong(3) == 16)           // sum_token_len
    assert(r.getDouble(4) == 4.0)        // avg
  }

  test("readability: hand-computed integer Flesch; sentence floor on bare text") {
    import spark.implicits._
    val d = Seq((1L, "aa bb. cc dd ee!"), (2L, "xy zz")).toDF("doc_id", "text")
    val r = TextAnalysis.readability(d).orderBy("doc_id").collect()
    // doc 1: words [aa, bb., cc, dd, ee!] = 5; sentences [. !] = 2;
    // syllables (vowel groups): aa, ee -> 2
    assert((r(0).getLong(1), r(0).getLong(2), r(0).getLong(3)) == ((5L, 2L, 2L)))
    assert(r(0).getLong(4) == 2500L) // 5000 div 2
    assert(r(0).getLong(5) == 400L)  // 2000 div 5
    // 206835 - 1015*2500 div 1000 - 84600*400 div 1000
    assert(r(0).getLong(6) == 206835L - 2537L - 33840L)
    // doc 2: no terminators -> sentence floor 1; one vowel group (the y)
    assert((r(1).getLong(1), r(1).getLong(2), r(1).getLong(3)) == ((2L, 0L, 1L)))
    assert(r(1).getLong(4) == 2000L)
  }

  test("language id picks the profile with most stopword hits") {
    import spark.implicits._
    val d = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "le chat et les chiens des maisons"),
      (3L, "zzz qqq xxx")).toDF("doc_id", "text")
    val out = TextAnalysis.langId(d).select("doc_id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "fr" && out(3L) == "und")
  }

  test("fingerprints: identical normalized text => identical norm_hash") {
    import spark.implicits._
    val d = Seq((1L, "a  b   c"), (2L, " a b c ")).toDF("doc_id", "text")
    val f = TextAnalysis.fingerprints(d).select("norm_hash").distinct()
    assert(f.count() == 1)
  }

  test("diversity: degenerate and uniform corpora hit the closed forms") {
    import spark.implicits._
    val d = Seq(
      (1L, "x x x x"),          // one type: gini 0, effective 1
      (2L, "a b c d")).toDF("doc_id", "text") // all distinct: gini 1-1/n
    val out = TextAnalysis.diversityStats(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(3) == 0.0 && out(1L).getDouble(4) == 1.0)
    assert(out(2L).getDouble(3) == 1.0 - 1.0 / 4 && out(2L).getDouble(4) == 4.0)
  }

  test("span dedup: injected duplicate block flagged in the LATER doc only") {
    import spark.implicits._
    val block = (1 to 20).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, block + " tail1 tail2"),  // first occurrence: clean
      (2L, block + " other words"),  // same 20-token block: dup
      (3L, "entirely different content here")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(d, 20).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (2L, 0L)) // 20-token block + 2-token remainder
    assert(out(2L)._2 == 1L)    // later copy flagged
    assert(out(3L)._2 == 0L)
  }

  test("bpe train: greedy merges, nested rounds, deterministic ties, encode compresses") {
    import spark.implicits._
    val us = "\u001f"
    val d = Seq(
      (1L, "a b a b c"),
      (2L, "a b c a b c")).toDF("doc_id", "text")
    val m = TextAnalysis.bpeTrain(d, 3).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (a,b) x4; round 2 merges the MERGED token with c (x3) —
    // nesting; round 3 is a 1-count tie broken by pair text
    assert(m(0) == ((1L, "a", "b", 4L)))
    assert(m(1) == ((2L, s"a${us}b", "c", 3L)))
    assert(m(2) == ((3L, s"a${us}b", s"a${us}b${us}c", 1L)))
    val enc = TextAnalysis.bpeEncodeNative(d, m.map(x => (x._2, x._3)).toSeq)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(enc(1L) == ((5L, 1L))) // a b a b c -> [ab][abc] -> [ab abc]
    assert(enc(2L) == ((6L, 2L))) // a b c a b c -> [abc][abc]
    // greedy left-to-right on runs: merging (a,a) over 5 a's gives
    // [aa][aa][a] — 3 pieces, never 4 (shared-boundary miss) or 2
    val run = Seq((1L, "a a a a a")).toDF("doc_id", "text")
    val rEnc = TextAnalysis.bpeEncodeNative(run, Seq(("a", "a"))).head()
    assert(rEnc.getLong(2) == 3L)
    // delimiter chars in input are stripped, not corrupted into bounds
    val tricky = Seq((1L, s"x| y$us z")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeEncodeNative(tricky, Seq(("x", "y"))).head().getLong(2) == 2L)
  }

  test("bpe gate memo: shared trained artifact is bit-identical to a fresh train") {
    TextAnalysis.clearBpeMemo()
    val fresh = TextAnalysis.bpeTrain(docs, 5).orderBy("rank")
      .collect().map(_.toSeq).toSeq
    val viaMemo = TextAnalysis.queries("ta_bpe_train")(spark, Sf0001)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    assert(fresh == viaMemo)
    // a second gate read serves from the memo and stays identical
    val again = TextAnalysis.queries("ta_bpe_train")(spark, Sf0001)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    assert(again == viaMemo)
    // the vocab-consuming gates run off the same artifact without error
    assert(TextAnalysis.queries("ta_bpe_vocab")(spark, Sf0001).count() > 0)
  }

  test("sliding span dedup: off-grid duplicates caught, islands merged, short docs zero") {
    import spark.implicits._
    val passage = (1 to 10).map(i => s"p$i").mkString(" ") // 10 tokens
    val d = Seq(
      (1L, passage + " t1 t2"),                    // first occurrence (12 tokens)
      (2L, "x1 x2 x3 " + passage + " y1"),         // same passage at offset 3
      (3L, "a b c d e f"),                         // < 8 tokens: no grams
      (4L, "q1 q2 q3 q4 q5 q6 q7 q8 z " + "q1 q2 q3 q4 q5 q6 q7 q8") // self-repeat
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedupSliding(d, 8).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // doc 1: 12 tokens -> 5 grams, all first occurrences
    assert(out(1L) == ((12L, 5L, 0L, 0L, 0.0)))
    // doc 2: the 10-token passage yields 3 duplicated 8-grams at
    // offsets 3,4,5 — overlapping, so the island merge covers exactly
    // the 10 passage tokens (a block-grid spanDedup at width 8 would
    // MISS this: doc 2's grid blocks straddle the passage boundary)
    val (n2, g2, dg2, dt2, f2) = out(2L)
    assert(n2 == 14L && g2 == 7L && dg2 == 3L && dt2 == 10L && f2 == 10.0 / 14)
    // doc 3: too short for any gram
    assert(out(3L) == ((6L, 0L, 0L, 0L, 0.0)))
    // doc 4: the trailing 8 tokens repeat the leading 8 -> exactly the
    // last gram is a duplicate of the first (within ONE document)
    val (_, g4, dg4, dt4, _) = out(4L)
    assert(g4 == 10L && dg4 == 1L && dt4 == 8L)
    // block-grid form at the same width indeed misses doc 2's duplicate
    val grid = Dedup.spanDedup(d, 8).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(grid(2L) == 0L)
  }

  test("sliding span dedup: unmanaged form caches nothing; managed form releases") {
    import spark.implicits._
    val d = (1L to 50L).map(i => (i, (1 to 12).map(j => s"w$i-$j").mkString(" ")))
      .toDF("doc_id", "text")
    def cachedNow(): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = cachedNow()
    // unmanaged: a long-lived session calling this repeatedly must
    // accumulate zero executor storage (no discarded persist handles)
    Dedup.spanDedupSliding(d, 8).collect()
    assert(cachedNow() == before, "unmanaged spanDedupSliding leaked a cache")
    // managed: persists while live, empty again after release()
    val plan = Dedup.spanDedupSlidingPlan(d, 8)
    plan.df.collect()
    assert((cachedNow() -- before).nonEmpty, "managed form should cache the gram table")
    plan.release()
    // unpersist is async; poll briefly
    val deadline = System.nanoTime() + 5_000_000_000L
    while ((cachedNow() -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(cachedNow() -- before == Set.empty[Int], "release() must drop the gram cache")
  }

  test("sliding span dedup: agg first-seen == window first-seen; hot gram has no per-gram window funnel") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // hot-gram fixture: ONE boilerplate 8-gram (a license header)
    // repeated across 2000 docs plus per-doc unique tails — the shape
    // that funnels every occurrence onto one reducer under a
    // per-gram-hash row_number window
    val header = (1 to 8).map(i => s"lic$i").mkString(" ")
    val hot = (1L to 2000L).map(i => (i, s"$header u${i}a u${i}b u${i}c")).toDF("doc_id", "text")
    val plan = Dedup.spanDedupSlidingPlan(hot, 8)
    try {
      // equality with the window-based first-occurrence form the agg replaced
      val ts = split(trim(col("text")), " +")
      val grams = hot
        .select(col("doc_id"), ts.as("ts"))
        .where(size(col("ts")) >= 8)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), size(col("ts")) - 8),
            i => md5(concat_ws(" ", slice(col("ts"), i + 1, lit(8))))))
            .as(Seq("pos", "gram_hash")))
      val firstSeen = Window.partitionBy(col("gram_hash")).orderBy(col("doc_id"), col("pos"))
      val windowDup = grams
        .withColumn("dup", row_number().over(firstSeen) > 1)
        .groupBy(col("doc_id"))
        .agg(sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_grams"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val out = plan.df.collect()
        .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
      assert(out.size == 2000)
      (1L to 2000L).foreach { i =>
        assert(out(i)._1 == windowDup(i), s"doc $i first-seen divergence")
      }
      // every doc past the first-seen one carries the full hot gram run
      // as duplicated coverage: 4 hot grams (header + 3 straddling the
      // unique tail would differ, so exactly the offset-0 gram is hot)
      assert(out(1L) == ((0L, 0L)))
      assert((2L to 2000L).forall(i => out(i) == ((1L, 8L))))
      // structural de-skew assertion: NO window partitioned by the gram
      // hash anywhere in the plan — the only windows are the per-doc
      // island merge (bounded by document length)
      val phys = plan.df.queryExecution.executedPlan.toString
      assert(!phys.contains("windowspecdefinition(gram_hash"),
        "first-occurrence flag must be a map-side-combinable aggregate, not a per-gram window")
      assert(phys.contains("windowspecdefinition(doc_id"), "island merge window expected")
    } finally plan.release()
  }

  test("lsh-verified pairs report the TRUE jaccard for every surfaced pair") {
    // threshold must be > 0 (the verify join cannot emit jaccard-0
    // pairs); any pair sharing >= 1 shingle scores >= 1/(na+nb-1), so an
    // epsilon threshold surfaces every pair the candidates admit
    val verified = Dedup.lshVerifiedPairs(docs, 1e-12)
    val brute = Dedup.jaccardPairs(docs, 1e-12)
    // every verified pair's score equals the brute-force exact score
    val joined = verified.as("v").join(brute.as("b"),
      col("v.doc_a") === col("b.doc_a") && col("v.doc_b") === col("b.doc_b"))
    assert(joined.where(col("v.jaccard") =!= col("b.jaccard")).count() == 0)
    assert(verified.count() > 0 && verified.count() == joined.count())
    // a duplicated doc is recalled by the bands and verified at 1.0
    val two = docs.limit(2)
    val doubled = two.unionAll(two.withColumn("doc_id", col("doc_id") + 1000000))
    val dup = Dedup.lshVerifiedPairs(doubled, 0.99)
    assert(dup.count() == 2 && dup.agg(min("jaccard")).head().getDouble(0) == 1.0)
  }

  test("span dedup rewrite removes the later copy and keeps token order") {
    import spark.implicits._
    val block = (1 to 20).map(i => s"r$i").mkString(" ")
    val d = Seq(
      (1L, block + " alpha beta"),       // owns the block
      (2L, block + " other words"),      // same leading block: stripped
      (3L, block)).toDF("doc_id", "text") // block-only doc: emptied
    val out = Dedup.spanDedupRewrite(d, 20).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L)._1 == block + " alpha beta" && out(1L)._2 == 2L)
    assert(out(2L)._1 == "other words" && out(2L)._2 == 1L)
    assert(out(3L)._1 == "" && out(3L)._2 == 0L) // fully-duplicated doc survives empty
    // reassembly preserves within-doc order for every doc
    val src = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, (txt, _)) =>
      val orig = src(id).split(" ")
      val kept = if (txt.isEmpty) Array.empty[String] else txt.split(" ")
      // kept tokens appear in original relative order
      assert(kept.foldLeft(0) { (pos, tok) =>
        val i = orig.indexOf(tok, pos); assert(i >= 0, s"$tok out of order in doc $id"); i + 1
      } >= 0)
    }
  }

  test("span dedup is idempotent on already-unique blocks") {
    val once = Dedup.spanDedup(docs, 20)
    // every flagged dup has an EARLIER clean twin: total dup blocks <
    // total blocks, and docs with zero dups dominate this corpus
    val totals = once.agg(sum("n_blocks"), sum("n_dup_blocks")).head()
    assert(totals.getLong(1) < totals.getLong(0))
  }

  test("filter stack agrees with its component operators and stays one scan") {
    val fused = TextAnalysis.filterStack(docs)
    // flags equal the standalone operators' verdicts
    val q = TextAnalysis.qualityScores(docs).select(col("doc_id"), col("passes_filter"))
    val r = TextAnalysis.repetitionStats(docs).select(col("doc_id"), col("passes_repetition").as("pr"))
    val j = fused.join(q, "doc_id").join(r, "doc_id")
    assert(j.where(col("passes_quality") =!= col("passes_filter")).count() == 0)
    assert(j.where(col("passes_repetition") =!= col("pr")).count() == 0)
    // one scan, no shuffle, no join in the fused plan
    val plan = fused.queryExecution.executedPlan.toString
    assert(plan.split("FileScan").length == 2, s"expected one scan:\n$plan")
    assert(!plan.contains("Exchange") && !plan.contains("Join"))
  }

  test("repetition, diversity and filter stack plans hold no lambda") {
    Seq("repetitionStats" -> TextAnalysis.repetitionStats(docs),
      "diversityStats" -> TextAnalysis.diversityStats(docs),
      "filterStack" -> TextAnalysis.filterStack(docs)).foreach { case (op, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("lambdafunction"), s"$op:\n$plan")
      assert(plan.contains("token_stats"), s"$op:\n$plan")
    }
  }

  test("compression ratio separates repetitive from diverse text") {
    import spark.implicits._
    val rep = ("spam " * 200).trim
    val div = (1 to 200).map(i => s"tok${i}x${i * 7 % 97}").mkString(" ")
    val d = Seq((1L, rep), (2L, div), (3L, "")).toDF("doc_id", "text")
    val rows = TextAnalysis.compressionRatio(d).collect()
    // empty text: 0 raw bytes — ratio is undefined, emitted null (was Infinity)
    assert(rows.find(_.getLong(0) == 3L).get.isNullAt(3))
    val r = rows.filter(!_.isNullAt(3))
      .map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r(1L) < 0.1)          // template spam crushes
    assert(r(2L) > r(1L) * 3)    // diverse text resists
    assert(r.values.forall(v => v > 0 && v < 1.2))
  }

  test("source cap keeps at most k per group and is idempotent") {
    val capped = Sampling.sourceCap(docs, col("source"), 7)
    val perSrc = capped.groupBy("source").count().collect()
    assert(perSrc.forall(_.getLong(1) <= 7))
    // rerunning on the capped output keeps exactly the same rows
    val again = Sampling.sourceCap(capped.drop("rank_in_source"), col("source"), 7)
    assert(again.count() == capped.count())
    assert(again.select("doc_id").except(capped.select("doc_id")).count() == 0)
  }

  test("kmeans: two separated groups split exactly despite one-sided init") {
    import spark.implicits._
    def mk(axis: Int, mag: Double): Seq[Float] =
      (0 until 64).map(j => if (j == axis) mag.toFloat else 0.01f)
    val df = Seq(
      (0L, mk(0, 1.0), 0), (1L, mk(0, 0.9), 0), (2L, mk(0, 1.1), 0),
      (3L, mk(1, 1.0), 1), (4L, mk(1, 0.9), 1), (5L, mk(1, 1.1), 1))
      .toDF("vec_id", "embedding", "label")
    val a = Similarity.kmeansFit(df, k = 2, iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.size == 6)
    assert(a(0L) == a(1L) && a(1L) == a(2L))
    assert(a(3L) == a(4L) && a(4L) == a(5L))
    assert(a(0L) != a(3L), s"groups merged: $a")
  }

  test("pq codes: per-block codebooks, identical vectors share codes, block independence") {
    import spark.implicits._
    // blocks of 16 dims; vectors differing ONLY in block 3 must share
    // codes c0..c2 and may split on c3
    def mk(block3Axis: Int): Seq[Float] =
      (0 until 64).map(j =>
        if (j >= 48 && j == 48 + block3Axis) 1.0f
        else if (j < 48) (j % 7).toFloat / 7 + 0.1f else 0.01f)
    val df = Seq(
      (0L, mk(0), 0), (1L, mk(0), 0),    // identical everywhere
      (2L, mk(1), 0), (3L, mk(15), 0))   // differ only in block 3
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.pqCodes(df, blocks = 4, k = 2, iters = 1).collect()
      .map(x => x.getLong(0) -> (1 to 4).map(x.getLong).toSeq).toMap
    assert(r.size == 4)
    assert(r(0L) == r(1L)) // identical vectors -> identical code words
    // blocks 0..2 identical across all rows -> same first three codes
    assert(r.values.map(_.take(3)).toSet.size == 1)
    // cluster ids come from the k lowest-id seeds
    assert(r.values.flatten.toSet.subsetOf(Set(0L, 1L)))
  }

  test("pq search: valid ranked lists per query, deterministic, recall in range") {
    val ann = Similarity.pqTopK(emb, blocks = 4, kCodebook = 4, iters = 1,
      numQueries = 3, k = 5)
    val rows = ann.collect()
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq == Seq(0L, 1L, 2L))
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getLong(1)).sorted.toSeq == (1L to g.length).toSeq)
      // ranked by reconstructed cosine, descending
      assert(g.sortBy(_.getLong(1)).map(_.getDouble(3)).sliding(2)
        .forall(p => p.length < 2 || p(0) >= p(1)))
    }
    val rec = Similarity.annRecall(ann,
      Similarity.bruteForceTopK(emb, numQueries = 3, k = 5), k = 5).collect()
    assert(rec.length == 3)
    assert(rec.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    // deterministic: a second fit reproduces the same lists
    val again = Similarity.pqTopK(emb, blocks = 4, kCodebook = 4, iters = 1,
      numQueries = 3, k = 5).collect()
    assert(again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("sq codes: range endpoints hit 0/255, constant dims code 0, hand-computed midpoint") {
    import spark.implicits._
    // dim 0 ranges over {0, 0.5, 1}; dims 1..63 constant 0.25
    def mk(x0: Float): Seq[Float] = x0 +: Seq.fill(63)(0.25f)
    val df = Seq((0L, mk(0.0f), 0), (1L, mk(0.5f), 0), (2L, mk(1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.sqCodes(df).collect()
      .map(x => x.getLong(0) -> x.getString(1).split(" ").map(_.toLong).toSeq)
      .toMap
    // dim 0: (0-0)*255/10000=0; (5000*255)/10000=127; (10000*255)/10000=255
    assert(r(0L).head == 0L && r(1L).head == 127L && r(2L).head == 255L)
    // constant dims: max == min -> code 0 for every vector
    assert(r.values.forall(_.tail.forall(_ == 0L)))
  }

  test("sq search: valid ranked lists, deterministic, recall better than random") {
    val ann = Similarity.sqTopK(emb, numQueries = 3, k = 5)
    val rows = ann.collect()
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq == Seq(0L, 1L, 2L))
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getLong(1)).sorted.toSeq == (1L to g.length).toSeq)
      assert(g.sortBy(_.getLong(1)).map(_.getDouble(3)).sliding(2)
        .forall(p => p.length < 2 || p(0) >= p(1)))
    }
    val rec = Similarity.annRecall(ann,
      Similarity.bruteForceTopK(emb, numQueries = 3, k = 5), k = 5).collect()
    assert(rec.length == 3)
    // SQ8 at 64 dims loses little: recall should dominate chance easily
    assert(rec.forall(r => r.getDouble(2) >= 0.4 && r.getDouble(2) <= 1.0),
      rec.map(_.getDouble(2)).toSeq.toString)
    val again = Similarity.sqTopK(emb, numQueries = 3, k = 5).collect()
    assert(again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("kmeans on the corpus: full coverage, deterministic, objective improves with rounds") {
    val fit = Similarity.kmeansFit(emb, k = 10, iters = 3)
    val n = emb.count()
    assert(fit.count() == n)
    val again = Similarity.kmeansFit(emb, k = 10, iters = 3)
      .orderBy("vec_id").collect().toSeq
    assert(again == fit.orderBy("vec_id").collect().toSeq)
    // Lloyd's objective: mean cosine of each vector to its assigned
    // cluster's centroid must improve from the raw init to the fit
    // (the labels are only weakly clustered in this corpus, so label
    // purity is not a meaningful target — the objective is)
    def meanCos(assign: org.apache.spark.sql.DataFrame): Double = {
      val q = Similarity.quantized(emb).select(col("vec_id"), col("v"))
        .join(assign, "vec_id")
      val cent = q.groupBy(col("cluster")).agg(
        array((0 until 64).map(j =>
          floor(sum(element_at(col("v"), j + 1)) / count(lit(1))).cast("long")): _*).as("cv"))
      def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (s, x) => s + x)
      q.join(cent, "cluster")
        .select((dot(col("v"), col("cv")).cast("double") /
          (sqrt(dot(col("v"), col("v")).cast("double")) *
            sqrt(dot(col("cv"), col("cv")).cast("double")))).as("c"))
        .agg(avg("c")).head().getDouble(0)
    }
    val init = Similarity.kmeansFit(emb, k = 10, iters = 0)
    assert(meanCos(fit) > meanCos(init),
      s"fit=${meanCos(fit)} init=${meanCos(init)}")
  }

  test("ivf incremental: frozen-centroid ingest agrees with full rebuild, plan is narrow") {
    val base = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = emb.where(pmod(col("vec_id"), lit(5)) === 0)
    val inc = Similarity.ivfIncremental(base, batch, k = 6, iters = 2)
    // every new vector lands in exactly one cell
    assert(inc.count() == batch.count())
    assert(inc.select("vec_id").distinct().count() == batch.count())
    // re-ingesting ALREADY-INDEXED vectors reproduces their original
    // cells exactly (same frozen centroid table, same tie-break)
    val rebuilt = Similarity.ivfIncremental(base, base, k = 6, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Similarity.kmeansFit(base, k = 6, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rebuilt == full)
    // the assignment pass itself is narrow: centroids are plan
    // literals — no join and no exchange anywhere in the batch plan
    val plan = inc.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan.take(800))
  }

  test("jaccard self-joins pin sort-merge (no single-threaded broadcast build)") {
    // Catalyst's size estimate for the shingle table derives from the
    // tiny pre-explode parquet scan, so without the pin the planner
    // broadcasts the multi-million-row self-join side (measured
    // 20-250 s single-threaded hashed-relation builds at sf0.1)
    import spark.implicits._
    Seq(docs, hotCorpus(300, 10).toDF("doc_id", "text")).foreach { d =>
      val plan = Dedup.jaccardPairsPlan(d, 0.8)
      // both strata: the cold merge join and the salted (shingle, salt)
      // join, and no hash join on the shingle anywhere
      assert(joinShape(plan.df)._2.sorted == Seq((1, true), (2, true)),
        plan.df.queryExecution.executedPlan.toString.take(1500))
      plan.release()
    }
  }

  test("cluster-balanced sample: min(perCluster, size) per cluster, subset, deterministic") {
    val fit = Similarity.kmeansFit(emb, k = 10, iters = 1)
    val sample = Similarity.clusterBalancedSample(emb, k = 10, iters = 1, perCluster = 20)
    val sizes = fit.groupBy("cluster").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = sample.groupBy("cluster").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sizes.foreach { case (c, n) =>
      assert(got.getOrElse(c, 0L) == math.min(20L, n), s"cluster $c: ${got.get(c)} of $n")
    }
    // every sampled row carries its fit assignment (subset, not a re-fit)
    val joined = sample.as("s").join(fit.as("f"), "vec_id")
      .where(col("s.cluster") =!= col("f.cluster")).count()
    assert(joined == 0)
    val again = Similarity.clusterBalancedSample(emb, k = 10, iters = 1, perCluster = 20)
      .orderBy("vec_id").collect().toSeq
    assert(again == sample.orderBy("vec_id").collect().toSeq)
  }

  test("repetition stats: hand-computed fractions and the keep verdict") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a a a b"),          // top token a: 4/5, bigram "a a": 3/4
      (2L, "v w x y z"),          // all distinct, every frac minimal
      (3L, "solo")                // single token: no bigrams
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getDouble(2) == 2.0 / 5)  // distinct_ratio
    assert(r(1L).getDouble(3) == 4.0 / 5)  // top_token_frac
    assert(r(1L).getDouble(4) == 3.0 / 4)  // top_bigram_frac
    assert(!r(1L).getBoolean(5))
    assert(r(2L).getDouble(2) == 1.0 && r(2L).getDouble(3) == 0.2 &&
      r(2L).getDouble(4) == 0.25)
    assert(r(3L).getDouble(4) == 0.0)      // bigram frac defined as 0
    // a no-shuffle scan: the plan must contain no exchange
    val plan = TextAnalysis.repetitionStats(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("pii redaction: each category replaced and counted once, text preserved otherwise") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail alice@example.org and bob.smith@corp.co.uk now"),
      (2L, "host 192.168.0.1 and 10.0.0.255 up"),
      (3L, "call 555-0199 today"),
      (4L, "clean text with no identifiers"),
      (5L, "alice@example.org at 10.1.2.3 ext 555-0100")
    ).toDF("doc_id", "text")
    val r = Curation.redactPii(d, col("text")).collect()
      .map(x => x.getLong(0) -> x).toMap
    def counts(id: Long) = (
      r(id).getAs[Long]("n_pii_email"),
      r(id).getAs[Long]("n_pii_ip"),
      r(id).getAs[Long]("n_pii_phone"))
    def text(id: Long) = r(id).getAs[String]("text_redacted")
    assert(counts(1L) == (2L, 0L, 0L))
    assert(text(1L) == "mail <EMAIL> and <EMAIL> now")
    assert(counts(2L) == (0L, 2L, 0L))
    assert(text(2L) == "host <IP> and <IP> up")
    assert(counts(3L) == (0L, 0L, 1L))
    assert(text(3L) == "call <PHONE> today")
    assert(counts(4L) == (0L, 0L, 0L))
    assert(text(4L) == "clean text with no identifiers")
    assert(counts(5L) == (1L, 1L, 1L))
    assert(text(5L) == "<EMAIL> at <IP> ext <PHONE>")
  }

  test("incremental candidates: cross pairs only, and exactly the full-corpus cross slice") {
    val isNew = pmod(col("doc_id"), lit(5)) === 0
    val corpusIdx = Dedup.minhashSignatures(docs.where(!isNew))
    val inc = Dedup.incrementalCandidates(corpusIdx, docs.where(isNew)).collect()
    // never pairs two corpus docs or two new docs
    assert(inc.forall(r => r.getLong(0) % 5 == 0 && r.getLong(1) % 5 != 0))
    // equals the cross-split slice of the full-corpus candidate set:
    // the index path loses nothing vs re-pairing everything
    val full = Dedup.minhashCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b) => if (a % 5 == 0) (a, b) else (b, a) }.toSet
    assert(inc.map(r => (r.getLong(0), r.getLong(1))).toSet == full)
  }

  test("pseudonymize: deterministic per value, salt-sensitive, grouping preserved") {
    import spark.implicits._
    val d = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("uid", "x")
    val p = Curation.pseudonymize(d, Seq("uid"), "s1")
    val ids = p.select("uid").as[String].collect()
    assert(ids.distinct.length == 2)            // same uid -> same token
    assert(ids.forall(_.matches("[0-9a-f]{32}")))
    assert(!ids.contains("1") && !ids.contains("2")) // raw id never survives
    // a different salt produces a disjoint token space
    val p2 = Curation.pseudonymize(d, Seq("uid"), "s2")
      .select("uid").as[String].collect()
    assert(ids.toSet.intersect(p2.toSet).isEmpty)
    // grouping on the pseudonym matches grouping on the raw id
    val counts = p.groupBy("uid").count().select("count").as[Long].collect().sorted
    assert(counts.toSeq == Seq(1L, 2L))
  }

  test("containment is directional: a quote scores 1.0 in its host, the host scores low") {
    import spark.implicits._
    val quote = "alpha beta gamma delta"                         // 2 shingles
    val host = s"intro words here $quote and a long tail after"  // contains both
    val probes = Seq((1L, quote), (2L, "unrelated probe text entirely")).toDF("doc_id", "text")
    val corpus = Seq((10L, host), (11L, "other corpus doc text")).toDF("doc_id", "text")
    val r = Dedup.containmentPairs(probes, corpus, 0.5)
      .select("query_doc", "corpus_doc", "n_inter", "n_query_shingles", "containment")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(r == Set((1L, 10L, 2L, 2L, 1.0)))
    // flip direction: the long host is NOT contained in its quote
    val rev = Dedup.containmentPairs(corpus, probes, 0.5).collect()
    assert(rev.isEmpty)
    // below-threshold pairs are filtered, zero-overlap pairs never form
    val loose = Dedup.containmentPairs(probes, corpus, 0.01)
      .select("query_doc").as[Long].collect().toSet
    assert(loose == Set(1L))
  }

  test("evaluatePairs: hand-computed precision/recall/f1 with empty-set guards") {
    import spark.implicits._
    val pred = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val truth = Seq((1L, 2L), (4L, 5L), (6L, 7L), (8L, 9L)).toDF("doc_a", "doc_b")
    val r = Dedup.evaluatePairs(pred, truth).head()
    assert(r.getLong(0) == 3 && r.getLong(1) == 4 && r.getLong(2) == 2)
    val (p, rec) = (2.0 / 3, 2.0 / 4)
    assert(r.getDouble(3) == p && r.getDouble(4) == rec)
    assert(r.getDouble(5) == 2.0 * p * rec / (p + rec))
    // empty predicted set: defined zeros, never NaN/null
    val e = Dedup.evaluatePairs(pred.limit(0), truth).head()
    assert(e.getLong(0) == 0 && e.getLong(2) == 0)
    assert(e.getDouble(3) == 0.0 && e.getDouble(4) == 0.0 && e.getDouble(5) == 0.0)
  }

  test("decontaminate flags exactly the docs sharing a 3-gram with the benchmark") {
    import spark.implicits._
    val bench = Seq((100L, "the secret eval question about turtles")).toDF("doc_id", "text")
    val cands = Seq(
      (1L, "contains the secret eval question verbatim"),    // 2 shared shingles
      (2L, "question about turtles appears here"),           // 1 shared shingle
      (3L, "completely unrelated training text here")        // clean
    ).toDF("doc_id", "text")
    val r = Curation.decontaminate(cands, bench).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 2L, 2L -> 1L))
  }

  test("decontaminate spans: which bench item, at which offsets, islands merged") {
    import spark.implicits._
    val bench = Seq(
      (100L, "secret eval question about turtles"),   // 3 shingles
      (200L, "unrelated benchmark item text")).toDF("doc_id", "text")
    val cands = Seq(
      // the full 5-token passage at token offset 4: grams at pos 4,5,6
      (1L, "w0 w1 w2 w3 secret eval question about turtles w9"),
      // two separate leaks of 3-token fragments: islands must NOT merge
      (2L, "secret eval question x1 x2 x3 x4 question about turtles"),
      (3L, "completely clean training document here")).toDF("doc_id", "text")
    val r = Curation.decontaminateSpans(cands, bench).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5))).toMap
    // doc 1 vs bench 100: 3 consecutive grams -> one island covering
    // tokens [4, 9) = 5 tokens; last matching gram starts at 6
    assert(r((1L, 100L)) == ((3L, 4L, 6L, 5L)))
    // doc 2: grams at pos 0 and 7 -> two islands of 3 tokens each
    assert(r((2L, 100L)) == ((2L, 0L, 7L, 6L)))
    // clean doc and clean bench item produce no rows
    assert(!r.keySet.exists(_._1 == 3L))
    assert(!r.keySet.exists(_._2 == 200L))
  }

  test("decontaminate rewrite: leaked spans removed, islands merged across bench items, empties survive") {
    import spark.implicits._
    val bench = Seq(
      (100L, "secret eval question about turtles"),
      (200L, "question about turtles and frogs")).toDF("doc_id", "text")
    val cands = Seq(
      // full 5-token passage at offset 4 (grams 4,5,6) PLUS bench 200's
      // continuation (grams 6,7 from 'about turtles and frogs') — one
      // merged island [4, 11) across BOTH bench items
      (1L, "w0 w1 w2 w3 secret eval question about turtles and frogs w11"),
      // two separate 3-token leaks: islands [0,3) and [7,10)
      (2L, "secret eval question x1 x2 x3 x4 question about turtles"),
      (3L, "completely clean training document here"),
      (4L, "secret eval question about turtles")). // fully leaked
      toDF("doc_id", "text")
    val r = Curation.decontaminateRewrite(cands, bench).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) == (("w0 w1 w2 w3 w11", 12L, 7L)))
    assert(r(2L) == (("x1 x2 x3 x4", 10L, 6L)))
    assert(r(3L) == (("completely clean training document here", 5L, 0L)))
    assert(r(4L) == (("", 5L, 5L))) // fully leaked -> empty, caller decides
    // conservation: kept tokens + cut tokens == n_tokens
    r.values.foreach { case (txt, n, cut) =>
      val kept = if (txt.isEmpty) 0 else txt.split(" ").length
      assert(kept + cut == n)
    }
  }

  test("pruned decontaminate spans: floor <= 1 reproduces the unpruned audit; the floor cuts the coincidence tail") {
    val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    val cand = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
    val full = Curation.decontaminateSpans(cand, bench)
      .orderBy("doc_id", "bench_doc").collect().map(_.toString)
    // every positional match shares >= 1 shingle by construction, so
    // floors 0 and 1 must be byte-identical to the unpruned form
    Seq(0L, 1L).foreach { f =>
      val pruned = Curation.decontaminateSpansPruned(cand, bench, f)
        .orderBy("doc_id", "bench_doc").collect().map(_.toString)
      assert(pruned.sameElements(full), s"floor $f must be a no-op")
    }
    assert(full.length > 0)
    // floor 2: exactly the pairs with >= 2 DISTINCT shared shingles
    // survive, and the audit rows for survivors are unchanged
    val sharedCounts = Curation.decontaminateSpansPruned(cand, bench, 2L)
      .orderBy("doc_id", "bench_doc").collect().map(_.toString)
    val fullSet = full.toSet
    assert(sharedCounts.length < full.length,
      "floor 2 must drop the single-shingle coincidence tail on the gate corpus")
    assert(sharedCounts.forall(fullSet.contains),
      "pruning must never alter a surviving pair's span rows")
    // n_hits >= 2 is NOT the same predicate as >= 2 distinct shingles
    // (positional hits repeat a shingle) — verify against a direct
    // distinct-shingle pair count, not against n_hits
    val kept = sharedCounts.length
    val pairCounts = graft.operators.Dedup
      .shingleDf(cand)
      .join(graft.operators.Dedup.shingleDf(bench)
        .select(col("doc_id").as("bench_doc"), col("shingle")), Seq("shingle"))
      .groupBy("doc_id", "bench_doc").count()
      .where(col("count") >= 2).count()
    assert(kept.toLong == pairCounts)
  }

  test("pruned span audit managed plan: doc-grain floor, cached bench shingles, broadcast semi") {
    // regression guard for the MEASURED design history. (1) r15: a
    // floor from a second distinct-grain pass was judged by plan
    // shape alone and the match-set-aggregate form shipped. (2) r16,
    // on the header-coincidence gate corpus, the match-set form was
    // re-measured and LOST outright (sf1 local[32]: 8.4 s unmanaged /
    // 16.4 s with the 25M-row match set persisted, vs 4.8 s
    // unpruned) — the floor re-paid the positional join and shuffled
    // the very tail it exists to drop. The surviving shape, asserted
    // here: the floor derives from DOC-GRAIN DISTINCT shingle sets
    // (in-doc boilerplate repeats collapse map-side before the join),
    // only the SMALL bench shingle set is cached (the one double-read
    // frame; nothing corpus-sized persists), and the coincidence tail
    // leaves through a broadcast left-semi join instead of being
    // sorted by the per-pair windows.
    val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    val cand = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
    val plan = Curation.decontaminateSpansPrunedPlan(cand, bench, 2L)
    try {
      plan.df.collect()
      val phys = plan.df.queryExecution.executedPlan.toString
      // the bench shingle set is cached and read by both joins
      assert("InMemoryTableScan".r.findAllIn(phys).length >= 2,
        "floor join and match join must both read the cached bench shingles")
      // the pair floor applies as a broadcast semi join (kept pairs
      // are tiny), never a shuffle of the match stream on the pair key
      assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(phys).isDefined,
        "pair floor must be a broadcast left-semi join")
      // the floor aggregate runs at the (pair) grain over the
      // doc-grain distinct join — not over the positional match set
      // (whose partial-distinct would key (doc_id, bench_doc, shingle))
      assert("HashAggregate\\(keys=\\[doc_id#\\d+L, bench_doc#\\d+L\\]"
        .r.findFirstIn(phys).isDefined,
        "pair floor must aggregate the doc-grain shingle join")
      assert(!"HashAggregate\\(keys=\\[doc_id#\\d+L, bench_doc#\\d+L, shingle"
        .r.findFirstIn(phys).isDefined,
        "no partial-distinct over the positional match stream")
      // island windows keyed by the pair, never corpus-global
      assert(phys.contains("windowspecdefinition(doc_id") &&
        !phys.contains("windowspecdefinition(shingle"))
    } finally plan.release()
  }

  test("commonness: hand-computed df sums, hapax counts and ratio") {
    import spark.implicits._
    val d = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val r = TextAnalysis.commonness(d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4)))
      .toMap
    // df: a->2 docs, b->1, c->1; N=2
    assert(r(1L) == ((3L, 5L, 1L, 5.0 / 6)))  // [a,a,b]: 2+2+1, hapax b
    assert(r(2L) == ((2L, 3L, 1L, 3.0 / 4)))  // [a,c]:   2+1,   hapax c
  }

  test("bloom decontamination agrees with exact: never misses, bounded one-sided overshoot") {
    val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    val cand = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
    val exact = Curation.decontaminate(cand, bench).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = Curation.decontaminateBloom(cand, bench).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty)
    // no false negatives: every exact-contaminated doc flagged, with
    // per-doc hit counts that can only inflate
    exact.foreach { case (id, n) =>
      assert(bloom.getOrElse(id, 0L) >= n, s"doc $id: bloom ${bloom.get(id)} < exact $n")
    }
    // one-sided error stays tiny at 2^23 bits for this corpus
    assert(bloom.size <= exact.size + math.max(2, exact.size / 10),
      s"bloom flagged ${bloom.size} vs exact ${exact.size}")
  }

  test("tfidf: distinctive term ranks first, ubiquitous term scores low") {
    import spark.implicits._
    val d = Seq(
      (1L, "common common zebra"),
      (2L, "common plain words"),
      (3L, "common other stuff")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.tfidfTop(d, k = 3)
    val doc1 = r.where(col("doc_id") === 1).orderBy("rank").collect()
    // zebra: tf=1, df=1 → score 3; common: tf=2, df=3 → score 2
    assert(doc1.map(_.getString(2)).toSeq == Seq("zebra", "common"))
    assert(doc1.head.getDouble(5) == 3.0)
    assert(doc1(1).getDouble(5) == 2.0)
    // ranks are dense from 1 within every doc
    val ranks = r.groupBy("doc_id").agg(collect_list("rank").as("rs")).collect()
    ranks.foreach(x => assert(
      x.getSeq[Long](1).sorted == (1L to x.getSeq[Long](1).size)))
  }

  test("cluster terms: dense ranks, lift ordered, terms come from the cluster's docs") {
    val emb = GraftSession.table(spark, Sf0001, "embeddings")
    val docs = GraftSession.table(spark, Sf0001, "documents")
    val ct = Similarity.clusterTerms(emb, docs, k = 4, iters = 1, m = 3).collect()
    assert(ct.nonEmpty)
    val byCluster = ct.groupBy(_.getLong(0))
    for ((_, rows) <- byCluster) {
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.size))
      // lift never increases with rank
      val lifts = sorted.map(_.getLong(5)).toSeq
      assert(lifts == lifts.sortBy(-_), s"lift out of order: $lifts")
      // a term's in-cluster doc count never exceeds its global df
      sorted.foreach(r => assert(r.getLong(3) <= r.getLong(4)))
    }
    // every k-means cluster with docs gets labels
    val clusters = Similarity.kmeansFit(emb, 4, 1)
      .select("cluster").distinct().collect().map(_.getLong(0)).toSet
    assert(byCluster.keySet.subsetOf(clusters))
  }

  test("chunk: full token coverage, stride-aligned starts, trailing-chunk rule") {
    import spark.implicits._
    // 0, size-1, size, size+1, exactly-two-chunks, and a long doc
    val docs = Seq(10, 31, 32, 33, 56, 200).zipWithIndex.map { case (n, i) =>
      (i.toLong, (1 to n).map(j => s"w$j").mkString(" "))
    }.toDF("doc_id", "text")
    val c = TextAnalysis.chunk(docs, chunkSize = 32, stride = 24).collect()
    val byDoc = c.groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getLong(1)))
    for ((doc, rows) <- byDoc) {
      val n = Seq(10, 31, 32, 33, 56, 200)(doc.toInt)
      // chunk_idx dense from 0, starts at multiples of the stride
      assert(rows.map(_.getLong(1)).toSeq == rows.indices.map(_.toLong))
      rows.foreach(r => assert(r.getLong(2) == r.getLong(1) * 24))
      // last chunk reaches exactly the end of the doc; others are full
      val last = rows.last
      assert(last.getLong(2) + last.getLong(3) == n, s"doc $doc not covered")
      rows.init.foreach(r => assert(r.getLong(3) == 32))
      // trailing-window rule: a chunk beyond the first must add tokens
      // past the previous chunk's end minus the overlap
      val expected = if (n <= 32) 1 else ((n - 32 + 23) / 24) + 1
      assert(rows.size == expected, s"doc $doc: ${rows.size} != $expected chunks")
    }
  }

  test("lexical search: self excluded, k bounded, idf favors the rarer term") {
    import spark.implicits._
    // query doc 0 shares 'rare' with doc 3 and 'common' with all;
    // rare has df=2, common df=5 → doc 3 must outrank docs 1,2
    val docs = Seq(
      (0L, "rare common alpha"),
      (1L, "common beta x"),
      (2L, "common gamma y"),
      (3L, "rare common z"),
      (4L, "unrelated words only")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.lexicalTopK(docs, queryMod = 101, k = 2)
    val hits = r.where(col("query_id") === 0).orderBy("rank").collect()
    assert(hits.forall(_.getLong(2) != 0L), "query doc retrieved itself")
    assert(hits.length <= 2)
    assert(hits.head.getLong(2) == 3L, s"expected doc 3 first: ${hits.mkString(",")}")
    // scores non-increasing in rank
    assert(hits.map(_.getLong(4)).toSeq == hits.map(_.getLong(4)).sortBy(-_).toSeq)
  }

  test("minhash estimate: identical docs agree on all 8 hashes with zero error") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "totally different words here now")).toDF("doc_id", "text")
    val plan = Dedup.minhashEstimatePlan(d)
    val r = plan.df.collect().map(x =>
      (x.getLong(0), x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4)))
    assert(r.exists { case (a, b, est, j, e) =>
      a == 1L && b == 2L && est == 1.0 && j == 1.0 && e == 0.0 })
    // the unrelated doc never pairs with the twins
    assert(!r.exists { case (a, b, _, _, _) => a == 3L || b == 3L })
    plan.release()
  }

  test("shared-shingle eval equals the two-operator evaluation, then releases") {
    val plan = Dedup.evaluateMinhashPlan(docs, 0.1)
    val shared = plan.df.head()
    val separate = Dedup.evaluatePairs(
      Dedup.minhashCandidates(docs), Dedup.jaccardPairs(docs, 0.1)).head()
    assert(shared == separate)
    plan.release()
  }

  test("forget: purge drops exactly the tombstoned rows via a broadcast anti-join") {
    import spark.implicits._
    val d = Seq((1, "a"), (2, "b"), (3, "c"), (1, "d")).toDF("uid", "v")
    val tomb = Seq(1, 99).toDF("id")
    val purged = Curation.forget(d, col("uid"), tomb)
    assert(purged.collect().map(_.getString(1)).sorted.toSeq == Seq("b", "c"))
    // the corpus side must NOT shuffle: tombstones broadcast, anti-join
    // (collect the exec nodes — the string form renders shuffles as
    // "Exchange hashpartitioning(...)", so a substring check is vacuous)
    val exec = purged.queryExecution.executedPlan
    assert(exec.toString.contains("BroadcastExchange"), exec.toString)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    assert(exec.collect { case s: ShuffleExchangeExec => s }.isEmpty, exec.toString)
    val rep = Curation.forgetReport(Seq(("t", d, col("uid"))), tomb).head()
    assert(rep.getString(0) == "t" && rep.getLong(1) == 4
      && rep.getLong(2) == 2 && rep.getLong(3) == 2)
  }

  test("bpe pairs: adjacent-pair counts, deterministic tie order, 1-token docs safe") {
    import spark.implicits._
    val d = Seq("a b a b c", "b c", "solo").toDF("text")
    val r = TextAnalysis.bpePairCounts(d, topK = 10).collect()
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("a b", 2L), ("b c", 2L), ("b a", 1L)))
  }

  test("lm score: hand-computed conditional-ppm means; <2-token docs score 0") {
    import spark.implicits._
    // bigrams: d1 (a,b)(b,a)(a,c), d2 (a,b); c(a,b)=2 c(b,a)=1 c(a,c)=1
    // c(a·)=3 c(b·)=1 → p_ppm: (a,b)=666666, (b,a)=1000000, (a,c)=333333
    val d = Seq((1L, "a b a c"), (2L, "a b"), (3L, "x"))
      .toDF("doc_id", "text")
    val plan = TextAnalysis.lmScorePlan(d)
    val r = plan.df.orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    plan.release()
    assert(r.toSeq == Seq(
      (1L, 3L, (666666L + 1000000L + 333333L) / 3),
      (2L, 1L, 666666L),
      (3L, 0L, 0L)))
  }

  test("collocations: integer lift ranks association above raw frequency") {
    import spark.implicits._
    // bigrams: (x,y)×2 (y,x) (x,z); n_bg=4; c1: x=3 y=1; c2: y=2 x=1 z=1
    // lift: (y,x)=4e6, (x,y)=8e6 div 6=1333333, (x,z)=4e6 div 3=1333333
    val d = Seq("x y x y", "x z").toDF("text")
    val r = TextAnalysis.collocations(d, k = 10, minCount = 1L).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getLong(3)))
    // (y,x) leads on lift despite (x,y) leading on raw count; the
    // 1333333 tie breaks (x,y) < (x,z) lexicographically
    assert(r.toSeq == Seq(
      ("y", "x", 1L, 4000000L),
      ("x", "y", 2L, 1333333L),
      ("x", "z", 1L, 1333333L)))
  }

  test("windowed event dedup: chained gaps measured against kept rows only") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(epoch: Long) = new Timestamp(epoch * 1000L)
    // one key, window 10s, epochs 0/5/12/21/100/100:
    //  0 kept; 5 dup (vs 0); 12 KEPT (12-0>10 — though only 7s after
    //  the DROPPED 5); 21 dup (vs 12, though 21s after 0); 100 kept;
    //  the same-second re-delivery of 100 is a dup
    val rows = Seq((1L, 0L), (2L, 5L), (3L, 12L), (4L, 21L), (5L, 100L), (6L, 100L))
      .map { case (id, e) => (id, 7L, "click", ts(e)) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val r = Dedup.dedupWithin(rows, Seq("user_id", "event_type"), "ts",
        windowSec = 10, tieCol = "event_id")
      .collect().map(x => x.getAs[Long]("event_id") -> x.getAs[Boolean]("is_dup")).toMap
    assert(r == Map(1L -> false, 2L -> true, 3L -> false, 4L -> true,
      5L -> false, 6L -> true))
    // an unrelated key dedups independently
    val other = rows.withColumn("user_id", lit(8L))
    val both = Dedup.dedupWithin(rows.unionAll(other),
      Seq("user_id", "event_type"), "ts", 10, "event_id")
    assert(both.where(!col("is_dup")).count() == 6) // 3 kept per key
  }

  test("linear event dedup: row-identical to the window form, fixtures + generated") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(epoch: Long) = new Timestamp(epoch * 1000L)
    // the chained-gap fixture verdicts, via the O(h) fold
    val rows = Seq((1L, 0L), (2L, 5L), (3L, 12L), (4L, 21L), (5L, 100L), (6L, 100L))
      .map { case (id, e) => (id, 7L, "click", ts(e)) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val r = Dedup.dedupWithinLinear(rows, Seq("user_id", "event_type"), "ts",
        windowSec = 10, tieCol = "event_id")
      .collect().map(x => x.getAs[Long]("event_id") -> x.getAs[Boolean]("is_dup")).toMap
    assert(r == Map(1L -> false, 2L -> true, 3L -> false, 4L -> true,
      5L -> false, 6L -> true))
    // property: both forms agree on a generated multi-key timeline
    // with same-second ties, chained gaps, and NULL key values
    val rnd = new scala.util.Random(42)
    val gen = (1 to 400).map { i =>
      (i.toLong, (rnd.nextInt(3) + 1).toLong,
        if (rnd.nextInt(10) == 0) null else s"t${rnd.nextInt(2)}",
        ts(rnd.nextInt(120).toLong))
    }.toDF("event_id", "user_id", "event_type", "ts")
    def verdicts(df: org.apache.spark.sql.DataFrame) = df
      .select("event_id", "is_dup").collect()
      .map(x => x.getLong(0) -> x.getBoolean(1)).toMap
    val w = verdicts(Dedup.dedupWithin(gen, Seq("user_id", "event_type"),
      "ts", 10, "event_id"))
    val l = verdicts(Dedup.dedupWithinLinear(gen, Seq("user_id", "event_type"),
      "ts", 10, "event_id"))
    assert(w == l)
    assert(w.size == 400)
  }

  test("linear event dedup: null timestamps and reserved/binary columns") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(epoch: Long) = new Timestamp(epoch * 1000L)
    // a null-ts row gets a null is_dup (window-form semantics) and
    // contributes nothing to the kept timeline on either form
    val rows = Seq((1L, Some(0L)), (2L, None), (3L, Some(5L)), (4L, Some(12L)))
      .map { case (id, e) => (id, 7L, e.map(ts).orNull) }
      .toDF("event_id", "user_id", "ts")
    def verdicts(df: org.apache.spark.sql.DataFrame) = df
      .select("event_id", "is_dup").collect()
      .map(x => x.getLong(0) ->
        (if (x.isNullAt(1)) None else Some(x.getBoolean(1)))).toMap
    val w = verdicts(Dedup.dedupWithin(rows, Seq("user_id"), "ts", 10, "event_id"))
    val l = verdicts(Dedup.dedupWithinLinear(rows, Seq("user_id"), "ts", 10, "event_id"))
    assert(w == l)
    assert(l == Map(1L -> Some(false), 2L -> None, 3L -> Some(true), 4L -> Some(false)))
    // a pre-existing column named like the internal epoch temp survives
    // untouched (the temp name is collision-checked, not assumed free)
    val clash = rows.withColumn("__es0", lit("keep-me"))
    val out = Dedup.dedupWithinLinear(clash, Seq("user_id"), "ts", 10, "event_id")
    assert(out.columns.contains("__es0") &&
      out.select("__es0").head().getString(0) == "keep-me")
    assert(verdicts(out) == l)
    // BinaryType keys are rejected loudly (toString is not injective)
    val bin = rows.withColumn("bkey", lit(Array[Byte](1, 2)))
    val ex = intercept[IllegalArgumentException] {
      Dedup.dedupWithinLinear(bin, Seq("bkey"), "ts", 10, "event_id")
    }
    assert(ex.getMessage.contains("BinaryType"))
  }

  test("dedupWithin maxHistory guard: fails loudly past the bound, inert within it") {
    import spark.implicits._
    import java.sql.Timestamp
    val rows = (1L to 6L).map(i =>
        (i, 7L, "click", new Timestamp(i * 30000L)))
      .toDF("event_id", "user_id", "event_type", "ts")
    // bound not exceeded: verdicts identical to the unguarded form
    val ok = Dedup.dedupWithin(rows, Seq("user_id", "event_type"), "ts",
      10, "event_id", maxHistory = 6)
    assert(ok.where(!col("is_dup")).count() == 6) // 30s gaps: all kept
    // bound exceeded: the job FAILS with the directing message — never
    // a silent cap, never an OOM surprise
    val ex = intercept[Throwable] {
      Dedup.dedupWithin(rows, Seq("user_id", "event_type"), "ts",
        10, "event_id", maxHistory = 5).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${chain(t.getCause)}"
    assert(chain(ex).contains("maxHistory"))
  }

  test("new operators on empty/degenerate input: no crashes, honest shapes") {
    import spark.implicits._
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val lmPlan = TextAnalysis.lmScorePlan(none)
    assert(lmPlan.df.count() == 0); lmPlan.release()
    assert(TextAnalysis.collocations(none, k = 5, minCount = 1L).count() == 0)
    val shPlan = Dedup.simhashIdfPlan(none)
    assert(shPlan.df.count() == 0); shPlan.release()
    assert(EntityResolution.blockingProfile(none, col("text")).count() == 0)
    assert(Sampling.epochOrder(none, col("doc_id"), 1, 4).count() == 0)
    // fixedK with k beyond the row count returns everything
    val tiny = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Sampling.fixedK(tiny, col("doc_id"), 100).count() == 2)
    // sequenceGaps on empty: counts 0, bounds NULL (not a crash, and
    // not fabricated zeros — there is no span to report)
    val g = Profiler.sequenceGaps(none, "doc_id").head()
    assert(g.getLong(0) == 0 && g.isNullAt(3) && g.isNullAt(4))
  }

  test("idf-weighted simhash: bit-exact vs an independent recomputation") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "rare1 rare2 the"), (2L, "rare1 rare2 of"),
      (3L, "the of and"), (4L, "the of and"), (5L, "the and other"))
      .toDF("doc_id", "text")
    val plan = Dedup.simhashIdfPlan(corpus)
    val got = plan.df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    plan.release()
    // independent model: distinct tokens per doc, df over docs,
    // w = n_docs*1e6/df (integer), bit j of md5-h16 votes ±w
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docToks = Map(
      1L -> Set("rare1", "rare2", "the"), 2L -> Set("rare1", "rare2", "of"),
      3L -> Set("the", "of", "and"), 4L -> Set("the", "of", "and"),
      5L -> Set("the", "and", "other"))
    val df = docToks.values.flatten.toSeq.groupBy(identity).map { case (t, o) => t -> o.size }
    def h16(t: String) = java.lang.Integer.parseInt(md5hex(t).take(4), 16)
    val expected = docToks.map { case (id, ts) =>
      val bits = (0 until 16).map { j =>
        val s = ts.toSeq.map { t =>
          val w = 5L * 1000000L / df(t)
          if (((h16(t) >> (15 - j)) & 1) == 1) w else -w
        }.sum
        if (s > 0) 1L << (15 - j) else 0L
      }.sum
      id -> bits
    }
    assert(got == expected)
  }
}
