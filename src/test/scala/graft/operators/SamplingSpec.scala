package graft.operators

import graft.{GraftSession, SparkSpec}
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {

  private def docs = GraftSession.table(spark, Sf0001, "documents")

  test("hash split: total coverage, weight accuracy, determinism") {
    val s = Sampling.hashSplit(docs, col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = s.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count()
    assert(counts.values.sum == n) // every row labeled exactly once
    // 500 docs: binomial(500, 0.8) is within ±6σ ≈ ±54 of 400
    assert(math.abs(counts("train") - 0.8 * n) < 60, s"train=${counts("train")}")
    // identical across runs (pure hash function)
    val again = Sampling.hashSplit(docs, col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(s.orderBy("doc_id").collect().toSeq == again.orderBy("doc_id").collect().toSeq)
  }

  test("hash split: assignment is stable under subsetting (no reshuffle on ingestion)") {
    val full = Sampling.hashSplit(docs, col("doc_id"), Seq("a" -> 0.5, "b" -> 0.5))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val subset = Sampling.hashSplit(docs.where(col("doc_id") % 3 === 0),
        col("doc_id"), Seq("a" -> 0.5, "b" -> 0.5))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the same key gets the same split whether or not other rows exist
    subset.foreach { case (id, sp) => assert(full(id) == sp, s"doc $id moved splits") }
  }

  test("hash split: independent salts decorrelate assignments") {
    val a = Sampling.hashSplit(docs, col("doc_id"), Seq("x" -> 0.5, "y" -> 0.5), salt = "s1")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Sampling.hashSplit(docs, col("doc_id"), Seq("x" -> 0.5, "y" -> 0.5), salt = "s2")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val agree = a.count { case (id, sp) => b(id) == sp }
    // independent 50/50 splits agree on ~half the keys, not all/none
    assert(agree > a.size * 0.3 && agree < a.size * 0.7, s"agree=$agree of ${a.size}")
  }

  test("heavy hitters: exact counts, deterministic tie-break, k rows") {
    val hh = Sampling.heavyHitters(docs, 10).collect()
    assert(hh.length == 10)
    // descending counts; ties broken by token ascending
    hh.sliding(2).foreach { case Array(x, y) =>
      val (cx, cy) = (x.getLong(1), y.getLong(1))
      assert(cx > cy || (cx == cy && x.getString(0) < y.getString(0)))
    }
    // spot-check the top token's count against a direct aggregation
    val top = hh.head
    val direct = docs.select(explode(split(trim(col("text")), " +")).as("t"))
      .where(col("t") === top.getString(0)).count()
    assert(top.getLong(1) == direct)
  }

  test("count-min sketch: estimates bound the exact counts within eps*N") {
    val eps = 0.001
    val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(Sampling.tokenSketch(docs, eps = eps)))
    val exact = Sampling.heavyHitters(docs, 20).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val totalTokens = docs
      .select(size(split(trim(col("text")), " +")).as("n"))
      .agg(sum("n")).head().getLong(0)
    exact.foreach { case (tok, n) =>
      val est = sk.estimateCount(tok)
      assert(est >= n, s"CMS must never underestimate: $tok $est < $n")
      assert(est <= n + (eps * totalTokens).toLong + 1,
        s"CMS overestimate out of bound: $tok est=$est exact=$n")
    }
  }

  test("keeper election picks the highest-quality doc per cluster, tie-break min id") {
    import spark.implicits._
    val clusters = Seq((1L, 10L), (2L, 10L), (3L, 10L), (7L, 70L), (8L, 70L))
      .toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 5L), (2L, 9L), (3L, 9L), (7L, 4L), (8L, 4L))
      .toDF("doc_id", "score")
    val k = Dedup.keeperByQuality(clusters, scores).orderBy("cluster_id").collect()
    assert(k.length == 2)
    // cluster 10: scores (5,9,9) — doc 2 wins the tie against doc 3
    assert(k(0).getLong(0) == 10L && k(0).getLong(1) == 2L &&
      k(0).getLong(2) == 9L && k(0).getLong(3) == 3L)
    // cluster 70: tie (4,4) — min doc_id 7 wins
    assert(k(1).getLong(0) == 70L && k(1).getLong(1) == 7L)
  }

  test("sequence packing: greedy bin invariant, coverage, determinism") {
    val toks = size(split(trim(col("text")), " +")).cast("long")
    val packed = Sampling.packSequences(docs, col("doc_id"), toks, 200L, 4)
      .select(col("doc_id"), toks.as("tok"), col("shard"), col("bin"))
    assert(packed.count() == docs.count()) // every doc lands in one bin
    val rows = packed.orderBy("shard", "doc_id").collect()
      .map(r => (r.getInt(2), r.getLong(3), r.getLong(1)))
    // within each (shard, bin): every doc except the bin's last fits
    // under capacity (the greedy boundary rule)
    rows.groupBy(t => (t._1, t._2)).foreach { case ((sh, b), ds) =>
      val tokens = ds.map(_._3)
      assert(tokens.sum - tokens.last < 200L,
        s"shard=$sh bin=$b spills before its last doc: ${tokens.mkString(",")}")
    }
    // bins increase in key order within a shard, starting at 0
    rows.groupBy(_._1).foreach { case (_, ds) =>
      val bins = ds.map(_._2)
      assert(bins.head == 0L)
      bins.sliding(2).foreach { w => if (w.length == 2) assert(w(0) <= w(1)) }
    }
    val again = Sampling.packSequences(docs, col("doc_id"), toks, 200L, 4)
      .select("doc_id", "shard", "bin").orderBy("doc_id").collect()
    assert(again.toSeq == packed.select("doc_id", "shard", "bin")
      .orderBy("doc_id").collect().toSeq)
  }

  test("sequence packing: an oversized doc overflows its bin; later docs skip ahead") {
    import spark.implicits._
    val d = Seq((1L, 50L), (2L, 500L), (3L, 50L), (4L, 50L))
      .toDF("doc_id", "tok")
    val p = Sampling.packSequences(d, col("doc_id"), col("tok"), 100L, 1)
      .select("doc_id", "bin").orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p(1L) == 0L) // prev_cum 0
    assert(p(2L) == 0L) // prev_cum 50 — joins bin 0 and overflows it
    assert(p(3L) == 5L) // prev_cum 550 — skips bins 1-4
    assert(p(4L) == 6L) // prev_cum 600
  }

  test("packStats: hand-computed fill/overflow audit over a fixed layout") {
    import spark.implicits._
    // one shard: bins are fully determined by key order and capacity
    // docs (tok): 1:50, 2:500 (overflows bin 0), 3:50, 4:50 — bins
    // 0:{1,2}=550, 5:{3}=50 (prev_cum 550), 6:{4}=50 (prev_cum 600)
    val d = Seq((1L, 50L), (2L, 500L), (3L, 50L), (4L, 50L))
      .toDF("doc_id", "tok")
    val r = Sampling.packStats(d, col("doc_id"), col("tok"), 100L, 1).head()
    assert(r.getLong(0) == 3L)   // n_bins
    assert(r.getLong(1) == 4L)   // n_docs
    assert(r.getLong(2) == 650L) // n_tokens
    // fill = 650e6 div (3 * 100)
    assert(r.getLong(3) == 650L * 1000000L / 300L)
    assert(r.getLong(4) == 550L) // max_bin_tokens
    assert(r.getLong(5) == 1L)   // the overflowed bin 0
    // and it agrees with an independent rollup of packSequences
    val bins = Sampling.packSequences(docs,
        col("doc_id"), size(split(trim(col("text")), " +")).cast("long"), 200L, 4)
      .groupBy("shard", "bin")
      .agg(sum(size(split(trim(col("text")), " +")).cast("long")).as("bt"))
      .collect().map(_.getLong(2))
    val stats = Sampling.packStats(docs, col("doc_id"),
      size(split(trim(col("text")), " +")).cast("long"), 200L, 4).head()
    assert(stats.getLong(0) == bins.length)
    assert(stats.getLong(2) == bins.sum)
    assert(stats.getLong(4) == bins.max)
    assert(stats.getLong(5) == bins.count(_ > 200L))
  }

  test("quality-weighted sampling: keep rate tracks the score, deterministic, shuffle-free") {
    import spark.implicits._
    // score 0 → never kept; score 1 → always kept; 0.5 → about half
    val d = (0L until 300L).flatMap(i =>
      Seq((i * 3, 0.0), (i * 3 + 1, 0.5), (i * 3 + 2, 1.0)))
      .toDF("id", "score")
    val kept = Sampling.qualityWeightedSample(d, col("id"), col("score"))
    val by = kept.groupBy("score").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(!by.contains(0.0))
    assert(by(1.0) == 300L)
    assert(math.abs(by(0.5) - 150L) < 45, s"half-score kept ${by(0.5)}")
    val again = Sampling.qualityWeightedSample(d, col("id"), col("score"))
      .orderBy("id").collect().toSeq
    assert(again == kept.orderBy("id").collect().toSeq)
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("mixture sampling: binding group kept whole, others near target, absent dropped") {
    val kept = Sampling.mixtureSample(docs, col("source"), col("doc_id"),
      Seq("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0))
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // weight-0 groups are dropped entirely
    assert(bySrc.keySet == Set("src0", "src1", "src2"))
    // the binding group (min n/w — src0 at weight 4) survives intact
    assert(bySrc("src0") == n("src0"))
    // others are hash-thresholded near s*w: s = n0/4
    val s = n("src0") / 4.0
    assert(math.abs(bySrc("src1") - 2.0 * s) <= 4, s"src1=${bySrc("src1")} target=${2 * s}")
    assert(math.abs(bySrc("src2") - s) <= 4, s"src2=${bySrc("src2")} target=$s")
    // deterministic
    val again = Sampling.mixtureSample(docs, col("source"), col("doc_id"),
      Seq("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0))
      .select("doc_id").orderBy("doc_id").collect()
    assert(again.toSeq == kept.select("doc_id").orderBy("doc_id").collect().toSeq)
  }

  test("quality normalization: percentile rank is per-source, 0 at min, 1 at max, threshold unbiased") {
    import spark.implicits._
    val d = (Seq((1L, "s1", 10), (2L, "s1", 20), (3L, "s1", 30)) ++
      (11 to 14).map(i => (i.toLong, "s2", i * 100)))
      .map { case (id, src, len) => (id, src, "x" * len) }
      .toDF("doc_id", "source", "text")
    val r = Sampling.qualityNormalize(d, col("source"), length(col("text")).cast("long"))
      .collect().map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r(1L) == 0.0 && r(2L) == 0.5 && r(3L) == 1.0)
    assert(r(11L) == 0.0 && r(14L) == 1.0)
    assert(r(12L) == 1.0 / 3 && r(13L) == 2.0 / 3)
    // the calibration property: a global cut on pct_rank keeps the same
    // FRACTION of each source even though raw scales differ 10x
    val kept = Sampling.qualityNormalize(d, col("source"), length(col("text")).cast("long"))
      .where(col("pct_rank") >= 0.5)
    val bySrc = kept.groupBy("source").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(bySrc("s1") == 2 && bySrc("s2") == 2)
  }

  test("leakage-safe split: near-duplicate documents always share a split") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base), (2L, base + " extra"),            // near-dups of each other
      (3L, "completely unrelated words in this one here now for sure friend"),
      (4L, base)).toDF("doc_id", "text")            // exact dup of 1
    val labeled = Sampling.leakageSafeSplit(docs, Seq("train" -> 0.5, "test" -> 0.5))
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(labeled.size == 4)
    assert(labeled(1L) == labeled(2L) && labeled(1L) == labeled(4L),
      s"near-dups split apart: $labeled")
  }

  test("connected components: a repeated doc_id is one vertex; the split keeps its input rows") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "completely unrelated words in this one here now for sure friend"
    val docs = Seq((1L, base), (1L, base + " extra"), (2L, other), (3L, base))
      .toDF("doc_id", "text")
    val cc = Dedup.connectedComponents(docs, Dedup.minhashCandidates(docs))
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    assert(cc == Seq(1L -> 1L, 2L -> 2L, 3L -> 1L))
    val split = Sampling.leakageSafeSplit(docs, Seq("train" -> 0.5, "test" -> 0.5))
    val rows = split.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
    assert(rows == docs.collect().map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq)
  }

  test("leakage report plan: zero cross-split pairs; pairs cache released on release()") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base), (2L, base + " extra"),
      (3L, "completely unrelated words in this one here now for sure friend"),
      (4L, base)).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val p = Sampling.leakageReportPlan(docs, Seq("train" -> 0.5, "test" -> 0.5))
    val rows = p.df.collect()
    assert(rows.forall(_.getLong(2) == 0L), "cross-split pair count must be zero")
    assert(rows.map(_.getLong(1)).sum == 4L)
    p.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // connectedComponents' final label checkpoint backs the returned
    // frame and may legitimately remain; the PAIRS cache must not
    assert(leaked.size <= 1, s"released leakage plan leaked caches: $leaked")
  }

  test("kfold: all folds in 0..k-1, near-equal sizes, assignment stable under subsetting") {
    import spark.implicits._
    val d = (1L to 1000L).toDF("doc_id")
    val f = Sampling.kfold(d, col("doc_id"), k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f.values.toSet == Set(0L, 1L, 2L, 3L, 4L))
    val sizes = f.values.groupBy(identity).values.map(_.size)
    assert(sizes.min > 120 && sizes.max < 280, sizes.mkString(","))
    // removing other rows never moves a row's fold
    val sub = Sampling.kfold(d.where(col("doc_id") <= 100), col("doc_id"), k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sub.forall { case (k2, v) => f(k2) == v })
  }

  test("stratified sampling: exactly ceil(frac*n) kept per stratum, deterministic") {
    import spark.implicits._
    val d = ((1 to 10).map(i => (i.toLong, "a")) ++ (101 to 107).map(i => (i.toLong, "b")))
      .toDF("doc_id", "source")
    val kept = Sampling.stratifiedSample(d, col("source"), col("doc_id"), 0.3)
    val bySrc = kept.groupBy("source").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(bySrc == Map("a" -> 3L, "b" -> 3L)) // ceil(10*.3)=3, ceil(7*.3)=3
    // same call keeps the same rows
    val again = Sampling.stratifiedSample(d, col("source"), col("doc_id"), 0.3)
    assert(kept.collect().map(_.getLong(0)).sorted.toSeq ==
      again.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("temperature sampling: smallest source kept whole, big source thinned toward sqrt") {
    import spark.implicits._
    val d = ((1 to 400).map(i => (i.toLong, "big")) ++
      (1001 to 1025).map(i => (i.toLong, "small"))).toDF("doc_id", "source")
    val kept = Sampling.temperatureSample(d, col("source"), col("doc_id"))
      .groupBy("source").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // rate(small) = 1.0 — every row survives
    assert(kept("small") == 25)
    // rate(big) = sqrt(25/400) = 0.25: hash-thresholded near 100 of 400
    assert(kept("big") > 60 && kept("big") < 140, kept.toString)
    // alpha = 1 is natural proportions: nothing dropped
    val all = Sampling.temperatureSample(d, col("source"), col("doc_id"), alpha = 1.0)
    assert(all.count() == 425)
  }

  test("epochOrder: dense per-shard positions, replayable, epochs independent") {
    import spark.implicits._
    val d = (1L to 200L).toDF("doc_id")
    def run(epoch: Int) = Sampling.epochOrder(d, col("doc_id"), epoch, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val e1 = run(1)
    assert(e1.length == 200 && e1.map(_._1).toSet.size == 200)
    // positions are dense 1..n within every shard — resumable offsets
    e1.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // pure function of (epoch, key): a second run replays exactly
    assert(run(1).toSet == e1.toSet)
    // a different epoch keeps the shard assignment, permutes the order
    val e2 = run(2)
    assert(e1.map(x => (x._1, x._2)).toSet == e2.map(x => (x._1, x._2)).toSet)
    assert(e1.toSet != e2.toSet)
  }

  test("upsampleMixture: least-upsampled source keeps 1 copy, fractional copies hash-gated") {
    import spark.implicits._
    // three equal 20-doc sources -> rates are exactly the weights
    val d = (0L until 60L).map(i => (i, s"g${i % 3}")).toDF("doc_id", "source")
    val weights = Seq("g0" -> 2.5, "g1" -> 1.5, "g2" -> 1.0)
    val r = Sampling.upsampleMixture(d, col("source"), col("doc_id"), weights)
      .select(col("doc_id"), col("source"), col("copy")).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    val byDoc = r.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    // every input doc survives with contiguous 0-based copy indices
    assert(byDoc.keySet == (0L until 60L).toSet)
    byDoc.values.foreach(cs => assert(cs == (0L until cs.length).toSeq))
    // copy counts bracket the rate: g0 in {2,3}, g1 in {1,2}, g2 == 1
    def counts(g: String) = r.filter(_._2 == g).groupBy(_._1).map(_._2.length)
    assert(counts("g0").forall(c => c == 2 || c == 3))
    assert(counts("g1").forall(c => c == 1 || c == 2))
    assert(counts("g2").forall(_ == 1))
    // the fractional copy actually fires on SOME docs and not others
    assert(counts("g0").toSet == Set(2, 3))
    // deterministic under repartitioning
    val again = Sampling.upsampleMixture(d.repartition(7), col("source"),
      col("doc_id"), weights)
      .select(col("doc_id"), col("source"), col("copy")).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    assert(again.sorted.toSeq == r.sorted.toSeq)
    // unweighted sources drop, mirroring mixtureSample
    val withExtra = d.union(Seq((100L, "gX")).toDF("doc_id", "source"))
    assert(Sampling.upsampleMixture(withExtra, col("source"), col("doc_id"),
      weights).where(col("source") === "gX").count() == 0)
  }

  test("upsampleMixture: uneven sources scale to the target ratio in expectation") {
    import spark.implicits._
    // g0 tiny (10 docs) with weight 3, g1 big (90 docs) with weight 1:
    // s = 90, target g0 = 270 -> rate 27 (integer, no fractional noise)
    val d = ((0L until 10L).map(i => (i, "g0")) ++
      (100L until 190L).map(i => (i, "g1"))).toDF("doc_id", "source")
    val out = Sampling.upsampleMixture(d, col("source"), col("doc_id"),
      Seq("g0" -> 3.0, "g1" -> 1.0))
      .groupBy("source").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(out == Map("g0" -> 270L, "g1" -> 90L))
  }

  test("fixedK: exactly k rows, same set under repartitioning, top-k plan") {
    import spark.implicits._
    val d = (1L to 500L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val a = Sampling.fixedK(d, col("doc_id"), 37)
    assert(a.count() == 37)
    val setA = a.select("doc_id").collect().map(_.getLong(0)).toSet
    // choice is a pure function of (salt, key): layout must not matter
    val setB = Sampling.fixedK(d.repartition(13), col("doc_id"), 37)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(setA == setB)
    // a subset containing the chosen keys re-chooses them (stability
    // under subsetting — what partition-order sampling can't give)
    val sub = d.where(col("doc_id") <= 250)
    val subPick = Sampling.fixedK(sub, col("doc_id"), 37)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((setA.filter(_ <= 250) -- subPick).isEmpty)
    // different salt = independent draw (almost surely different set)
    val other = Sampling.fixedK(d, col("doc_id"), 37, salt = "other")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(setA != other)
    // never a global sort: per-partition top-k + k-row merge
    val plan = a.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }
}
