package graft.diff

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style invariants of the comparator over ScalaCheck-
  * generated data (fixed seeds — deterministic CI) — the test class
  * the reference lacks entirely (SURVEY §5: no property tests).
  */
class ComparatorPropertySpec extends SparkSpec {

  import spark.implicits._

  private val rowGen = for {
    id <- Gen.choose(0L, 1000L)
    s  <- Gen.oneOf("a", "b", "c", "", "x y", "\\N")
    d  <- Gen.choose(-1e6, 1e6)
  } yield (id, s, d)

  private val dataGen = Gen.listOfN(60, rowGen)

  private def sample(seed: Long): List[(Long, String, Double)] =
    dataGen.pureApply(Gen.Parameters.default, Seed(seed))

  test("property: diff(d, d) is empty for arbitrary data (incl. duplicates, empties, token-collision strings)") {
    (1L to 5L).foreach { seed =>
      val rows = sample(seed)
      val rep = Comparator.compare(
        rows.toDF("id", "s", "d"), rows.toDF("id", "s", "d"),
        CompareOptions(numBuckets = 16))
      assert(rep.identical, s"seed=$seed: ${rep.verdict}")
    }
  }

  test("property: dropping k distinct rows yields exactly k source orphans") {
    (1L to 5L).foreach { seed =>
      val rows = sample(seed)
      val k = 1 + (seed % 4).toInt
      val distinctRows = rows.distinct
      assert(distinctRows.size > k)
      // drop k distinct values entirely; keep duplicate multiplicity of the rest
      val dropped = distinctRows.take(k).toSet
      val keep = rows.filterNot(dropped)
      val rep = Comparator.compare(
        rows.toDF("id", "s", "d"), keep.toDF("id", "s", "d"),
        CompareOptions(numBuckets = 16))
      val expectedOrphans = rows.count(dropped) // all copies of dropped rows
      assert(rep.orphanSrc == expectedOrphans && rep.orphanTgt == 0,
        s"seed=$seed k=$k got ${rep.orphanSrc}/${rep.orphanTgt} want $expectedOrphans/0")
    }
  }

  test("property: diff is symmetric under side swap") {
    (1L to 5L).foreach { seed =>
      val a = sample(seed); val b = sample(seed + 100)
      val (da, db) = (a.toDF("id", "s", "d"), b.toDF("id", "s", "d"))
      val r1 = Comparator.compare(da, db, CompareOptions(numBuckets = 16))
      val r2 = Comparator.compare(db, da, CompareOptions(numBuckets = 16))
      assert(r1.orphanSrc == r2.orphanTgt && r1.orphanTgt == r2.orphanSrc, s"seed=$seed")
    }
  }

  test("property: orphan counts invariant under bucket count") {
    val rows = sample(7L)
    val tgt = (-1L, "mut", 0.0) :: rows.tail
    val counts = Seq(1, 7, 64, 1024).map { nb =>
      val rep = Comparator.compare(
        rows.toDF("id", "s", "d"), tgt.toDF("id", "s", "d"),
        CompareOptions(numBuckets = nb))
      (rep.orphanSrc, rep.orphanTgt)
    }
    assert(counts.distinct.size == 1, counts.toString)
    assert(counts.head._1 >= 1) // the replaced head row must surface
  }

  test("property: aligned compare of a frame vs itself plus extras is identical") {
    import org.apache.spark.sql.functions.{col, lit, upper}
    (1L to 5L).foreach { seed =>
      val df = sample(seed).toDF("id", "s", "d")
      // migration: column added, one column renamed (case-flipped too)
      val migrated = df
        .withColumnRenamed("s", "S_RENAMED")
        .withColumn("loaded_at", lit("2026"))
        .select(col("S_RENAMED"), col("loaded_at"), col("d"), col("id"))
      val (rep, srcOnly, tgtOnly) = Comparator.compareAligned(
        df, migrated, CompareOptions(numBuckets = 16),
        renames = Map("s" -> "s_renamed"))
      assert(rep.identical, s"seed=$seed: ${rep.verdict}")
      assert(srcOnly.isEmpty && tgtOnly == Seq("loaded_at"), s"seed=$seed")
      rep.release()
      // and a value perturbation in the RENAMED column still surfaces
      val bad = migrated.withColumn("S_RENAMED", upper(col("S_RENAMED")))
      val (rep2, _, _) = Comparator.compareAligned(
        df, bad, CompareOptions(numBuckets = 16),
        renames = Map("s" -> "s_renamed"))
      val changed = sample(seed).count(r => r._2 != r._2.toUpperCase)
      assert((rep2.orphanSrc > 0) == (changed > 0), s"seed=$seed")
      rep2.release()
    }
  }

  // ---- exact oracle: orphan rows are the bag difference, per side ----

  private type R = (Long, String, Double)

  private def bag(rows: Seq[R]): Map[R, Int] =
    rows.groupBy(identity).map { case (r, rs) => r -> rs.size }

  /** a − b as a bag: each row with its surplus multiplicity. */
  private def minus(a: Seq[R], b: Seq[R]): Map[R, Int] = {
    val nb = bag(b)
    bag(a).map { case (r, n) => r -> (n - nb.getOrElse(r, 0)) }.filter(_._2 > 0)
  }

  /** Each row's bucket under `nb` buckets, as the comparator assigns it. */
  private def buckets(rows: Seq[R], nb: Int): Map[R, Long] =
    Comparator.withBuckets(rows.toDF("id", "s", "d"), nb)
      .select("id", "s", "d", "__bucket").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)) -> r.getLong(3)).toMap

  /** Compares `src` with `tgt` and checks, per side, that the orphan
    * rows equal the bag difference of the collected rows, with
    * multiplicities, and that the counts agree. Returns the progress
    * lines.
    */
  private def checkOracle(what: String, src: Seq[R], tgt: Seq[R], nb: Int): Seq[String] = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val rep = Comparator.compare(src.toDF("id", "s", "d"), tgt.toDF("id", "s", "d"),
      CompareOptions(numBuckets = nb, maxMismatchFraction = 1.0, progress = lines += _))
    val got = rep.orphans.collect().toSeq
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2), r.getDouble(3)))
    def side(name: String) = bag(got.filter(_._1 == name).map(_._2))
    val (wantSrc, wantTgt) = (minus(src, tgt), minus(tgt, src))
    assert(side("source") == wantSrc, s"$what nb=$nb source orphans")
    assert(side("target") == wantTgt, s"$what nb=$nb target orphans")
    assert(rep.orphanSrc == wantSrc.values.sum && rep.orphanTgt == wantTgt.values.sum,
      s"$what nb=$nb counts ${rep.orphanSrc}/${rep.orphanTgt}")
    rep.release()
    lines.toSeq
  }

  test("property: orphan rows equal the bag difference for every drift shape and bucket count") {
    val base = sample(11L).distinct
    Seq(1, 2, 7, 64).foreach { nb =>
      val bucketOf = buckets(base, nb)
      val (a, b, m) = (base(0), base(1), base(3))
      // a single mutation whose two rows land in different buckets
      // decodes both buckets
      val mutant = (m._1, "mut", m._3)
      val peeled = checkOracle("single mutation", base, base.updated(3, mutant), nb)
      if (buckets(Seq(mutant), nb)(mutant) != bucketOf(m))
        assert(peeled.contains(
          "peel: 2/2 mismatched buckets decoded, 0 fetched whole, 0 re-fetched"), peeled)
      checkOracle("deletes", base, base.drop(3), nb)
      checkOracle("k-fold duplicates",
        base ++ Seq.fill(2)(b), base ++ Seq.fill(3)(a), nb)
      // a mutation whose old and new rows share a bucket: Δcnt = 0
      val tries = (0 until 1000).map(i => (a._1, s"m$i", a._3))
      val tryBucket = buckets(tries, nb)
      val moved = tries.find(r => tryBucket(r) == bucketOf(a)).get
      val lines = checkOracle("same-bucket mutation", base, moved +: base.tail, nb)
      assert(lines.contains(
        "peel: 0/1 mismatched buckets decoded, 1 fetched whole, 0 re-fetched"), lines)
      // several orphans in one bucket: the target drops all but one
      // row of the fullest bucket and holds that one twice
      val (_, fullest) = base.groupBy(bucketOf).maxBy(_._2.size)
      assert(fullest.size >= 2, s"nb=$nb: no bucket holds two rows")
      checkOracle("several orphans in one bucket",
        base, base.filterNot(fullest.tail.toSet) :+ fullest.head, nb)
    }
  }

  test("property: a mixed bucket that passes the weak decode is verified and fetched whole") {
    import org.apache.spark.sql.functions.{col, shiftrightunsigned, xxhash64}
    // one bucket: source ids {1, 2} against target id c give Δcnt = 1,
    // which divides any sum delta and buckets back to bucket 0; this c
    // was searched so that both quotients fit a long and the 24-bit
    // purity checksum also agrees (a 1-in-2²⁴ event), so the decode
    // names a key that is no row at all: verification must fail and
    // fetch the bucket again whole
    val c = 211946478L
    val hs = Comparator.withBuckets(Seq(1L, 2L, c).toDF("id"), 1)
      .select(col("__h"), col("__h2"), shiftrightunsigned(xxhash64(col("__h")), 40))
      .collect().map(r => (BigInt(r.getLong(0)), BigInt(r.getLong(1)), r.getLong(2)))
    val (q, q2) = (hs(0)._1 + hs(1)._1 - hs(2)._1, hs(0)._2 + hs(1)._2 - hs(2)._2)
    val qCheck = Seq(q.toLong).toDF("q")
      .select(shiftrightunsigned(xxhash64(col("q")), 40)).head().getLong(0)
    assert(q.isValidLong && q2.isValidLong && hs(0)._3 + hs(1)._3 - hs(2)._3 == qCheck,
      "the row hashes changed: search a new c that passes the weak decode")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val rep = Comparator.compare(Seq(1L, 2L).toDF("id"), Seq(c).toDF("id"),
      CompareOptions(numBuckets = 1, progress = lines += _))
    assert(lines.contains(
      "peel: 0/1 mismatched buckets decoded, 1 fetched whole, 1 re-fetched"), lines)
    val got = rep.orphans.collect().map(r => r.getString(0) -> r.getLong(1)).sorted.toSeq
    assert(got == Seq("source" -> 1L, "source" -> 2L, "target" -> c), got)
    assert(rep.orphanSrc == 2 && rep.orphanTgt == 1)
    rep.release()
  }
}
