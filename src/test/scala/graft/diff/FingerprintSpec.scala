package graft.diff

import graft.SparkSpec
import graft.streaming.Streaming
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The fingerprint algebra ([[Fingerprint]]) seen from its callers: the
  * batch compare, the stored snapshot and the streaming diff flag the
  * same buckets on generated drift, the mismatch rule reads every field
  * of the cell, and every entry rejects the reserved column names.
  */
class FingerprintSpec extends SparkSpec {

  import spark.implicits._

  private type R = (Option[Long], Option[String], Option[Double])

  private val rowGen: Gen[R] = for {
    id <- Gen.option(Gen.choose(0L, 1000L))
    s  <- Gen.option(Gen.oneOf("a", "b", "", "x y", "\\N"))
    d  <- Gen.option(Gen.choose(-1e6, 1e6))
  } yield (id, s, d)

  private def sample(n: Int, seed: Long): Seq[R] =
    Gen.listOfN(n, rowGen).pureApply(Gen.Parameters.default, Seed(seed))

  /** `rows` with one mutated row, one row nulled, about one row in 17
    * deleted, two copies of one row added and three new rows inserted.
    */
  private def drifted(rows: Seq[R], seed: Long): Seq[R] = {
    val r = new scala.util.Random(seed)
    val (mutated, nulled) = (r.nextInt(rows.size), r.nextInt(rows.size))
    val kept = rows.zipWithIndex.collect {
      case ((id, _, d), i) if i == mutated => (id, Some("mut"), d)
      case ((id, s, _), i) if i == nulled  => (id, s, None)
      case (row, i) if i % 17 != seed % 17 => row
    }
    kept ++ Seq.fill(2)(rows(r.nextInt(rows.size))) ++ sample(3, seed + 1000)
  }

  private def frame(rows: Seq[R]): DataFrame = rows.toDF("id", "s", "d")

  private var queries = 0

  /** [[Streaming.diffStreams]] after both sides were delivered through
    * MemoryStream, in complete mode.
    */
  private def streamed(src: Seq[R], tgt: Seq[R], nb: Int): DataFrame = {
    implicit val sq = spark.sqlContext
    val (ms, mt) = (MemoryStream[R], MemoryStream[R])
    queries += 1
    val name = s"fingerprint_diff_$queries"
    val q = Streaming.diffStreams(ms.toDF().toDF("id", "s", "d"), mt.toDF().toDF("id", "s", "d"), nb)
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    try { ms.addData(src); mt.addData(tgt); q.processAllAvailable() } finally q.stop()
    spark.table(name)
  }

  /** One side's cells of the streamed table, as (bucket, cnt, hsum, h2sum). */
  private def sideCells(f: DataFrame, p: String): Set[Seq[Any]] =
    f.where(col(p + "cnt") > 0)
      .select(col("__bucket"), col(p + "cnt"), col(p + "hsum"), col(p + "h2sum"))
      .collect().map(_.toSeq).toSet

  private def batchCells(rows: Seq[R], nb: Int): Set[Seq[Any]] =
    Comparator.fingerprints(Comparator.withBuckets(frame(rows), nb)).collect().map(_.toSeq).toSet

  test("property: stream, stored and batch diffs flag the same buckets") {
    for (seed <- Seq(1L, 2L, 3L); nb <- Seq(1, 16, 64)) {
      val src = sample(60, seed)
      for ((what, tgt) <- Seq("drift" -> drifted(src, seed), "shuffled copy" -> src.reverse)) {
        val at = s"seed=$seed nb=$nb $what"
        val rep = Comparator.compare(frame(src), frame(tgt),
          CompareOptions(numBuckets = nb, fetchRows = false))
        val batch = rep.buckets.where(!col("ok")).select("bucket").as[Long].collect().toSet
        rep.release()
        assert(batch.nonEmpty == (what == "drift"), at)

        val stream = streamed(src, tgt, nb)
        assert(stream.where(col("mismatch")).select("__bucket").as[Long].collect().toSet == batch, at)
        // the streamed cells are the batch fingerprints of each side
        assert(sideCells(stream, "s_") == batchCells(src, nb), at)
        assert(sideCells(stream, "t_") == batchCells(tgt, nb), at)

        val dir = Files.createTempDirectory("fingerprint").toString + "/fp"
        FingerprintStore.write(frame(src), nb, dir)
        assert(FingerprintStore.compareWithStored(frame(tgt), dir) ==
          ((batch.size.toLong, src.size.toLong, tgt.size.toLong)), at)
      }
    }
  }

  test("the mismatch rule flags a cell differing in any field and reads an absent side as zero") {
    type C = (Option[Long], Option[Long], Option[Long])
    val (none, empty): (C, C) = ((None, None, None), (Some(0L), None, None))
    val cell: C = (Some(2L), Some(-5L), Some(7L))
    val cases: Seq[(C, C, Boolean)] = Seq(
      (cell, cell, false),
      (cell, (Some(3L), Some(-5L), Some(7L)), true),
      (cell, (Some(2L), Some(-4L), Some(7L)), true),
      (cell, (Some(2L), Some(-5L), Some(8L)), true),
      (cell, none, true),
      (none, empty, false),
      (empty, (Some(0L), Some(0L), Some(0L)), false))
    val dec38 = DecimalType(38, 0)
    val got = cases.map { case (a, b, _) => (a._1, a._2, a._3, b._1, b._2, b._3) }
      .toDF("s_cnt", "s_hsum", "s_h2sum", "t_cnt", "t_hsum", "t_h2sum")
      .select(Seq("s_", "t_").flatMap(p => Seq(col(p + "cnt"),
        col(p + "hsum").cast(dec38).as(p + "hsum"), col(p + "h2sum").cast(dec38).as(p + "h2sum"))): _*)
      .select(Fingerprint.mismatch("s_", "t_")).collect().map(_.getBoolean(0)).toSeq
    assert(got == cases.map(_._3))
  }

  private def small: DataFrame = frame(sample(20, 9L))

  test("reserved names: FingerprintStore.write rejects them") {
    val dir = Files.createTempDirectory("fingerprint").toString + "/fp"
    intercept[IllegalArgumentException](
      FingerprintStore.write(small.withColumn("__h", lit(1L)), 16, dir))
  }

  test("reserved names: FingerprintStore.compareWithStored rejects them") {
    val dir = Files.createTempDirectory("fingerprint").toString + "/fp"
    FingerprintStore.write(small, 16, dir)
    intercept[IllegalArgumentException](
      FingerprintStore.compareWithStored(small.withColumn("__bucket", lit(0L)), dir))
  }

  test("reserved names: Streaming.incrementalFingerprints rejects them") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[R]
    intercept[IllegalArgumentException](
      Streaming.incrementalFingerprints(mem.toDF().toDF("id", "s", "__h2"), 16))
  }

  test("reserved names: Streaming.diffStreams rejects them") {
    implicit val sq = spark.sqlContext
    val (ms, mt) = (MemoryStream[R], MemoryStream[R])
    // names resolve case-insensitively, so the check does too
    val e = intercept[IllegalArgumentException](Streaming.diffStreams(
      ms.toDF().toDF("id", "s", "d"), mt.toDF().toDF("id", "s", "__D"), 16))
    assert(e.getMessage.contains("target column '__D'"), e.getMessage)
  }
}
