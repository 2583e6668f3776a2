package graft.operators

import graft.SparkSpec
import graft.streaming.Streaming
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Property check: every text builder that now takes its tokens and
  * windows from [[Tokens]] returns exactly the rows of the form it
  * replaced. The replaced forms live on here, and only here, as the
  * reference: each builder's own `sequence`/`transform` window
  * starts, `TextAnalysis.chunk`'s filter lambda, and the two SimHash
  * bodies that `Dedup.simhash`'s one vote replaced. Corpora: the sf0.01
  * and sf0.1 `documents`, and edge texts (null, empty, blank, 1 and 2
  * tokens, runs of spaces, tabs and other non-space whitespace inside
  * the text, non-ASCII, exact window-size boundaries and a 41× repeat);
  * the block test leaves sf0.1 out.
  * Rows compare as multisets (`exceptAll` both ways, nulls equal),
  * with names and types equal too.
  */
class TokensPropertySpec extends SparkSpec {

  import spark.implicits._

  // ---- references: the builders Tokens replaced -------------------------

  private def refToks = split(trim(col("text")), " +")

  /** The k-gram builder of `Curation.decontaminateRewrite`,
    * `Curation.spanAuditBuild` (k = 3, gram text) and
    * `Dedup.spanDedupSlidingBuild` (k = 8, md5).
    */
  private def refGrams(docs: DataFrame, k: Int, f: Column => Column): DataFrame =
    docs.select(col("doc_id"), refToks.as("ts"))
      .where(size(col("ts")) >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("ts")) - k),
          i => f(concat_ws(" ", slice(col("ts"), i + 1, lit(k))))))
          .as(Seq("pos", "gram")))

  /** The block builder of `Dedup.spanDedup` (md5),
    * `Dedup.spanDedupRewrite` (block text) and
    * `Streaming.spanDedupStream` (md5).
    */
  private def refBlocks(docs: DataFrame, b: Int, f: Column => Column): DataFrame = {
    val ts = refToks
    val nBlocks = ceil(size(ts).cast("double") / b).cast("int")
    docs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), greatest(nBlocks, lit(1)) - 1),
        i => f(concat_ws(" ", slice(ts, i * b + 1, lit(b))))))
        .as(Seq("block_idx", "block")))
  }

  private def refSpanDedup(docs: DataFrame, b: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block_hash")).orderBy(col("doc_id"), col("block_idx"))
    refBlocks(docs, b, md5).withColumnRenamed("block", "block_hash")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_blocks"))
      .withColumn("dup_frac", col("n_dup_blocks").cast("double") / col("n_blocks"))
  }

  private def refSpanDedupRewrite(docs: DataFrame, b: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("block"))).orderBy(col("doc_id"), col("block_idx"))
    val kept = refBlocks(docs, b, identity)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
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

  private def refNarrow(docs: DataFrame): DataFrame = {
    val ts = refToks
    val shingleArr = when(size(ts) >= 3,
      transform(sequence(lit(1), size(ts) - 2), j =>
        concat_ws(" ", element_at(ts, j), element_at(ts, j + 1), element_at(ts, j + 2))))
    val withSh = docs.withColumn("__sh", shingleArr)
    val hs = (0 until 8).map { i =>
      array_min(transform(col("__sh"),
        s => md5(concat_ws("|", lit(i), s)))).as(s"h$i")
    }
    withSh.select(docs.columns.map(col) ++ hs: _*)
  }

  private def refFingerprints(docs: DataFrame): DataFrame = {
    val ts = refToks
    val shingleHashes = transform(
      sequence(lit(0), size(ts) - 3),
      i => md5(concat_ws(" ",
        element_at(ts, i + 1), element_at(ts, i + 2), element_at(ts, i + 3))))
    docs.select(
      col("doc_id"),
      md5(concat_ws(" ", ts)).as("norm_hash"),
      when(size(ts) >= 3, array_min(shingleHashes)).otherwise(md5(concat_ws(" ", ts)))
        .as("min_shingle_hash"))
  }

  private def refChunk(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    val overlap = chunkSize - stride
    docs
      .select(col("doc_id"), refToks.as("t"))
      .select(col("doc_id"), col("t"),
        explode(filter(
          sequence(lit(0), greatest(size(col("t")) - 1, lit(0)), lit(stride)),
          st => st === 0 || st + overlap < size(col("t")))).as("st"))
      .select(
        col("doc_id"),
        (col("st") / stride).cast("long").as("chunk_idx"),
        col("st").cast("long").as("start_tok"),
        size(slice(col("t"), col("st") + 1, lit(chunkSize))).cast("long")
          .as("n_chunk_toks"),
        md5(concat_ws(" ", slice(col("t"), col("st") + 1, lit(chunkSize))))
          .as("chunk_md5"))
  }

  private val Hex = "0123456789abcdef"

  private def h16(tok: Column): Column =
    (instr(lit(Hex), substring(md5(tok), 1, 1)) - 1) * 4096 +
    (instr(lit(Hex), substring(md5(tok), 2, 1)) - 1) * 256 +
    (instr(lit(Hex), substring(md5(tok), 3, 1)) - 1) * 16 +
    (instr(lit(Hex), substring(md5(tok), 4, 1)) - 1)

  private val fingerprint16 = (0 until 16).map { j =>
    when(col(s"s$j") > 0, lit(1L << (15 - j))).otherwise(0L)
  }.reduce(_ + _)

  /** The 16-bit `Dedup.simhash` body that `simhash(docs, 16)` replaced. */
  private def refSimhash16(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(refToks).as("tok")).distinct()
    val votes = (0 until 16).map { j =>
      sum(when(shiftright(col("h16"), 15 - j) % 2 === 1, 1).otherwise(-1)).as(s"s$j")
    }
    toks.withColumn("h16", h16(col("tok")).cast("long"))
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fingerprint16.as("simhash"))
  }

  /** The deleted `Dedup.simhashBits` body (per-digit BIGINT value). */
  private def refSimhashBits(docs: DataFrame, bits: Int): DataFrame = {
    val nd = bits / 4
    val toks = docs.select(col("doc_id"), explode(refToks).as("tok")).distinct()
    val h = (0 until nd).map { d =>
      (instr(lit(Hex), substring(md5(col("tok")), d + 1, 1)) - 1).cast("long") *
        lit(1L << (4 * (nd - 1 - d)))
    }.reduce(_ + _)
    val votes = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), bits - 1 - j) % 2 === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val fingerprint = (0 until bits).map { j =>
      when(col(s"s$j") > 0, lit(1L << (bits - 1 - j))).otherwise(0L)
    }.reduce(_ + _)
    toks.withColumn("h", h)
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fingerprint.as("simhash"))
  }

  /** `Dedup.simhashIdfPlan`'s body before it shared the vote. */
  private def refSimhashIdf(docs: DataFrame): DataFrame = {
    val toksD = docs.select(col("doc_id"), explode(refToks).as("tok")).distinct()
    val dfreq = toksD.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val weighted = toksD.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("w", expr("(n_docs * 1000000) DIV df"))
      .withColumn("h16", h16(col("tok")).cast("long"))
    val votes = (0 until 16).map { j =>
      sum(when(shiftright(col("h16"), 15 - j) % 2 === 1, col("w"))
        .otherwise(-col("w")).cast("decimal(38,0)")).as(s"s$j")
    }
    weighted
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fingerprint16.as("simhash_idf"))
  }

  // ---- corpora -------------------------------------------------------------

  private def words(n: Int) = (1 to n).map(i => s"w${i % 7}").mkString(" ")

  private lazy val edge: DataFrame = Seq[Option[String]](
    None, Some(""), Some("   "), Some("one"), Some("two words"),
    Some("  lead and trail  "), Some("runs   of    spaces  here and   there"),
    Some("tab\there mid\tstring words and\t\ttabs"),
    Some("newline\nin the\r\nmiddle of text"),
    Some("nbsp\u00a0inside words em\u2003space\u000bvt\ftail"),
    Some("café naïve 日本 语 ß café 😀 x 😀 x"),
    Some(Seq.fill(41)("the quick brown fox").mkString(" ")),
    Some(words(2)), Some(words(3)), Some(words(4)), Some(words(5)), Some(words(6)),
    Some(words(7)), Some(words(8)), Some(words(9)), Some(words(10)), Some(words(11)),
    Some(words(19)), Some(words(20)), Some(words(21)), Some(words(24)),
    Some(words(32)), Some(words(33)), Some(words(40)), Some(words(100))
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private lazy val corpora: Seq[(String, DataFrame)] = Seq(
    "edge" -> edge,
    "sf0.01" -> spark.read.parquet(s"$Sf001/documents.parquet"),
    "sf0.1" -> spark.read.parquet(s"$Sf01/documents.parquet"))

  /** The block test's corpora: the edge texts already hold every
    * block boundary (4..6, 19..21 and 40 tokens), so sf0.1 would add
    * only volume, and two more streaming queries.
    */
  private lazy val blockCorpora = corpora.filterNot(_._1 == "sf0.1")

  private def assertSameRows(got: DataFrame, ref: DataFrame, what: String): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      ref.schema.map(f => (f.name, f.dataType)), what)
    // both multiset differences empty, in one job
    assert(got.exceptAll(ref).unionAll(ref.exceptAll(got)).isEmpty, what)
  }

  // ---- properties ----------------------------------------------------------

  test("starts: the chunk rule by hand, short and null docs are one window") {
    val d = Seq[(Long, Option[String])](
      (1L, Some(words(10))), (2L, Some("a b")), (3L, Some("")), (4L, None))
      .toDF("doc_id", "text")
    def startsOf(size: Int, stride: Int) = d.select(col("doc_id"),
        Tokens.starts(Tokens.of(col("text")), size, stride).as("st"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // 10 tokens, windows of 4 every 3: 0, 3, 6 (6..9 adds token 9);
    // 9 would only re-cover 9
    assert(startsOf(4, 3) == Map(1L -> Seq(0, 3, 6), 2L -> Seq(0), 3L -> Seq(0), 4L -> Seq(0)))
    assert(startsOf(3, 1)(1L) == (0 to 7))
    assert(startsOf(5, 5)(1L) == Seq(0, 5))
    val w = d.where(col("doc_id") === 1L)
      .select(Tokens.windows(Tokens.of(col("text")), 4, 3).as("w")).head().getSeq[String](0)
    assert(w == Seq("w1 w2 w3 w4", "w4 w5 w6 w0", "w0 w1 w2 w3"))
  }

  test("k-grams: Tokens.grams == the replaced gram builders (k = 3 text, k = 8 md5)") {
    for ((name, docs) <- corpora; (k, f) <- Seq[(Int, Column => Column)](
        3 -> identity, 8 -> md5, 3 -> md5, 8 -> identity))
      assertSameRows(Tokens.grams(docs, k, "gram", f), refGrams(docs, k, f), s"$name k=$k")
  }

  test("blocks: spanDedup, spanDedupRewrite and the stream's block hashes == the replaced builders") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val at = Timestamp.valueOf("2024-01-01 00:00:00")
    for ((name, docs) <- blockCorpora; b <- Seq(5, 20)) {
      assertSameRows(Dedup.spanDedup(docs, b), refSpanDedup(docs, b), s"$name spanDedup b=$b")
      assertSameRows(Dedup.spanDedupRewrite(docs, b), refSpanDedupRewrite(docs, b),
        s"$name spanDedupRewrite b=$b")
      // one micro-batch of the whole corpus keeps each distinct hash once
      val mem = MemoryStream[(Long, Option[String], Timestamp)]
      val q = Streaming.spanDedupStream(mem.toDF().toDF("doc_id", "text", "ts"), b)
        .writeStream.format("memory").queryName("tokens_blocks")
        .outputMode("append").start()
      try {
        mem.addData(docs.select(col("doc_id"), col("text")).as[(Long, Option[String])]
          .collect().map { case (id, t) => (id, t, at) })
        q.processAllAvailable()
      } finally q.stop()
      val ref = refBlocks(docs, b, md5).select(col("block").as("block_hash")).distinct()
      assertSameRows(spark.table("tokens_blocks").select(col("block_hash")), ref,
        s"$name spanDedupStream b=$b")
    }
  }

  test("narrow MinHash arrays, fingerprints and chunk == their replaced forms") {
    for ((name, docs) <- corpora) {
      assertSameRows(Dedup.minhashSignaturesNarrow(docs), refNarrow(docs), s"$name narrow")
      assertSameRows(TextAnalysis.fingerprints(docs), refFingerprints(docs),
        s"$name fingerprints")
      for ((size, stride) <- Seq((32, 24), (8, 8), (5, 1), (10, 3)))
        assertSameRows(TextAnalysis.chunk(docs, size, stride), refChunk(docs, size, stride),
          s"$name chunk($size, $stride)")
    }
  }

  test("simhash(docs, 16) == the deleted 16-bit body, wider widths == simhashBits; simhashIdfPlan == its previous body") {
    for ((name, docs) <- corpora) {
      assertSameRows(Dedup.simhash(docs, 16), refSimhash16(docs), s"$name simhash")
      // both value forms: INT up to 28 bits, BIGINT past it
      for (bits <- Seq(20, 28, 32, 60))
        assertSameRows(Dedup.simhash(docs, bits), refSimhashBits(docs, bits),
          s"$name simhash bits=$bits")
      val idf = Dedup.simhashIdfPlan(docs)
      try assertSameRows(idf.df, refSimhashIdf(docs), s"$name simhash_idf")
      finally idf.release()
    }
  }
}
