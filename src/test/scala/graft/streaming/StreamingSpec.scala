package graft.streaming

import graft.{GraftSession, SparkSpec}
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def eventsDf = GraftSession.table(spark, Sf0001, "events")
    .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
      col("value"))

  private def typedEvents: Seq[Streaming.Event] =
    eventsDf.as[Streaming.Event].collect().toSeq

  test("windowed counts: streaming complete-mode result equals batch groupBy") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Streaming.Event]
    mem.addData(typedEvents)
    // complete mode needs no watermark eviction — drop it for the twin check
    val agg = mem.toDF()
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"))
    val q = agg.writeStream.format("memory").queryName("wc")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("wc")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = eventsDf
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("freshness stream: per-key state snapshot + shared finish equals the batch report") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Streaming.Event]
    val agg = Streaming.freshnessStream(mem.toDF(), col("event_type"), col("ts"))
    val q = agg.writeStream.format("memory").queryName("fresh")
      .outputMode("complete").start()
    try {
      // three micro-batches: the per-key (last_seen, n) state must
      // carry across batch lines
      val parts = typedEvents.grouped(math.max(1, typedEvents.size / 3)).toSeq
      parts.foreach { batch => mem.addData(batch); q.processAllAvailable() }
    } finally q.stop()
    val snapshot = spark.table("fresh")
    val streamed = graft.operators.Profiler.freshnessFinish(snapshot, 60L)
      .collect().map(_.toString).sorted
    val batch = graft.operators.Profiler.freshness(
        eventsDf, col("event_type"), col("ts"), 60L)
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty && streamed.sameElements(batch))
  }

  test("sliding-window counts: each event lands in 4 windows; stream equals batch") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Streaming.Event]
    mem.addData(typedEvents)
    // complete mode needs no watermark eviction — mirror windowedCounts' twin check
    val agg = mem.toDF()
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"))
    val q = agg.writeStream.format("memory").queryName("slide")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("slide")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    // batch twin: the SAME expression tree on the static frame
    val batch = eventsDf
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
    // overlap factor: every event contributes to exactly 4 sliding windows
    assert(streamed.toSeq.map(_._3).sum == eventsDf.count() * 4)
  }

  test("curation front-end (quality scores + split assignment) runs unchanged on a stream") {
    // the stateless stages of the curation pipeline are pure narrow
    // projections, so the SAME operator code must run on a stream with
    // no modification and produce the batch answer — documents arrive,
    // get scored and split-labeled, no state, no watermark
    implicit val sq = spark.sqlContext
    val docs = GraftSession.table(spark, Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs.as[(Long, String)].collect().toSeq)
    val labeled = graft.operators.Sampling.hashSplit(
      graft.operators.TextAnalysis.qualityScores(
        mem.toDF().toDF("doc_id", "text")),
      col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("n_chars"), col("passes_filter"), col("split"))
    assert(labeled.isStreaming)
    val q = labeled.writeStream.format("memory").queryName("cur")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("cur").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getString(3))).toSet
    val batch = graft.operators.Sampling.hashSplit(
      graft.operators.TextAnalysis.qualityScores(docs),
      col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("n_chars"), col("passes_filter"), col("split"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getString(3))).toSet
    assert(streamed == batch && streamed.size == 500)
  }

  test("pii redaction into repetition scoring runs unchanged on a stream") {
    // redact → score-the-redacted-text: both stages are stateless
    // narrow projections, so the batch operator objects run on the
    // stream verbatim and must give the batch answer
    implicit val sq = spark.sqlContext
    val docs = GraftSession.table(spark, Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    def pipelineOf(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.repetitionStats(
        graft.operators.Curation.redactPii(df, col("text"))
          .select(col("doc_id"), col("text_redacted").as("text")))
        .select(col("doc_id"), col("n_tokens"), col("top_token_frac"),
          col("passes_repetition"))
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs.as[(Long, String)].collect().toSeq)
    val st = pipelineOf(mem.toDF().toDF("doc_id", "text"))
    assert(st.isStreaming)
    val q = st.writeStream.format("memory").queryName("pii_rep")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("pii_rep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    val batch = pipelineOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    assert(streamed == batch && streamed.size == 500)
  }

  test("streaming span dedup keeps exactly the batch operator's first-occurrence blocks") {
    implicit val sq = spark.sqlContext
    val block = (1 to 20).map(i => s"s$i").mkString(" ")
    // doc 1 owns the block; doc 2 (same batch) and doc 3 (LATER batch)
    // re-deliver it — both copies must be dropped across the batch line
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val mk = (id: Long, text: String) => (id, text, t0)
    val batch1 = Seq(mk(1L, block + " tail"), mk(2L, block + " noise words"))
    val batch2 = Seq(mk(3L, block + " late copy"), mk(4L, "fresh distinct content here"))
    val mem = MemoryStream[(Long, String, Timestamp)]
    val st = Streaming.spanDedupStream(
      mem.toDF().toDF("doc_id", "text", "ts"), 20)
    assert(st.isStreaming)
    val q = st.writeStream.format("memory").queryName("span")
      .outputMode("append").start()
    try {
      mem.addData(batch1); q.processAllAvailable()
      mem.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("span").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("block_hash"))).toSet
    // batch twin over the union, doc order = arrival order
    import spark.implicits._
    val all = (batch1 ++ batch2).toDF("doc_id", "text", "ts")
    val perDoc = graft.operators.Dedup.spanDedup(all, 20).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(perDoc(2L) == 1L && perDoc(3L) == 1L) // batch flags both copies
    // streamed kept-set: every doc's non-dup blocks, none of the dups
    val batchKeptCount = graft.operators.Dedup.spanDedup(all, 20)
      .agg(sum(col("n_blocks") - col("n_dup_blocks"))).head().getLong(0)
    assert(kept.size.toLong == batchKeptCount)
    // no block hash survives twice — the shared block's keeper is doc 1
    assert(kept.groupBy(_._2).forall(_._2.size == 1))
    assert(kept.exists(_._1 == 1L) && kept.count(_._1 == 3L) == 1) // doc 3 keeps only its novel tail block
  }

  test("streaming sessionization equals batch sessionization (sentinel-closed)") {
    implicit val sq = spark.sqlContext
    val events = typedEvents
    // sentinel event far in the future closes every open session
    val sentinelTs = events.map(_.ts.getTime).max + 365L * 24 * 3600 * 1000
    val sentinels = events.map(_.user_id).distinct.map(u =>
      Streaming.Event(-1L, new Timestamp(sentinelTs), u, "sentinel", 0.0))

    val mem = MemoryStream[Streaming.Event]
    val q = Streaming.sessionizeStream(mem.toDS())
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // two triggers: first half, then rest + sentinels (state carries over)
      val (a, b) = events.sortBy(_.ts.getTime).splitAt(events.size / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b ++ sentinels); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("sess")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    val batch = Streaming.sessionizeBatch(eventsDf)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(batch.nonEmpty)
  }

  test("two-stream diff: mismatch while one side lags, clean once both delivered") {
    implicit val sq = spark.sqlContext
    val memS = MemoryStream[Streaming.Event]
    val memT = MemoryStream[Streaming.Event]
    val q = Streaming.diffStreams(memS.toDF(), memT.toDF(), numBuckets = 16)
      .writeStream.format("memory").queryName("sdiff").outputMode("complete").start()
    try {
      val events = typedEvents
      memS.addData(events); q.processAllAvailable()
      val lagging = spark.table("sdiff").where(col("mismatch")).count()
      assert(lagging > 0) // target has delivered nothing yet
      memT.addData(events); q.processAllAvailable()
      val converged = spark.table("sdiff").where(col("mismatch")).count()
      assert(converged == 0, s"still $converged mismatched buckets after convergence")
    } finally q.stop()
  }

  test("drift stream: bucket counts converge to the batch histogramDrift counts") {
    implicit val sq = spark.sqlContext
    val memA = MemoryStream[Streaming.Event]
    val memB = MemoryStream[Streaming.Event]
    val q = Streaming.driftStream(memA.toDF(), memB.toDF(), "value",
        lo = 0.0, hi = 100.0, bins = 8)
      .writeStream.format("memory").queryName("sdrift").outputMode("complete").start()
    try {
      val events = typedEvents
      val (evenSide, oddSide) = events.partition(_.event_id % 2 == 0)
      // deliver each side across two micro-batch lines — state must
      // accumulate, not recompute per batch
      memA.addData(evenSide.take(evenSide.size / 2))
      memB.addData(oddSide.take(oddSide.size / 2))
      q.processAllAvailable()
      memA.addData(evenSide.drop(evenSide.size / 2))
      memB.addData(oddSide.drop(oddSide.size / 2))
      q.processAllAvailable()
      val streamed = spark.table("sdrift")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.Profiler.driftBucketCounts(
          eventsDf.where(col("event_id") % 2 === 0),
          eventsDf.where(col("event_id") % 2 === 1),
          "value", 0.0, 100.0, 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("transitions stream: the per-user transition bag equals the batch sequence stage") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Streaming.Event]
    val q = Streaming.transitionsStream(mem.toDS())
      .writeStream.format("memory").queryName("strans").outputMode("append").start()
    try {
      // in-order delivery split across micro-batch lines: state must
      // carry each user's last event over the boundary
      val events = typedEvents.sortBy(e => (e.ts.getTime, e.event_id))
      mem.addData(events.take(events.size / 2)); q.processAllAvailable()
      mem.addData(events.drop(events.size / 2)); q.processAllAvailable()
      val streamed = spark.table("strans")
        .groupBy("from_type", "to_type").count()
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val batch = graft.queries.Relational.queries("q38_transitions")(spark, Sf0001)
        .select("from_type", "to_type", "n")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("scd2 stream: closed runs equal the batch history's non-current rows") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Streaming.Event]
    val q = Streaming.scd2Stream(mem.toDS())
      .writeStream.format("memory").queryName("sscd2").outputMode("append").start()
    try {
      // in-order delivery split across micro-batch lines: the open run
      // must carry over the boundary and close in a later trigger
      val events = typedEvents.sortBy(e => (e.ts.getTime, e.event_id))
      mem.addData(events.take(events.size / 3)); q.processAllAvailable()
      mem.addData(events.slice(events.size / 3, 2 * events.size / 3)); q.processAllAvailable()
      mem.addData(events.drop(2 * events.size / 3)); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getString(2),
          r.getTimestamp(3), r.getTimestamp(4), r.getLong(5))
      val streamed = spark.table("sscd2")
        .select("user_id", "run_seq", "event_type", "valid_from", "valid_to", "n_events")
        .collect().map(key).toSet
      val batchAll = graft.queries.Relational.queries("q44_scd2")(spark, Sf0001)
      val closed = batchAll.where(col("valid_to").isNotNull)
        .select("user_id", "run_seq", "event_type", "valid_from", "valid_to", "n_events")
        .collect().map(key).toSet
      assert(streamed == closed && closed.nonEmpty)
      // the state side: per user exactly one OPEN run remains — the
      // batch is_current row; counts conserve across closed + open
      val users = batchAll.select("user_id").distinct().count()
      val openRows = batchAll.where(col("is_current")).count()
      assert(openRows == users)
      assert(streamed.size + users == batchAll.count())
    } finally q.stop()
  }

  test("anomaly grain stream: counts converge to batch, z finish matches dailyAnomalies") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Streaming.Event]
    val q = Streaming.anomalyGrainStream(mem.toDF(), col("ts"), col("event_type"))
      .writeStream.format("memory").queryName("sanom").outputMode("complete").start()
    try {
      val events = typedEvents
      // split across micro-batch lines mid-day: state must accumulate
      mem.addData(events.take(events.size / 2)); q.processAllAvailable()
      mem.addData(events.drop(events.size / 2)); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getDate(1).toString, r.getLong(2))
      val streamedGrain = spark.table("sanom").collect().map(key).toSet
      val batchGrain = graft.operators.Profiler
        .anomalyGrainCounts(eventsDf, col("ts"), col("event_type"))
        .collect().map(key).toSet
      assert(streamedGrain == batchGrain)
      assert(batchGrain.nonEmpty)
      // the stateless finish over the streamed state == the batch operator
      val streamedZ = graft.operators.Profiler
        .anomaliesFromGrain(spark.table("sanom"))
        .orderBy("key", "day").collect().map(_.toSeq).toSeq
      val batchZ = graft.operators.Profiler
        .dailyAnomalies(eventsDf, col("ts"), col("event_type"))
        .orderBy("key", "day").collect().map(_.toSeq).toSeq
      assert(streamedZ == batchZ)
    } finally q.stop()
  }

  test("two-stream diff flags a mutated stream permanently") {
    implicit val sq = spark.sqlContext
    val memS = MemoryStream[Streaming.Event]
    val memT = MemoryStream[Streaming.Event]
    val q = Streaming.diffStreams(memS.toDF(), memT.toDF(), numBuckets = 16)
      .writeStream.format("memory").queryName("sdiff2").outputMode("complete").start()
    try {
      val events = typedEvents
      val mutated = events.head.copy(value = events.head.value + 1) +: events.tail
      memS.addData(events); memT.addData(mutated); q.processAllAvailable()
      val bad = spark.table("sdiff2").where(col("mismatch")).count()
      assert(bad >= 1 && bad <= 2) // mutated row's old and new buckets
    } finally q.stop()
  }

  test("streaming file sink: append windowed counts to parquet via checkpoint, read back") {
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ssink").toString
    val mem = MemoryStream[Streaming.Event]
    val q = Streaming.windowedCounts(mem.toDF())
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .start()
    try {
      mem.addData(typedEvents); q.processAllAvailable()
      // advance the watermark far enough to close every window
      mem.addData(Seq(Streaming.Event(-1L,
        new java.sql.Timestamp(typedEvents.map(_.ts.getTime).max + 10L * 3600 * 1000),
        0L, "late", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$base/out")
    val batch = eventsDf.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    // every emitted (hour, type, n) row matches the batch aggregate
    val got = out.select("hour", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val want = batch.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got.subsetOf(want), s"got=${got.size} want=${want.size}")
  }

  test("streaming dedup drops cross-batch re-deliveries within the watermark") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Streaming.Event]
    val q = Streaming.dedupStream(mem.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      // time-ordered batches: the watermark advances to max(a.ts)-2h
      // after the first trigger, so batch b's fresh rows stay live
      val events = typedEvents.sortBy(_.ts.getTime)
      val (a, b) = events.splitAt(events.size / 2)
      // duplicates both inside a batch and across the batch boundary
      mem.addData(a ++ a.take(20)); q.processAllAvailable()
      mem.addData(b ++ a.takeRight(20) ++ b.take(20)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("dedup")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toSet
    val batch = eventsDf.dropDuplicates("event_id")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toSet
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed=${streamed.size} batch=${batch.size}")
    // emitted exactly once per key
    assert(spark.table("dedup").count() ==
      spark.table("dedup").select("event_id").distinct().count())
  }

  test("streaming incremental dedup candidates equal the batch operator across batch lines") {
    implicit val sq = spark.sqlContext
    val d = GraftSession.table(spark, Sf0001, "documents")
    // same split as the dd_incremental gate: corpus index = doc_id % 5 != 0
    val corpusIndex = graft.operators.Dedup.minhashSignatures(
      d.where(pmod(col("doc_id"), lit(5)) =!= 0))
    val newDocs = d.where(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("text"))
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val arriving = newDocs.as[(Long, String)].collect().toSeq
      .map { case (id, tx) => (id, tx, t0) }
    val (a, b) = arriving.splitAt(arriving.size / 2)
    val mem = MemoryStream[(Long, String, Timestamp)]
    val st = Streaming.incrementalCandidatesStream(
      corpusIndex, mem.toDF().toDF("doc_id", "text", "ts"))
    assert(st.isStreaming)
    val q = st.writeStream.format("memory").queryName("inc_cand")
      .outputMode("append").start()
    try {
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("inc_cand").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Dedup.incrementalCandidates(corpusIndex, newDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
    // each pair emitted exactly once despite band collisions
    assert(spark.table("inc_cand").count() == streamed.size)
  }

  test("incremental candidates stream: pair-dedup state plateaus under the watermark") {
    implicit val sq = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq((1L, base), (2L, base + " extra")).toDF("doc_id", "text")
    val index = graft.operators.Dedup.minhashSignatures(corpus)
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def at(days: Int) = new Timestamp(t0.getTime + days * 86400000L)
    val mem = MemoryStream[(Long, String, Timestamp)]
    val st = Streaming.incrementalCandidatesStream(
      index, mem.toDF().toDF("doc_id", "text", "ts"))
    val q = st.writeStream.format("memory").queryName("inc_cand_b")
      .outputMode("append").start()
    val statesSeen = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      // 4 micro-batches of fresh near-dup arrivals, each 10 days after
      // the previous — every batch's pairs enter the dedup state, and
      // the advancing watermark must EVICT the closed batches' pairs
      (0 until 4).foreach { b =>
        val docs = (0 until 3).map(j => (100L + b * 10 + j, base, at(b * 10)))
        mem.addData(docs); q.processAllAvailable()
        statesSeen += stateRows(q)
      }
    } finally q.stop()
    val out = spark.table("inc_cand_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // every batch emitted, each pair exactly once
    assert(out.size == out.distinct.size && out.size >= 12,
      s"pairs=${out.size} distinct=${out.distinct.size}")
    // bounded state: after 4 batches the store holds about ONE open
    // horizon's pairs, not the whole history (an unbounded twin would
    // hold all of them)
    val s = statesSeen.last
    assert(s > 0 && s <= out.size / 2,
      s"state rows = $s of ${out.size} pairs ever emitted — not evicting " +
        s"(trajectory: ${statesSeen.mkString(",")})")
  }

  test("streaming split assignment inherits cluster splits and matches the batch twin") {
    implicit val sq = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "completely unrelated words in this one here now for sure friend"
    val third = "yet another entirely different document body with its own tokens"
    val corpus = Seq((1L, base), (2L, base + " extra"), (3L, other), (4L, third))
      .toDF("doc_id", "text")
    val weights = Seq("train" -> 0.5, "test" -> 0.5)
    // published batch assignment over the corpus (keeps cluster_id + split)
    val corpusSplits = graft.operators.Sampling.leakageSafeSplit(corpus, weights)
      .select(col("doc_id"), col("cluster_id"), col("split"))
    corpusSplits.persist(); corpusSplits.count()
    val index = graft.operators.Dedup.minhashSignatures(corpus)
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    // 10 near-dups cluster {1,2}; 12 exact-copies 3; 11 is genuinely new
    val batch1 = Seq((10L, base, t0), (11L, "fresh text never seen in the corpus at all", t0))
    val batch2 = Seq((12L, other, t0))
    val mem = MemoryStream[(Long, String, Timestamp)]
    val st = Streaming.splitAssignStream(
      index, corpusSplits, mem.toDF().toDF("doc_id", "text", "ts"), weights)
    assert(st.isStreaming)
    val q = st.writeStream.format("memory").queryName("sas")
      .outputMode("update").start()
    try {
      mem.addData(batch1); q.processAllAvailable()
      mem.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sas").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val published = corpusSplits.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // inherited labels equal the PUBLISHED ones (never reshuffled)
    assert(streamed(10L) == published(1L) && published(1L) == published(2L))
    assert(streamed(12L) == published(3L))
    // and the whole assignment equals a batch re-run over corpus+arrivals
    // (arriving ids exceed corpus ids, so cluster identities are stable)
    val combined = corpus.unionAll(
      (batch1 ++ batch2).map(x => (x._1, x._2)).toDF("doc_id", "text"))
    val twin = graft.operators.Sampling.leakageSafeSplit(combined, weights)
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == twin.view.filterKeys(_ >= 10L).toMap,
      s"streamed=$streamed twin=$twin")
    corpusSplits.unpersist()
  }

  test("streaming top-k tokens equals the batch heavy hitters in complete mode") {
    implicit val sq = spark.sqlContext
    val docs = GraftSession.table(spark, Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val rows = docs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.topTokensStream(mem.toDF().toDF("doc_id", "text"), 15)
      .writeStream.format("memory").queryName("toptok")
      .outputMode("complete").start()
    try {
      val (a, b) = rows.splitAt(rows.size / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("toptok").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = graft.operators.Sampling.heavyHitters(docs, 15).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamed == batch && streamed.size == 15)
  }

  test("incremental fingerprints converge to the batch fingerprints") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Streaming.Event]
    val q = Streaming.incrementalFingerprints(mem.toDF(), numBuckets = 32)
      .writeStream.format("memory").queryName("fp").outputMode("complete").start()
    try {
      val (a, b) = typedEvents.splitAt(typedEvents.size / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("fp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2), r.getDecimal(3))).toSet
    val batch = graft.diff.Comparator.fingerprints(
      graft.diff.Comparator.withBuckets(eventsDf, numBuckets = 32)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2), r.getDecimal(3))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  // total state-store rows across all stateful operators in the query's
  // last progress — the bounded-state assertions below compare this
  // against the count an unbounded (complete-mode) twin would hold
  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.lastProgress.stateOperators.map(_.numRowsTotal).sum

  test("bounded top-tokens stream: closed-window counts equal the batch twin; state evicts") {
    implicit val sq = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:30:00")
    def at(days: Int, mins: Int = 0) =
      new Timestamp(t0.getTime + days * 86400000L + mins * 60000L)
    val mem = MemoryStream[(Long, String, Timestamp)]
    val st = Streaming.topTokensStreamBounded(mem.toDF().toDF("doc_id", "text", "ts"))
    assert(st.isStreaming)
    val q = st.writeStream.format("memory").queryName("toptok_b")
      .outputMode("append").start()
    try {
      mem.addData(Seq((1L, "a b c a", t0), (2L, "b c", t0))); q.processAllAvailable()
      // 10 days later: advances the watermark far past batch 1's window
      mem.addData(Seq((3L, "d e f", at(10)))); q.processAllAvailable()
      mem.addData(Seq((4L, "g", at(10, 1)))); q.processAllAvailable()
      val streamed = spark.table("toptok_b").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      // batch 1's window closed and appended with the batch-twin counts
      val w0 = Timestamp.valueOf("2026-01-01 00:00:00")
      assert(streamed == Set((w0, "a", 2L), (w0, "b", 2L), (w0, "c", 2L)))
      // eviction: the stream has seen 7 distinct (window, token) pairs;
      // only the open window's 4 (d, e, f, g) may remain in state
      val s = stateRows(q)
      assert(s > 0 && s <= 4, s"state rows = $s (unbounded twin would hold 7)")
    } finally q.stop()
  }

  test("bounded anomaly grain stream: closed days equal anomalyGrainCounts; state evicts") {
    implicit val sq = spark.sqlContext
    def ev(id: Long, ts: String, tpe: String) =
      Streaming.Event(id, Timestamp.valueOf(ts), 1L, tpe, 1.0)
    val b1 = Seq(ev(1, "2026-01-01 10:00:00", "A"), ev(2, "2026-01-01 11:00:00", "B"),
      ev(3, "2026-01-02 10:00:00", "A"))
    val mem = MemoryStream[Streaming.Event]
    val st = Streaming.anomalyGrainStreamBounded(mem.toDF(), col("event_type"))
    assert(st.isStreaming)
    val q = st.writeStream.format("memory").queryName("sanom_b")
      .outputMode("append").start()
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(Seq(ev(4, "2026-02-01 10:00:00", "A"))); q.processAllAvailable()
      mem.addData(Seq(ev(5, "2026-02-01 11:00:00", "B"))); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getDate(1).toString, r.getLong(2))
      val streamed = spark.table("sanom_b").collect().map(key).toSet
      // closed days carry the batch operator's exact grain rows
      val batch = graft.operators.Profiler
        .anomalyGrainCounts(b1.toDF(), col("ts"), col("event_type"))
        .collect().map(key).toSet
      assert(streamed == batch && batch.size == 3)
      // state holds only the open day's (A, Feb 1) and (B, Feb 1), not
      // all 5 (key, day) pairs ever seen
      val s = stateRows(q)
      assert(s > 0 && s <= 2, s"state rows = $s (unbounded twin would hold 5)")
    } finally q.stop()
  }

  test("bounded drift stream: closed-window bucket counts match; state evicts") {
    implicit val sq = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:10:00")
    def at(days: Int, mins: Int = 0) =
      new Timestamp(t0.getTime + days * 86400000L + mins * 60000L)
    def ev(id: Long, ts: Timestamp, v: Double) = Streaming.Event(id, ts, 1L, "t", v)
    val memA = MemoryStream[Streaming.Event]
    val memB = MemoryStream[Streaming.Event]
    val st = Streaming.driftStreamBounded(memA.toDF(), memB.toDF(), "value",
      lo = 0.0, hi = 40.0, bins = 4)
    assert(st.isStreaming)
    val q = st.writeStream.format("memory").queryName("sdrift_b")
      .outputMode("append").start()
    try {
      memA.addData(Seq(ev(1, t0, 5.0), ev(2, t0, 15.0)))
      memB.addData(Seq(ev(3, t0, 5.0)))
      q.processAllAvailable()
      memA.addData(Seq(ev(4, at(10), 25.0))); q.processAllAvailable()
      memB.addData(Seq(ev(5, at(10, 1), 35.0))); q.processAllAvailable()
      val streamed = spark.table("sdrift_b").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val w0 = Timestamp.valueOf("2026-01-01 00:00:00")
      // the closed window's per-bucket counts == the batch drift prep
      assert(streamed == Set((w0, 0L, 1L, 1L), (w0, 1L, 1L, 0L)))
      // only the open window's two buckets remain in state (not 4 ever)
      val s = stateRows(q)
      assert(s > 0 && s <= 2, s"state rows = $s (unbounded twin would hold 4)")
    } finally q.stop()
  }

  test("split-assign stream: per-doc aggregation state is watermark-evicted") {
    implicit val sq = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "completely unrelated words in this one here now for sure friend"
    val third = "yet another entirely different document body with its own tokens"
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val weights = Seq("train" -> 0.5, "test" -> 0.5)
    val corpusSplits = graft.operators.Sampling.leakageSafeSplit(corpus, weights)
      .select(col("doc_id"), col("cluster_id"), col("split"))
    corpusSplits.persist(); corpusSplits.count()
    val index = graft.operators.Dedup.minhashSignatures(corpus)
    val t0 = Timestamp.valueOf("2026-01-01 00:10:00")
    def at(days: Int, mins: Int = 0) =
      new Timestamp(t0.getTime + days * 86400000L + mins * 60000L)
    val mem = MemoryStream[(Long, String, Timestamp)]
    val st = Streaming.splitAssignStream(
      index, corpusSplits, mem.toDF().toDF("doc_id", "text", "ts"), weights)
    val q = st.writeStream.format("memory").queryName("sas_b")
      .outputMode("update").start()
    try {
      mem.addData(Seq((10L, base, t0))); q.processAllAvailable()
      mem.addData(Seq((11L, other, at(10)))); q.processAllAvailable()
      mem.addData(Seq((12L, third, at(10, 1)))); q.processAllAvailable()
      // labels still emitted for every doc (update mode emits on update,
      // eviction is silent)
      val streamed = spark.table("sas_b").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val published = corpusSplits.collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(streamed(10L) == published(1L) && streamed(11L) == published(2L))
      assert(streamed.contains(12L))
      // doc 10's window is behind the watermark: its state row dropped —
      // a bare groupBy(new_doc) would hold all 3 docs forever
      val s = stateRows(q)
      assert(s > 0 && s <= 2, s"state rows = $s (unbounded twin would hold 3)")
    } finally { q.stop(); corpusSplits.unpersist() }
  }

  test("cdc stream: arriving rows classify against the static baseline like batch cdc") {
    implicit val sq = spark.sqlContext
    val baseline = Seq((1L, "x", "p"), (2L, "y", "q"), (3L, "z", "r"))
      .toDF("k", "b", "c")
    // arriving batch: 1 unchanged, 2 updated, 4 new; 3 never arrives
    val arriving = Seq((1L, "x", "p"), (2L, "Y", "q"), (4L, "w", "t"))
    val mem = MemoryStream[(Long, String, String)]
    mem.addData(arriving)
    val out = Streaming.cdcStream(baseline, mem.toDF().toDF("k", "b", "c"), Seq("k"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("cdcs")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("cdcs").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == Map(1L -> "unchanged", 2L -> "update", 4L -> "insert"))
    // the batch operator agrees on every key the stream delivered
    val batch = graft.diff.Comparator.cdc(
      baseline, arriving.toDF("k", "b", "c"), Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed.forall { case (k, v) => batch(k) == v })
    assert(batch(3L) == "delete") // visible only to the full-snapshot form
  }

  test("streaming lm scoring equals batch over the model's own corpus") {
    implicit val sq = spark.sqlContext
    val corpus = GraftSession.table(spark, Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val (lm, starts) = graft.operators.TextAnalysis.lmModel(corpus)
    lm.persist(); starts.persist(); lm.count(); starts.count()
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val rows = corpus.as[(Long, String)].collect().toSeq
      .map(x => (x._1, x._2, t0))
    val mem = MemoryStream[(Long, String, Timestamp)]
    val st = Streaming.lmScoreStream(
      lm, starts, mem.toDF().toDF("doc_id", "text", "ts"))
    assert(st.isStreaming)
    val q = st.writeStream.format("memory").queryName("lmsc")
      .outputMode("update").start()
    try {
      val (a, b) = rows.splitAt(rows.size / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("lmsc").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // re-streaming the model's own corpus has no out-of-model bigrams,
    // so the stream must reproduce the batch scores bit-for-bit
    val plan = graft.operators.TextAnalysis.lmScorePlan(corpus)
    val batch = plan.df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    plan.release(); lm.unpersist(); starts.unpersist()
    assert(streamed == batch)
  }

  test("streaming lm scoring: out-of-model transitions score 0 ppm") {
    implicit val sq = spark.sqlContext
    val corpus = Seq((1L, "a b c"), (2L, "a b")).toDF("doc_id", "text")
    val (lm, starts) = graft.operators.TextAnalysis.lmModel(corpus)
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = Streaming.lmScoreStream(
        lm, starts, mem.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("lmoov")
      .outputMode("update").start()
    try {
      // corpus bigrams: (a,b)×2, (b,c); c1: a=2, b=1 → p(a,b)=1000000;
      // (b,z) and (z,q) never seen → 0 ppm; "solo" has no bigrams
      mem.addData(Seq((10L, "a b z q", t0), (11L, "solo", t0)))
      q.processAllAvailable()
    } finally q.stop()
    val r = spark.table("lmoov").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(10L) == ((3L, 1000000L / 3)))
    assert(r(11L) == ((0L, 0L)))
  }
}
