package graft.streaming

import graft.diff.Fingerprint
import graft.operators.Tokens
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface — a strict extension: the reference is
  * batch-only (SURVEY §2.1 "no streaming/watermarks/stateful ops").
  * Each operator has a batch twin whose equality is asserted in the
  * test suite, so the streaming path inherits the batch oracles.
  *
  * Scale notes: all three operators shuffle once on their grouping key
  * and keep state bounded — windowed counts by watermark eviction,
  * sessions by per-user open-session state (one small record per
  * active user), fingerprints by O(numBuckets) running sums.
  */
object Streaming {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)

  // not private: the state encoder's generated code must reach the ctor
  final case class OpenSession(start: Long, last: Long, n: Long)

  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Tumbling 1-hour windowed counts with a 2-hour watermark — the
    * streaming twin of the batch `q12_time_bucket` query. In append
    * mode a window emits once its watermark passes; state is bounded
    * by (watermark horizon / window width) per key.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("sum_value"))

  /** Batch sessionization: per user, a >30-min gap starts a new
    * session. Single shuffle on user_id; windows are partition-local.
    */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev")) > SessionGapMs, 1L)
          .otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess")).over(w))
      .groupBy(col("user_id"), col("sess_idx"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
  }

  // state tracks MICROsecond epochs: Timestamp.getTime alone truncates
  // to ms and would disagree with the batch twin's full precision
  private def toMicros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def fromMicros(us: Long): Timestamp = {
    val ts = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  /** Streaming sessionization via flatMapGroupsWithState: one
    * OpenSession record per active user; a batch's events are sorted
    * in-group, gaps close sessions (emitted), the trailing session
    * stays open in state for the next trigger. Closed sessions agree
    * exactly with [[sessionizeBatch]] (asserted in StreamingSpec).
    */
  def sessionizeStream(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[OpenSession]) =>
          val ts = it.map(e => toMicros(e.ts)).toArray.sorted
          var open = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
          for (t <- ts) {
            open match {
              // gap decided at ms precision — bit-identical to the
              // batch twin's unix_millis comparison
              case Some(o) if math.floorDiv(t, 1000L) - math.floorDiv(o.last, 1000L) <= SessionGapMs =>
                open = Some(o.copy(last = t, n = o.n + 1))
              case Some(o) =>
                closed += Session(userId, fromMicros(o.start), fromMicros(o.last), o.n)
                open = Some(OpenSession(t, t, 1))
              case None =>
                open = Some(OpenSession(t, t, 1))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
  }

  /** Streaming exact dedup — the streaming twin of the batch
    * content-hash dedup ([[graft.operators.Dedup]] `dd_exact`): emit a
    * row the FIRST time its key arrives, drop re-deliveries.
    * `dropDuplicatesWithinWatermark` holds one state record per
    * distinct key and EVICTS it once the watermark passes — bounded
    * state, where a plain streaming `dropDuplicates` grows state
    * forever. The contract is the at-least-once-delivery one: a
    * duplicate is only guaranteed dropped while its first occurrence
    * is inside the watermark horizon.
    */
  def dedupStream(rows: DataFrame, keys: Seq[String],
      watermarkCol: String = "ts", delay: String = "2 hours"): DataFrame =
    rows.withWatermark(watermarkCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming span dedup — the streaming twin of
    * [[graft.operators.Dedup.spanDedup]]'s block-level
    * first-occurrence-wins: explode each arriving document into
    * md5-keyed token blocks and keep only blocks whose hash has not
    * been seen within the watermark horizon. The batch operator
    * REPORTS per-doc dup fractions; the stream KEEPS the novel blocks
    * (the ingest-time shape — dedup before paying storage). State is
    * one record per distinct block hash inside the horizon,
    * watermark-evicted, so it is bounded by the horizon's novel-block
    * rate rather than corpus size.
    */
  def spanDedupStream(docs: DataFrame, blockTokens: Int = 20,
      watermarkCol: String = "ts", delay: String = "2 hours"): DataFrame = {
    docs.select(col(watermarkCol), col("doc_id"),
        posexplode(Tokens.windows(Tokens.of(col("text")), blockTokens, blockTokens, md5))
          .as(Seq("block_idx", "block_hash")))
      .withWatermark(watermarkCol, delay)
      .dropDuplicatesWithinWatermark(Seq("block_hash"))
  }

  /** Streaming incremental dedup candidates — the streaming twin of
    * [[graft.operators.Dedup.incrementalCandidates]] and the true
    * 100 TB ingest shape: documents ARRIVE as a stream and are banded
    * against the persisted corpus signature `index` (a static
    * snapshot, in production loaded from the fingerprint store), so
    * the corpus is never re-paired against itself and each arriving
    * doc costs one narrow signature projection plus a stream-static
    * band join.
    *
    * Per-row signatures come from
    * [[graft.operators.Dedup.minhashSignaturesNarrow]] — zero
    * shuffles on the stream side; the only stateful stage is the
    * final pair dedup (band collisions repeat a pair), which
    * `dropDuplicatesWithinWatermark` bounds to one record per emitted
    * pair inside the horizon. Contract matches [[dedupStream]]: a
    * re-delivered pair is only guaranteed dropped while its first
    * emission is inside the watermark.
    */
  def incrementalCandidatesStream(index: DataFrame, newDocs: DataFrame,
      watermarkCol: String = "ts", delay: String = "2 hours"): DataFrame = {
    import graft.operators.Dedup
    val corpus = Dedup.lshBands(index)
      .select(col("band"), col("bkey"), col("doc_id").as("corpus_doc"))
    val fresh = Dedup.lshBands(
        Dedup.minhashSignaturesNarrow(newDocs), keep = Seq(watermarkCol))
      .withColumnRenamed("doc_id", "new_doc")
      .withWatermark(watermarkCol, delay)
    fresh.join(corpus, Seq("band", "bkey"))
      .where(col("new_doc") =!= col("corpus_doc"))
      .select(col(watermarkCol), col("new_doc"), col("corpus_doc"))
      .dropDuplicatesWithinWatermark(Seq("new_doc", "corpus_doc"))
      .select(col("new_doc"), col("corpus_doc"))
  }

  /** Streaming leakage-safe split assignment — the ingest twin of
    * [[graft.operators.Sampling.leakageSafeSplit]]: a document
    * arriving AFTER the corpus was split must get a label CONSISTENT
    * with the published assignment (a near-copy of a test doc landing
    * in train is exactly the eval-leakage the batch operator exists to
    * prevent), and published labels can never move. So: band the
    * arriving doc against the persisted corpus signature `index`
    * (the [[incrementalCandidatesStream]] shape); if it collides with
    * an existing cluster, INHERIT that cluster's split (deterministic
    * min-cluster_id choice when several clusters collide — a multi-
    * cluster collision means those clusters would merge on re-cluster,
    * and any single-label choice is equally leakage-bounded); otherwise
    * the doc is a new singleton cluster and gets the batch operator's
    * exact hash assignment keyed on its own doc_id — bit-identical to
    * what a batch re-run would assign it
    * (`Sampling.splitLabel`, shared code).
    *
    * `corpusSplits` is (doc_id, cluster_id, split) — the persisted
    * output of the batch split ([[graft.operators.Sampling
    * .leakageSafeSplitFrom]] retains both columns). Matches the batch
    * twin exactly whenever arriving ids exceed corpus ids (cluster
    * identities stable — the [[graft.operators.Dedup
    * .incrementalCandidates]] contract) and arriving docs don't pair
    * among themselves within the horizon.
    *
    * Scale shape: stream side is shuffle-free signature projection;
    * one stream-static left band join; one update-mode aggregation at
    * the (event-time window, new-doc) grain. The WINDOW in the group
    * key is what makes the state watermark-EVICTABLE: a bare
    * `groupBy(new_doc)` key has no event-time component, so Spark
    * would hold one state row per distinct doc_id forever (the
    * watermark would only drop late input rows) — an eventual OOM on
    * the continuous-ingest deployment this operator is for. A doc's
    * band rows all share its single arrival timestamp, so the added
    * window never splits a doc's aggregation; once the watermark
    * passes a window, its per-doc state drops. Emit in UPDATE mode
    * (the per-doc label can refine while in-horizon bands keep
    * colliding; the last emission wins downstream).
    */
  def splitAssignStream(index: DataFrame, corpusSplits: DataFrame,
      newDocs: DataFrame, weights: Seq[(String, Double)],
      salt: String = "split",
      watermarkCol: String = "ts", delay: String = "2 hours",
      stateWindow: String = "1 hour"): DataFrame = {
    import graft.operators.{Dedup, Sampling}
    val corpus = Dedup.lshBands(index)
      .select(col("band"), col("bkey"), col("doc_id").as("corpus_doc"))
      .join(corpusSplits.select(col("doc_id").as("corpus_doc"),
        col("cluster_id"), col("split")), Seq("corpus_doc"))
    val fresh = Dedup.lshBands(
        Dedup.minhashSignaturesNarrow(newDocs), keep = Seq(watermarkCol))
      .withColumnRenamed("doc_id", "new_doc")
      .withWatermark(watermarkCol, delay)
    fresh.join(corpus, Seq("band", "bkey"), "left_outer")
      // guard the min: an unmatched band row yields struct(NULL, NULL),
      // which would sort BELOW every real match and steal the min
      .groupBy(window(col(watermarkCol), stateWindow), col("new_doc"))
      .agg(min(when(col("corpus_doc").isNotNull,
        struct(col("cluster_id"), col("split")))).as("best"))
      .select(col("new_doc").as("doc_id"),
        coalesce(col("best.split"),
          Sampling.splitLabel(col("new_doc"), weights, salt)).as("split"))
  }

  /** Streaming LM quality scoring — the production twin of
    * [[graft.operators.TextAnalysis.lmScorePlan]]: the bigram LM is
    * built in batch (nightly) and PERSISTED as its two count grains
    * (`lm` = (w1, w2, c12) bigram counts, `lmStarts` = (w1, c1) start
    * counts — [[graft.operators.TextAnalysis.lmModel]]'s output);
    * arriving documents are scored against it without touching the
    * model. Transitions the model has never seen score 0 ppm — the
    * zero-probability reading, which is exactly what pushes a garbled
    * or out-of-domain arrival into the filterable tail.
    *
    * Scale shape: stream-side bigrams are produced shuffle-free
    * inside the scan (`TextAnalysis.bigramStructs`,
    * shared code); two stream-static LEFT joins against the static
    * model (Catalyst picks broadcast vs shuffle from model size); the
    * ONLY stateful stage is the per-doc mean, keyed by (event-time
    * window, doc_id) in update mode so state is watermark-EVICTED —
    * the [[splitAssignStream]] bound (a doc's bigram rows share its
    * one arrival timestamp, so the window never splits a doc).
    *
    * Agreement contract: over input with no out-of-model bigrams
    * (e.g. the model's own corpus re-streamed), per-doc output equals
    * the batch operator bit-for-bit — test-asserted.
    */
  def lmScoreStream(lm: DataFrame, lmStarts: DataFrame, newDocs: DataFrame,
      watermarkCol: String = "ts", delay: String = "2 hours",
      stateWindow: String = "1 hour"): DataFrame = {
    import graft.operators.TextAnalysis
    val bg = newDocs
      .withWatermark(watermarkCol, delay)
      .select(col(watermarkCol), col("doc_id"),
        // NOT "ts": that's the default watermark column's name
        Tokens.of(col("text")).as("tok_arr"))
      .select(col(watermarkCol), col("doc_id"),
        explode_outer(TextAnalysis.bigramStructs("tok_arr")).as("b"))
      .select(col(watermarkCol), col("doc_id"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    bg.join(lm.select(col("w1"), col("w2"), col("c12")),
        Seq("w1", "w2"), "left_outer")
      .join(lmStarts.select(col("w1"), col("c1")), Seq("w1"), "left_outer")
      .select(col(watermarkCol), col("doc_id"),
        col("w1").isNotNull.as("is_bigram"),
        coalesce(expr("c12 * 1000000 DIV c1"), lit(0L)).as("p_ppm"))
      .groupBy(window(col(watermarkCol), stateWindow), col("doc_id"))
      .agg(sum(when(col("is_bigram"), 1L).otherwise(0L)).as("n_bigrams"),
        sum(when(col("is_bigram"), col("p_ppm")).otherwise(0L)).as("sum_ppm"))
      .select(col("doc_id"), col("n_bigrams"),
        when(col("n_bigrams") > 0, expr("sum_ppm DIV n_bigrams"))
          .otherwise(lit(0L)).as("lm_score_ppm"))
  }

  /** Streaming corpus heavy-hitters — complete-mode twin of
    * [[graft.operators.Sampling.heavyHitters]] (SHARED code, not a
    * re-implementation): the token-grain count is maintained as
    * streaming state (Zipf-bounded — one entry per distinct token,
    * the same state the batch shuffle carries) and the top-k
    * re-emits per trigger in complete mode. For a long-running
    * deployment use [[topTokensStreamBounded]] (watermark-evicted
    * windowed state) or feed [[graft.operators.Sampling
    * .tokenSketch]]'s CMS; this form is the exact corpus-lifetime
    * path.
    */
  def topTokensStream(docs: DataFrame, k: Int): DataFrame =
    graft.operators.Sampling.heavyHitters(docs, k)

  /** Bounded-state sibling of [[topTokensStream]] — the form a
    * long-running ingest deployment should run: per-window token
    * counts with the window key making the O(vocab) aggregation state
    * watermark-EVICTABLE ([[topTokensStream]]'s complete-mode state is
    * one row per distinct token FOREVER; this holds only the tokens of
    * windows still inside the horizon). Emits (w_start, token, n) in
    * append mode when a window closes; the top-k finish is a stateless
    * per-window rank the consumer applies (or feed
    * [[graft.operators.Sampling.tokenSketch]] for a corpus-lifetime
    * top-k at constant state). StreamingSpec asserts both the batch
    * twin equality and the state-eviction bound.
    */
  def topTokensStreamBounded(docs: DataFrame,
      watermarkCol: String = "ts", windowDur: String = "1 hour",
      delay: String = "2 hours"): DataFrame =
    docs
      .withWatermark(watermarkCol, delay)
      .select(col(watermarkCol),
        explode(Tokens.of(col("text"))).as("token"))
      .groupBy(window(col(watermarkCol), windowDur).as("w"), col("token"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("token"), col("n"))

  /** Incremental dataset fingerprint: the streaming twin of
    * [[graft.diff.Comparator.fingerprints]] — the same per-bucket cell
    * (cnt, hsum, h2sum), running sums updated per micro-batch.
    * Comparing two streams' fingerprint tables gives a
    * continuously-maintained dataset diff at O(numBuckets) state, any
    * scale. The cell gained `h2sum` when the streaming and batch
    * fingerprints became one: a query started from a checkpoint
    * written by the earlier (cnt, hsum) aggregate cannot restart.
    */
  def incrementalFingerprints(df: DataFrame, numBuckets: Int): DataFrame =
    Fingerprint.cells(Fingerprint.withBuckets(df, numBuckets, "input"))

  /** Continuous distribution drift — the streaming twin of
    * [[graft.operators.Profiler.histogramDrift]]: both streams union
    * into the SAME one-pass per-bucket count aggregation the batch
    * operator plans ([[graft.operators.Profiler.driftBucketCounts]] is
    * shared code, not a re-implementation), maintained as O(bins)
    * streaming state in complete mode. The cross_delta / TVD finish is
    * stateless O(bins) arithmetic the consumer applies per trigger —
    * the stream itself never holds more than the bucket counts, so a
    * reference snapshot can be compared against an unbounded live feed
    * indefinitely. [[driftStreamBounded]] is the watermark-evicted
    * per-window sibling for when the drift TRAJECTORY matters.
    */
  def driftStream(a: DataFrame, b: DataFrame, c: String,
      lo: Double, hi: Double, bins: Int): DataFrame =
    graft.operators.Profiler.driftBucketCounts(a, b, c, lo, hi, bins)

  /** Bounded-state sibling of [[driftStream]]: per-event-time-window
    * drift bucket counts, sharing [[graft.operators.Profiler
    * .driftSideTag]]'s bucket prep verbatim. The window key makes the
    * state watermark-evictable — O(bins) per OPEN window instead of
    * O(bins) forever-complete — and the output is the drift trajectory
    * over time (which window drifted, not just whether the lifetime
    * distributions differ): each closed window appends
    * (w_start, bucket, n_a, n_b), to which the stateless TVD /
    * cross-delta finish applies per window.
    */
  def driftStreamBounded(a: DataFrame, b: DataFrame, c: String,
      lo: Double, hi: Double, bins: Int,
      watermarkCol: String = "ts", windowDur: String = "1 hour",
      delay: String = "2 hours"): DataFrame = {
    import graft.operators.Profiler
    def prep(df: DataFrame, tag: Int) =
      Profiler.driftSideTag(df.withWatermark(watermarkCol, delay),
        c, lo, hi, bins, tag, keep = Seq(watermarkCol))
    prep(a, 0).unionByName(prep(b, 1))
      .groupBy(window(col(watermarkCol), windowDur).as("w"), col("bucket"))
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("w.start").as("w_start"), col("bucket"), col("n_a"), col("n_b"))
  }

  // transition-stream state: the user's chronologically-last event
  final case class LastEvent(tsMicros: Long, eventId: Long, tpe: String)
  final case class Transition(user_id: Long, from_type: String, to_type: String)

  // scd2-stream state: the user's OPEN run (current type-2 row)
  final case class OpenRun(tpe: String, validFromMicros: Long, n: Long, runSeq: Long)
  final case class Scd2Closed(user_id: Long, run_seq: Long, event_type: String,
      valid_from: Timestamp, valid_to: Timestamp, n_events: Long)

  /** Streaming SCD2 materialization — the twin of the batch
    * `q44_scd2` history build: per entity, consecutive same-type
    * events extend the OPEN run held in state; a type change CLOSES
    * the run (emitted with `valid_to` = the new run's `valid_from`)
    * and opens the next. Emitted rows are exactly the batch twin's
    * non-current rows — the open run per user IS the `is_current` row,
    * living in state until its closing event arrives (asserted in
    * StreamingSpec). State is ONE small record per entity — bounded by
    * the active-entity set, not stream length — which is the shape a
    * warehouse's continuously-maintained dimension table needs: closed
    * intervals append-only to storage, current rows in state.
    * In-order delivery assumed (the CDC contract); within a
    * micro-batch, (ts, event_id) restores the batch total order.
    */
  def scd2Stream(events: Dataset[Event]): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenRun, Scd2Closed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[OpenRun]) =>
          val evs = it.toArray.sortBy(e => (toMicros(e.ts), e.event_id))
          var open = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Closed]
          for (e <- evs) {
            val t = toMicros(e.ts)
            open match {
              case Some(o) if o.tpe == e.event_type =>
                open = Some(o.copy(n = o.n + 1))
              case Some(o) =>
                out += Scd2Closed(userId, o.runSeq, o.tpe,
                  fromMicros(o.validFromMicros), fromMicros(t), o.n)
                open = Some(OpenRun(e.event_type, t, 1, o.runSeq + 1))
              case None =>
                open = Some(OpenRun(e.event_type, t, 1, 1))
            }
          }
          open.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming freshness — the twin of the batch `dq_freshness`
    * report ([[graft.operators.Profiler.freshness]]): a continuously
    * maintained (last_seen, n) aggregate per key, complete-mode. The
    * streaming state is exactly [[graft.operators.Profiler.freshnessPerKey]]'s
    * output grain — ONE small row per key, bounded by the key set
    * (sources/topics), never stream length — and each micro-batch's
    * snapshot finishes through the SAME stateless
    * [[graft.operators.Profiler.freshnessFinish]] the batch report
    * uses (batch equality asserted in StreamingSpec). This is the
    * live ingestion-health dashboard: a silently-dead upstream's lag
    * grows micro-batch by micro-batch while every healthy key tracks
    * the corpus max.
    */
  def freshnessStream(events: DataFrame, key: org.apache.spark.sql.Column,
      ts: org.apache.spark.sql.Column): DataFrame =
    events.where(ts.isNotNull)
      .groupBy(key.as("key"))
      .agg(max(ts).as("last_seen"), count(lit(1)).as("n"))

  /** Streaming Markov transitions — the twin of the batch
    * `q38_transitions` sequence stage: per user, every arriving event
    * emits one (from, to) transition against the chronologically
    * previous event. State is ONE small record per user (the last
    * event seen) — bounded by the active-user set, not the stream
    * length. Within a micro-batch events sort by (ts, event_id), the
    * batch twin's exact total order; across micro-batch lines the
    * state record carries the sequence over, so in-order delivery
    * reproduces the batch transition bag exactly (asserted in
    * StreamingSpec). Downstream, counts/probabilities are the same
    * tiny-grain aggregation the batch query runs.
    */
  def transitionsStream(events: Dataset[Event]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[LastEvent]) =>
          val evs = it.toArray.sortBy(e => (toMicros(e.ts), e.event_id))
          var last = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
          for (e <- evs) {
            last.foreach(l => out += Transition(userId, l.tpe, e.event_type))
            last = Some(LastEvent(toMicros(e.ts), e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** Continuous volume-anomaly monitoring — the streaming twin of
    * [[graft.operators.Profiler.dailyAnomalies]]: the raw firehose
    * collapses into the SAME (key, day) count aggregation the batch
    * operator plans ([[graft.operators.Profiler.anomalyGrainCounts]]
    * is shared code), maintained as O(keys × days) streaming state in
    * complete mode. The z-score finish
    * ([[graft.operators.Profiler.anomaliesFromGrain]]) is stateless
    * tiny-grain arithmetic the consumer applies per trigger — live
    * anomaly flags over an unbounded feed. State here is O(keys × days)
    * complete-mode (grows with stream lifetime);
    * [[anomalyGrainStreamBounded]] is the watermark-evicted form for
    * continuous deployments.
    */
  def anomalyGrainStream(events: DataFrame, ts: org.apache.spark.sql.Column,
      key: org.apache.spark.sql.Column): DataFrame =
    graft.operators.Profiler.anomalyGrainCounts(events, ts, key)

  /** Bounded-state sibling of [[anomalyGrainStream]]: the (key, day)
    * grain expressed as a 1-DAY EVENT-TIME WINDOW so the per-(key, day)
    * state evicts once the watermark passes the day — the complete-mode
    * form holds O(keys × days) forever, this holds only the days still
    * inside the horizon. In UTC (the engine's pinned session TZ) a
    * 1-day tumbling window start IS `date_trunc('day', ts)`, so the
    * output schema/values match [[graft.operators.Profiler
    * .anomalyGrainCounts]] row-for-row over closed days and the same
    * stateless [[graft.operators.Profiler.anomaliesFromGrain]] finish
    * applies to the appended sink table.
    */
  def anomalyGrainStreamBounded(events: DataFrame,
      key: org.apache.spark.sql.Column,
      watermarkCol: String = "ts", delay: String = "2 days"): DataFrame =
    events
      .withWatermark(watermarkCol, delay)
      .groupBy(key.as("key"), window(col(watermarkCol), "1 day").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("key"), col("w.start").cast("date").as("day"), col("n"))

  /** Continuous two-stream diff: union both streams with a side tag
    * and keep ONE stateful aggregation of per-bucket cells, one per
    * side (`s_`/`t_` + cnt, hsum, h2sum; each side's hashes masked to
    * null on the other side's rows, so a side with no rows in a bucket
    * holds cnt 0 and null sums) — a live `mismatch` flag per bucket by
    * the batch compare's rule, O(numBuckets) state total. The streaming
    * generalization of [[graft.diff.Comparator.compare]]'s fingerprint
    * join: when both streams have delivered the same bag of rows, every
    * bucket's mismatch is false; a bucket stays flagged while the
    * sides disagree (e.g. one stream lags). The cells gained `h2sum`
    * when the streaming and batch fingerprints became one: a query
    * started from a checkpoint written by the earlier (cnt, hsum)
    * aggregate cannot restart.
    */
  def diffStreams(src: DataFrame, tgt: DataFrame, numBuckets: Int): DataFrame = {
    def tagged(df: DataFrame, side: String): DataFrame =
      Fingerprint.withBuckets(df, numBuckets, side)
        .select(col("__bucket"), col("__h"), col("__h2"), lit(side).as("__side"))
    def on(side: String) = Fingerprint.cell(side.take(1) + "_", Some(col("__side") === side))
    val aggs = on("source") ++ on("target")
    tagged(src, "source").unionByName(tagged(tgt, "target"))
      .groupBy(col("__bucket")).agg(aggs.head, aggs.tail: _*)
      .withColumn("mismatch", Fingerprint.mismatch("s_", "t_"))
  }

  /** Streaming CDC — the ingest twin of
    * [[graft.diff.Comparator.cdc]]: arriving records classified
    * against a STATIC baseline snapshot (yesterday's drop) as
    * insert / update / unchanged via a stream-static left join on the
    * primary key, with non-key columns traveling as the SAME md5
    * digest projection the batch operator uses
    * (`Comparator.cdcHashed`, shared verbatim — the
    * stream inherits the batch gate's semantics including the NULL
    * sentinel). Deletes are invisible to an insert-stream by nature;
    * detecting them needs the batch full-outer form over a complete
    * snapshot. Stateless per record (the baseline side is a static
    * build side), so no watermark and no state store.
    */
  def cdcStream(baseline: DataFrame, stream: DataFrame,
      pk: Seq[String]): DataFrame = {
    val nonPk = baseline.columns.filterNot(pk.contains).toSeq
    graft.diff.Comparator.cdcHashed(stream, pk, nonPk, "__ht")
      .join(graft.diff.Comparator.cdcHashed(baseline, pk, nonPk, "__hs"),
        pk, "left_outer")
      .select((pk.map(col) :+
        when(col("__hs").isNull, "insert")
          .when(col("__hs") =!= col("__ht"), "update")
          .otherwise("unchanged").as("verdict")): _*)
  }
}
