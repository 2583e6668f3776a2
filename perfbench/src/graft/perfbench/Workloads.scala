package graft.perfbench

import graft.{Main, Pipeline}
import graft.config.{CompareSpec, OutputSpec, PipelineSpec, SideSpec, SourceSpec, StepSpec}
import graft.diff.{Comparator, DiffReport, SchemaCheck}
import graft.operators.Graph
import graft.sources.{Sinks, Sources}
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointBridge
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** The consumed output of one operation. `check` runs after the
  * operation's timing has stopped and names what is wrong, if anything.
  */
final case class Outcome(check: () => Option[String], release: () => Unit = () => ())

/** One workload: a user-facing operation over generated inputs, run
  * either as the user runs it or traced, with each layer called inside
  * its own span.
  */
abstract class Workload {
  /** Input records one operation reads (both sides for a compare). */
  def inputRecords: Long
  def op(): Outcome
  def traced(tr: Tracer): (Outcome, Seq[(String, SpanStats)])
  /** Spans beyond [[Workloads.SpanNames]] that only this workload enters;
    * they also report `busy_frac`.
    */
  def extraSpans: Seq[String] = Nil

  /** Span recorder for [[traced]]. */
  protected final class Spans(tr: Tracer) {
    val done = ArrayBuffer[(String, SpanStats)]()
    def apply[T](name: String)(body: => T): T = {
      val (out, s) = tr.span(name)(body)
      done += name -> s
      out
    }
  }
}

object Workloads {
  /** BENCHMARK.json lists all but `graph_rounds`, which runs only when
    * named: one operation of it costs more than the benchmark's time
    * budget allows (see perfbench/README.md).
    */
  val Names = Seq("cmp_identical", "cmp_drift", "pipe_curate", "graph_rounds")

  /** Spans every traced run reports; a span the workload never enters
    * reports zeros.
    */
  val SpanNames = Seq(
    "sources.resolve", "sources.scan", "canon.hash",
    "diff.fingerprint", "diff.bag_diff", "diff.orphan_rows", "diff.repair",
    "pipeline.filter_stack", "pipeline.redact_pii", "pipeline.dedup_exact",
    "pipeline.dedup_near", "pipeline.source_cap", "pipeline.split",
    "sinks.write")
  val BusySpans = Seq("diff.fingerprint", "diff.bag_diff", "pipeline.dedup_near")
  val StorageSpans = Seq("diff.bag_diff", "pipeline.dedup_near")

  /** The workload over the inputs in `input` (written by perfbench/gen.py);
    * `out` is where an operation may write.
    */
  def open(name: String, spark: SparkSession, input: Path, out: Path): Workload =
    name match {
      case "cmp_identical" => new CompareWorkload(spark, input, drift = false)
      case "cmp_drift"     => new CompareWorkload(spark, input, drift = true)
      case "pipe_curate"   => new PipelineWorkload(spark, input, out)
      case "graph_rounds"  => new GraphWorkload(spark, input)
      case other =>
        throw new IllegalArgumentException(
          s"unknown workload '$other' (one of ${Names.mkString(", ")})")
    }

  private[perfbench] def fileSide(name: String, path: Path): SideSpec =
    SideSpec(name, SourceSpec.File("parquet", path.toString, None))
}

/** `Main.run` over two parquet copies of one lineitem-shaped table,
  * then the orphan rows and the repair DML consumed. The drifted pair
  * pins `num_buckets: 4096` as `examples/compare_files.yaml` does; the
  * identical pair is auto-planned.
  */
final class CompareWorkload(spark: SparkSession, dir: Path, drift: Boolean) extends Workload {
  private val manifest = Json.read(dir.resolve("manifest.json"))
  private val rows = manifest.get("rows").asLong
  private val targetRows = manifest.get("target_rows").asLong
  val inputRecords: Long = rows + targetRows

  val spec: CompareSpec = CompareSpec(
    Workloads.fileSide("source", dir.resolve("source")),
    Workloads.fileSide("target", dir.resolve("target")),
    numBuckets = if (drift) Some(4096) else None,
    schemaCheck = SchemaCheck.Exact,
    repairTable = Some("lineitem"))

  private def orphanRows(rep: DiffReport): Array[Row] =
    if (rep.identical) Array.empty else rep.orphans.collect()

  private def repairDml(rep: DiffReport): Array[Row] =
    Main.repairScript(rep, spec).fold(Array.empty[Row])(_.select("action", "dml").collect())

  def op(): Outcome = {
    val rep = Main.run(spark, spec, searchDiff = Some(true))
    val out = outcome(rep, orphanRows(rep), repairDml(rep))
    rep.release()
    out
  }

  def traced(tr: Tracer): (Outcome, Seq[(String, SpanStats)]) = {
    val spans = new Spans(tr)
    val (src, tgt) = spans("sources.resolve")(
      (Sources.resolve(spark, spec.source), Sources.resolve(spark, spec.target)))
    // probes: scan alone, then scan + row hash; the difference is the hash
    val buckets = spec.numBuckets.getOrElse(Comparator.planBuckets(src, tgt, 100000L))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    spans("sources.scan") { noop(src); noop(tgt) }
    spans("canon.hash") {
      noop(Comparator.withBuckets(src, buckets)); noop(Comparator.withBuckets(tgt, buckets))
    }
    // the compare's own progress callback marks the fingerprint / bag-diff boundary
    var cur = tr.begin("diff.fingerprint")
    val progress: String => Unit = msg =>
      if (msg.startsWith("fingerprint:")) {
        spans.done += "diff.fingerprint" -> tr.end(cur)
        cur = tr.begin("diff.bag_diff")
      }
    val opts = spec.options.copy(fetchRows = true, progress = progress)
    val rep = spec.numBuckets match {
      case Some(_) => Comparator.compare(src, tgt, opts)
      case None    => Comparator.compareAuto(src, tgt, opts = opts)
    }
    val bagDiff = tr.end(cur)
    // with no mismatched bucket the bag diff never runs
    if (!rep.identical) spans.done += "diff.bag_diff" -> bagDiff
    val orphans = if (rep.identical) Array.empty[Row] else spans("diff.orphan_rows")(orphanRows(rep))
    val dml = if (rep.identical) Array.empty[Row] else spans("diff.repair")(repairDml(rep))
    rep.release()
    (outcome(rep, orphans, dml), spans.done.toSeq)
  }

  /** Reads only the report's counts, which outlive `rep.release()`. */
  private def outcome(rep: DiffReport, orphans: Array[Row], dml: Array[Row]): Outcome =
    Outcome(() =>
      if (rep.srcRows != rows || rep.tgtRows != targetRows)
        Some(s"row counts ${rep.srcRows}/${rep.tgtRows}, expected $rows/$targetRows")
      else if (!drift) {
        if (rep.identical && rep.withinTolerance) None else Some(s"verdict: ${rep.verdict}")
      } else {
        val mutated = Json.pairs(manifest.get("mutated"))
        val deleted = Json.pairs(manifest.get("deleted"))
        val copies = manifest.get("extra_copies").asInt
        val duplicated = Json.pairs(manifest.get("duplicated")).flatMap(Seq.fill(copies)(_))
        val wantSrc = (mutated ++ deleted).sorted
        val wantTgt = (mutated ++ duplicated).sorted
        def keys(side: String) = orphans.toSeq.filter(_.getString(0) == side)
          .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Int]("l_linenumber"))).sorted
        val actions = dml.toSeq.groupBy(_.getString(0)).map { case (a, rs) => a -> rs.size }
        val wantActions = Map("insert" -> wantSrc.size, "delete" -> mutated.size,
          "delete_all_copies" -> duplicated.size).filter(_._2 > 0)
        if (rep.identical || rep.circuitBroken) Some(s"verdict: ${rep.verdict}")
        else if (rep.orphanSrc != wantSrc.size || rep.orphanTgt != wantTgt.size)
          Some(s"orphans ${rep.orphanSrc}/${rep.orphanTgt}, manifest ${wantSrc.size}/${wantTgt.size}")
        else if (keys("source") != wantSrc || keys("target") != wantTgt)
          Some("orphan rows differ from the manifest")
        else if (actions != wantActions) Some(s"repair actions $actions, manifest $wantActions")
        else None
      })
}

/** `Pipeline.execute` of filter_stack → redact_pii → dedup_exact →
  * dedup_near → source_cap → split(leakage_safe), writing parquet.
  */
final class PipelineWorkload(spark: SparkSession, dir: Path, out: Path) extends Workload {
  private val manifest = Json.read(dir.resolve("manifest.json"))
  val inputRecords: Long = manifest.get("rows").asLong

  private val weights = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
  private val steps: Seq[(String, StepSpec)] = Seq(
    "filter_stack" -> StepSpec.FilterStack,
    "redact_pii" -> StepSpec.RedactPii("text"),
    "dedup_exact" -> StepSpec.DedupExact("doc_id", "text"),
    "dedup_near" -> StepSpec.DedupNear,
    // caps the largest generated source, which holds ~37% of the corpus
    "source_cap" -> StepSpec.SourceCap("source", (inputRecords / 5).toInt),
    "split" -> StepSpec.Split(weights, "perfbench", leakageSafe = true))
  val spec: PipelineSpec = PipelineSpec(
    Workloads.fileSide("corpus", dir.resolve("corpus")),
    steps.map(_._2),
    Some(OutputSpec(out.toString, "parquet")))

  def op(): Outcome = {
    Pipeline.execute(spark, spec)
    outcome
  }

  /** Steps one at a time, each stage persisted and counted before the
    * previous one is released, as `Pipeline.funnel` materializes them.
    */
  def traced(tr: Tracer): (Outcome, Seq[(String, SpanStats)]) = {
    val spans = new Spans(tr)
    val lvl = StorageLevel.MEMORY_AND_DISK_SER
    val input = spans("sources.resolve")(Sources.resolve(spark, spec.input))
    var cur = spans("sources.scan") { val c = input.persist(lvl); c.count(); c }
    steps.foreach { case (name, step) =>
      cur = spans(s"pipeline.$name") {
        val next = Pipeline.applyStep(spark, cur, step).persist(lvl)
        next.count()
        cur.unpersist(blocking = false)
        next
      }
    }
    spans("sinks.write")(Sinks.write(cur, out.toString, Sinks.SinkSpec(format = "parquet")))
    cur.unpersist(blocking = false)
    (outcome, spans.done.toSeq)
  }

  private val pii = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "\\b\\d{3}-\\d{4}\\b").mkString("|")

  private def outcome: Outcome = Outcome(() => {
    val o = spark.read.parquet(out.toString)
    val r = o.agg(count(lit(1)), count_distinct(md5(col("text"))),
      count(when(col("text").rlike(pii), 1))).head()
    val splits = o.groupBy("split").count().collect()
      .map(s => s.getString(0) -> s.getLong(1)).toMap
    val n = r.getLong(0)
    if (n == 0) Some("empty output")
    else if (r.getLong(1) != n) Some(s"${n - r.getLong(1)} output documents repeat another's md5(text)")
    else if (r.getLong(2) != 0) Some(s"${r.getLong(2)} output documents still hold a PII pattern")
    else if (splits.values.sum != n || !splits.keySet.subsetOf(weights.map(_._1).toSet))
      Some(s"split counts $splits do not add up to $n")
    else None
  })
}

/** `Graph.pageRank`, `Graph.kCore` and `Graph.linkPrediction` over
  * `Graph.copurchaseEdges` of a generated lineitem; every output is
  * counted.
  */
final class GraphWorkload(spark: SparkSession, dir: Path) extends Workload {
  private val manifest = Json.read(dir.resolve("manifest.json"))
  val inputRecords: Long = manifest.get("rows").asLong
  private val side = Workloads.fileSide("lineitem", dir.resolve("lineitem"))

  override val extraSpans: Seq[String] =
    Seq("graph.page_rank", "graph.k_core", "graph.link_prediction")

  private val PageRankIters = 3
  private val K = 2
  private val KCoreRounds = 10
  private val MaxHubDegree = 1000L
  private val MinCommon = 2L

  def op(): Outcome = rounds(Sources.resolve(spark, side), (_, f) => f())

  def traced(tr: Tracer): (Outcome, Seq[(String, SpanStats)]) = {
    val spans = new Spans(tr)
    val li = spans("sources.resolve")(Sources.resolve(spark, side))
    (rounds(li, (name, f) => spans(name)(f())), spans.done.toSeq)
  }

  private def rounds(li: DataFrame, within: (String, () => DataFrame) => DataFrame): Outcome = {
    val edges = Graph.copurchaseEdges(li)
    val sym = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    def counted(df: DataFrame): DataFrame = { df.count(); df }
    val pr = within("graph.page_rank", () => counted(Graph.pageRank(sym, iters = PageRankIters)))
    val kc = within("graph.k_core", () => counted(Graph.kCore(edges, k = K, rounds = KCoreRounds)))
    val lp = within("graph.link_prediction", () =>
      counted(Graph.linkPrediction(edges, maxHubDegree = MaxHubDegree, minCommon = MinCommon)))
    Outcome(() => check(edges, pr, kc, lp),
      () => Seq(pr, kc, lp).foreach(CheckpointBridge.release))
  }

  private def check(edges0: DataFrame, pr: DataFrame, kc: DataFrame, lp: DataFrame): Option[String] = {
    val edges = edges0.persist(StorageLevel.MEMORY_AND_DISK_SER)
    try {
      // PageRank over symmetric edges has no dangling node, so mass is
      // conserved up to integer division: < 1 unit per node for the
      // start and per node and edge in every round
      val m = 2 * edges.count()
      val r = pr.agg(count(lit(1)), sum(col("r"))).head()
      val n = r.getLong(0)
      val mass = if (r.isNullAt(1)) 0L else r.getLong(1)
      val slack = n + PageRankIters * (2 * n + m)
      // in-core degree: edges with both ends in the core
      val core = kc.select(col("id"))
      val inCore = edges.join(core.select(col("id").as("u")), "u")
        .join(core.select(col("id").as("v")), "v")
      val deg = inCore.select(col("u").as("id")).unionAll(inCore.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val coreN = core.count()
      val thin = core.join(deg, Seq("id"), "left").where(coalesce(col("d"), lit(0L)) < K).count()
      val lpN = lp.count()
      val adjacent = lp.join(edges, Seq("u", "v"), "left_semi").count()
      val weak = lp.where(col("n_common") < MinCommon).count()
      if (n == 0 || mass > Graph.Scale || mass < Graph.Scale - slack)
        Some(s"PageRank mass $mass over $n nodes, expected ${Graph.Scale} - [0, $slack]")
      else if (coreN == 0) Some(s"empty $K-core")
      else if (thin != 0) Some(s"$thin $K-core nodes have in-core degree < $K")
      else if (lpN == 0) Some("no predicted links")
      else if (adjacent != 0) Some(s"$adjacent predicted pairs are already adjacent")
      else if (weak != 0) Some(s"$weak predicted pairs have fewer than $MinCommon common neighbors")
      else None
    } finally edges.unpersist(blocking = false)
  }
}
