package graft

import graft.config.{CompareSpec, ConfigLoader}
import graft.diff.{Comparator, DiffReport}
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI — the `spark-submit` analog of the reference's Docker/CLI
  * contract (/root/reference/command_line.py:7-48,
  * /root/reference/main.py:270-278): config path + env-var secrets in,
  * verdict on stdout, exit status out (0 within tolerance, 1 different,
  * 2 usage/config error or any failure after the config loads).
  * `--search-diff` toggles row-level retrieval —
  * the reference parsed this flag but never read it
  * (/root/reference/command_line.py:19-27); here it works.
  */
object Main {

  final case class CliArgs(
      configPath: String = "compare.yaml",
      logLevel: String = "WARN",
      searchDiff: Option[Boolean] = None,
      master: String = "local[*]",
      estimate: Boolean = false,
      pipeline: Boolean = false)

  def parseArgs(argv: Array[String]): CliArgs = {
    def loop(acc: CliArgs, rest: List[String]): CliArgs = rest match {
      case Nil => acc
      case ("-f" | "--file") :: v :: t     => loop(acc.copy(configPath = v), t)
      case ("-l" | "--loglevel") :: v :: t => loop(acc.copy(logLevel = v), t)
      case ("-s" | "--search-diff") :: t   => loop(acc.copy(searchDiff = Some(true)), t)
      case "--no-search-diff" :: t         => loop(acc.copy(searchDiff = Some(false)), t)
      case ("-m" | "--master") :: v :: t   => loop(acc.copy(master = v), t)
      case ("-e" | "--estimate") :: t      => loop(acc.copy(estimate = true), t)
      case ("-p" | "--pipeline") :: t      => loop(acc.copy(pipeline = true), t)
      case other :: _ =>
        throw new IllegalArgumentException(s"Unknown argument: $other")
    }
    loop(CliArgs(), argv.toList)
  }

  /** Planning row count for a JDBC side: a pushed-down remote
    * `SELECT COUNT(*) FROM (qry)` — one scalar over the wire — instead
    * of letting the planner's count() fallback execute the full remote
    * query just to size buckets. None for non-JDBC sides (their
    * Catalyst stats are scan-free already).
    */
  private[graft] def planRows(spark: SparkSession, side: graft.config.SideSpec): Option[Long] =
    side.source match {
      case j: graft.config.SourceSpec.Jdbc => Some(Sources.countRemote(spark, j))
      case _                               => None
    }

  /** Estimate-only entry: plan and print, don't execute (the
    * reference's estimate config fixture).
    */
  def estimate(spark: SparkSession, spec: CompareSpec): Comparator.ComparePlan =
    Comparator.estimate(
      Sources.resolve(spark, spec.source), Sources.resolve(spark, spec.target),
      numBuckets = spec.numBuckets,
      srcRowsHint = planRows(spark, spec.source),
      tgtRowsHint = planRows(spark, spec.target))

  /** Side-effect-free core (testable): resolve both sides, compare,
    * return the report.
    */
  def run(
      spark: SparkSession,
      spec: CompareSpec,
      searchDiff: Option[Boolean] = None,
      progress: String => Unit = _ => ()): DiffReport = {
    val src0 = Sources.resolve(spark, spec.source)
    val tgt0 = Sources.resolve(spark, spec.target)
    val (src, tgt) =
      if (!spec.alignColumns) (src0, tgt0)
      else {
        val (s, t, _, _) = Comparator.align(src0, tgt0, spec.renames, progress)
        (s, t)
      }
    val opts0 = spec.options
    val opts = searchDiff.fold(opts0)(s => opts0.copy(fetchRows = s)).copy(progress = progress)
    spec.numBuckets match {
      case Some(_) => Comparator.compare(src, tgt, opts)
      case None    => Comparator.compareAuto(src, tgt, opts = opts,
        srcRowsHint = planRows(spark, spec.source),
        tgtRowsHint = planRows(spark, spec.target))
    }
  }

  /** Config-driven REPAIR emission — the report→fix arc from one
    * YAML: when `repair_table:` is set and the compare both found
    * differences and FETCHED the orphan rows (no row fetch → nothing
    * to render; the circuit breaker and `search_diff: false` both
    * leave counts unknown), the orphans render as executable
    * reconciliation DML ([[graft.diff.Comparator.repairActions]]).
    * `repair_out:` writes the statements one per line (a single
    * replayable script file — orphan volume is already bounded by the
    * circuit breaker, so the coalesce(1) is driver-safe by
    * construction); unset, the script prints beside the report.
    */
  def repairScript(rep: DiffReport, spec: CompareSpec): Option[DataFrame] =
    spec.repairTable.collect {
      case t if !rep.identical && !rep.countsUnknown =>
        Comparator.repairActions(rep.orphansWithCopies, t)
    }

  def emitRepair(rep: DiffReport, spec: CompareSpec,
      out: String => Unit = println): Unit =
    repairScript(rep, spec).foreach { acts =>
      spec.repairOut match {
        case Some(path) =>
          acts.orderBy("action", "dml")
            .select(org.apache.spark.sql.functions.col("dml"))
            .coalesce(1).write.mode("overwrite").text(path)
          out(s"repair script for ${spec.repairTable.get} -> $path")
        case None =>
          out(s"repair script for ${spec.repairTable.get}:")
          acts.orderBy("action", "dml").show(50, truncate = false)
      }
    }

  def main(argv: Array[String]): Unit = sys.exit(exec(argv))

  /** The CLI body, returning the exit status instead of exiting. Any
    * non-fatal error after the config loads prints one line to stderr
    * and returns 2, in both modes, so a failed read can never pass for
    * the "different" verdict. `session` runs the call on an existing
    * session and leaves it running; by default the call builds its own
    * and stops it.
    */
  private[graft] def exec(argv: Array[String],
      session: Option[SparkSession] = None): Int = {
    val cli =
      try parseArgs(argv)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(e.getMessage); return 2
      }
    def withSpark(body: SparkSession => Int): Int = {
      val spark = session.getOrElse {
        val s = GraftSession.build(cli.master)
        s.sparkContext.setLogLevel(cli.logLevel)
        s
      }
      try body(spark)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"Error: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(""))
          2
      } finally if (session.isEmpty) spark.stop()
    }
    if (cli.pipeline) {
      // curation-pipeline mode: run the YAML step list, write the sink
      // if configured, report row count. Exit 0 on success, 2 on any
      // error — there is no "difference" verdict in this mode.
      val pspec =
        try graft.config.PipelineLoader.load(cli.configPath)
        catch {
          case e: IllegalArgumentException =>
            System.err.println(s"Config error: ${e.getMessage}"); return 2
        }
      return withSpark { spark =>
        val out = Pipeline.execute(spark, pspec)
        // count the WRITTEN files when a sink exists — counting the
        // lazy frame again would re-execute the whole pipeline. The
        // read-back must mirror the sink's write options (csv writes
        // header=true, so a bare read would count every part file's
        // header line as data) and pin the frame's schema so types
        // match without an inference pass.
        val n = pspec.output match {
          case Some(o) =>
            var r = spark.read.format(o.format).schema(out.schema)
            if (o.format == "csv") r = r.option("header", "true")
            r.load(o.path).count()
          case None => out.count()
        }
        println(s"pipeline OK: $n rows" +
          pspec.output.fold("")(o => s" -> ${o.path}"))
        0
      }
    }
    val spec =
      try ConfigLoader.load(cli.configPath)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"Config error: ${e.getMessage}"); return 2
      }
    withSpark { spark =>
      if (cli.estimate) {
        println(estimate(spark, spec).describe)
        0
      } else {
        // per-stage progress to stderr (the reference's per-chunk OK/NOK
        // lines), verdict to stdout
        val rep = run(spark, spec, cli.searchDiff, progress = s => System.err.println(s"[compare] $s"))
        println(rep.verdict)
        if (!rep.identical && rep.withinTolerance)
          println(s"Differences (${rep.differences}) within max_delta=${rep.maxDelta}")
        if (!rep.identical) {
          println(s"NOK buckets (${rep.mismatchedBuckets} of ${rep.totalBuckets}):")
          rep.buckets.where(!org.apache.spark.sql.functions.col("ok"))
            .orderBy("bucket").show(20, truncate = false)
        }
        // CLI flag overrides the YAML default — same effective value the
        // compare itself used, so we never .show() an unfetched placeholder
        val effectiveFetch = cli.searchDiff.getOrElse(spec.options.fetchRows)
        if (!rep.identical && effectiveFetch)
          rep.orphans.show(50, truncate = false)
        emitRepair(rep, spec)
        if (rep.withinTolerance) 0 else 1
      }
    }
  }
}
