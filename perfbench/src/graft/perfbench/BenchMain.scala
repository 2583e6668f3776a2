package graft.perfbench

import graft.GraftSession
import java.nio.file.Paths

/** One benchmark invocation, shaped like one CLI call (see
  * perfbench/README.md):
  *
  * {{{
  * BenchMain t0_ns=<epoch ns> cores=<n> workload=<name> input=<dir>
  *           out=<dir> trace=<0|1>
  * }}}
  *
  * It times its own set-up, from `t0_ns` (taken by the launcher just
  * before it started this JVM) until a `GraftSession` is ready and has
  * run its first job. Then it runs one operation of the workload over
  * the generated inputs in `input`: untraced for the end-to-end
  * metrics, traced for the per-layer ones. The output is checked after
  * the timing stops; a wrong or failed operation reports no metrics.
  * The last stdout line is `PERFBENCH <json>`.
  */
object BenchMain {

  private def nowNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(args: Array[String]): Unit = {
    val kv = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val cores = kv("cores").toInt
    val t0 = kv("t0_ns").toLong
    val spark = GraftSession.build(s"local[$cores]", cores)
    spark.range(0, 1000, 1, cores).count()
    val setupS = (nowNs() - t0) / 1e9
    try println("PERFBENCH " + run(spark, kv, cores, setupS))
    finally spark.stop()
  }

  private def run(spark: org.apache.spark.sql.SparkSession, kv: Map[String, String],
      cores: Int, setupS: Double): String = {
    val name = kv("workload")
    val w = Workloads.open(name, spark, Paths.get(kv("input")), Paths.get(kv("out")))
    val tr = new Tracer(spark.sparkContext)
    val t0 = System.nanoTime()
    val measured =
      try Right {
        if (kv("trace") == "1") {
          val (out, spans) = w.traced(tr)
          (out, perLayer(w, spans, cores))
        } else {
          val s = tr.begin("op")
          val out = w.op()
          (out, endToEnd(tr.end(s), w.inputRecords, setupS))
        }
      } catch { case e: Exception => Left(s"operation failed: $e") }
    val wallS = (System.nanoTime() - t0) / 1e9
    val problem = measured match {
      case Left(err) => Some(err)
      case Right((out, _)) =>
        try out.check().map("wrong output: " + _)
        catch { case e: Exception => Some(s"check failed: $e") }
        finally out.release()
    }
    problem.foreach(p => System.err.println(s"[perfbench] $name: $p"))
    System.err.println(f"[perfbench] $name: set-up $setupS%.3fs, operation $wallS%.3fs")
    val metrics = measured.toOption.filter(_ => problem.isEmpty).map(_._2).getOrElse(Nil)
    Json.obj(
      "ok" -> problem.isEmpty.toString,
      "op_wall_s" -> Json.num(wallS),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
      }: _*))
  }

  private def endToEnd(op: SpanStats, inputRecords: Long,
      setupS: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("wall_s", op.wallS, "s"),
    ("records_per_s", inputRecords / op.wallS, "rec/s"),
    ("cpu_s", op.cpuS, "s"),
    ("shuffle_mb", op.shuffleWriteBytes / 1e6, "MB"),
    ("read_amplification", op.recordsRead.toDouble / inputRecords, "ratio"),
    ("storage_peak_mb", op.storagePeakBytes / 1e6, "MB"))

  /** Six counters on every span, plus busy fraction and storage where
    * [[Workloads]] asks for them. canon.hash is reported as what hashing
    * adds to the bare scan.
    */
  private def perLayer(w: Workload, spans: Seq[(String, SpanStats)],
      cores: Int): Seq[(String, Double, String)] = {
    def per(span: String, f: SpanStats => Double): Double =
      spans.filter(_._1 == span).map(x => f(x._2)).sum
    val hashed = spans.exists(_._1 == "canon.hash")
    def layer(span: String, f: SpanStats => Double): Double =
      if (span == "canon.hash" && hashed) per(span, f) - per("sources.scan", f)
      else per(span, f)
    val counters: Seq[(String, SpanStats => Double, String)] = Seq(
      ("wall_s", _.wallS, "s"),
      ("cpu_s", _.cpuS, "s"),
      ("gc_s", _.gcS, "s"),
      ("shuffle_write_mb", _.shuffleWriteBytes / 1e6, "MB"),
      ("records_read", _.recordsRead.toDouble, "count"),
      ("tasks", _.tasks.toDouble, "count"))
    (Workloads.SpanNames ++ w.extraSpans).flatMap(s =>
      counters.map { case (c, f, u) => (s"$s.$c", layer(s, f), u) }) ++
      (Workloads.BusySpans ++ w.extraSpans).map(s =>
        (s"$s.busy_frac", per(s, _.busyFrac(cores)), "ratio")) ++
      Workloads.StorageSpans.map(s => (s"$s.storage_mb", per(s, _.storagePeakBytes / 1e6), "MB"))
  }
}
