package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable

/** What one span measured: wall time of the calling thread, summed
  * task counters of every job started inside it, and the peak bytes of
  * cached blocks stored while it was open.
  */
final case class SpanStats(
    wallS: Double,
    cpuS: Double,
    gcS: Double,
    runS: Double,
    shuffleWriteBytes: Long,
    recordsRead: Long,
    tasks: Long,
    storagePeakBytes: Long) {
  /** Task time over the slot time the span had: wall × cores. */
  def busyFrac(cores: Int): Double = if (wallS > 0) runS / (wallS * cores) else 0.0
}

/** Attributes Spark's task metrics and cached-block sizes to named
  * spans of the benchmark. A span tags every job started inside it
  * through the local property [[Tracer.SpanKey]] (Spark copies local
  * properties into the jobs an SQL query starts on other threads), and
  * the listener sums each finished task into the span that started its
  * stage. Block updates count toward every span that was already open
  * when the block first appeared, so a span's storage peak covers only
  * blocks it created. The bus is drained at both ends of a span, which
  * keeps the drain out of the span's wall time. All state stays in
  * memory; nothing is written until the run prints its result.
  */
final class Tracer(sc: SparkContext) extends SparkListener {

  private final class Acc(val firstEpoch: Long) {
    var tasks, runMs, cpuNs, gcMs, shuffleBytes, records = 0L
    var storageNow, storagePeak = 0L
  }

  final class Span private[Tracer] (val id: String, val prev: String, val t0: Long)

  // listener-thread state; every access holds the tracer's lock
  private val stageSpan = mutable.Map[Int, String]()
  private val open = mutable.Map[String, Acc]()
  private val blocks = mutable.Map[String, (Long, Long)]() // block -> (bytes, epoch first seen)
  private var epoch = 0L
  private var seq = 0L

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .foreach(span => e.stageIds.foreach(stageSpan(_) = span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for {
      span <- stageSpan.get(e.stageId)
      acc <- open.get(span)
      m <- Option(e.taskMetrics)
    } {
      acc.tasks += 1
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      acc.records += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val (old, born) = blocks.getOrElse(id, (0L, epoch))
      if (bytes > 0) blocks(id) = (bytes, born) else blocks.remove(id)
      open.values.foreach { acc =>
        if (born >= acc.firstEpoch) {
          acc.storageNow += bytes - old
          acc.storagePeak = math.max(acc.storagePeak, acc.storageNow)
        }
      }
    }
  }

  def begin(name: String): Span = {
    BusBridge.drain(sc)
    val id = synchronized {
      seq += 1
      epoch += 1
      val id = s"$name#$seq"
      open(id) = new Acc(epoch)
      id
    }
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id)
    new Span(id, prev, System.nanoTime())
  }

  def end(s: Span): SpanStats = {
    val wallNs = System.nanoTime() - s.t0
    sc.setLocalProperty(Tracer.SpanKey, s.prev)
    BusBridge.drain(sc)
    val a = synchronized(open.remove(s.id).get)
    SpanStats(wallNs / 1e9, a.cpuNs / 1e9, a.gcMs / 1e3, a.runMs / 1e3,
      a.shuffleBytes, a.records, a.tasks, a.storagePeak)
  }

  def span[T](name: String)(body: => T): (T, SpanStats) = {
    val s = begin(name)
    val out = body
    (out, end(s))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
