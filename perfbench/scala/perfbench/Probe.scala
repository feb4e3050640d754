package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** Spark-side work counters, fed by a listener the benchmark installs on the
  * session it measures. Totals only grow; callers take deltas. Job intervals
  * are kept for span attribution when `keepJobs` is set. */
final class SparkCounters(keepJobs: Boolean) extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val shuffleRead, shuffleWrite, spill = new AtomicLong
  val runMs = new AtomicLong
  private val jobStart = mutable.Map.empty[Int, Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (keepJobs) synchronized { jobStart(e.jobId) = e.time }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (keepJobs) synchronized {
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((e.jobId, s, e.time)))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      runMs.addAndGet(m.executorRunTime)
    }
  }

  /** Current totals, after every event already posted has been delivered. */
  def snapshot(sc: SparkContext): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerBusBridge.drain(sc)
    Map(
      "jobs" -> jobs.get.toDouble,
      "stages" -> stages.get.toDouble,
      "tasks" -> tasks.get.toDouble,
      "shuffle_read_bytes" -> shuffleRead.get.toDouble,
      "shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "spill_bytes" -> spill.get.toDouble,
      "task_busy_s" -> runMs.get / 1e3,
      "codegen_compile_s" -> CodeGenerator.compileTime / 1e9,
      "codegen_classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "gc_s" -> Probe.gcMs / 1e3)
  }

  def takeJobs(): Seq[(Int, Long, Long)] = synchronized {
    val out = jobIntervals.toList; jobIntervals.clear(); out
  }
}

/** A span recorded from the benchmark's own code around a call into one
  * layer. Times are epoch milliseconds (fractional), the clock Spark's
  * listener events use, so jobs can be placed inside spans. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      start: Double, end: Double)

/** Wall-clock timing plus, when tracing, an in-memory span tree written out
  * at the end of the run. */
final class Probe(val tracing: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int](-1)
  private var nextId = 0
  /** Spans are recorded only while this is on (a traced iteration). */
  var recording = false

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Run `f`, returning its result and its wall seconds; records a span
    * while recording. */
  def time[A](name: String, layer: String)(f: => A): (A, Double) = {
    val on = tracing && recording
    val id = if (on) { nextId += 1; stack.push(nextId); nextId } else -1
    val parent = if (on) stack(1) else -1
    val t0 = nowMs
    try {
      val a = f
      (a, (nowMs - t0) / 1e3)
    } finally {
      if (on) {
        stack.pop()
        spans += Span(id, parent, name, layer, t0, nowMs)
      }
    }
  }

  def allSpans: Seq[Span] = spans.toList
}

object Probe {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Heap in use after full collections: the least of three readings, each
    * after a collection and a pause for Spark's reference-driven cleanup. */
  def retainedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)
}

/** Minimal JSON rendering for the run record (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
