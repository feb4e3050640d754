package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up the user-facing session, run one
  * workload as a closed loop (one client: this thread; an iteration starts
  * when the previous one has finished) for the requested seconds, and write
  * the run record as JSON. `perfbench/run.py` launches this, checks the
  * outputs and reduces the record to metrics.
  *
  * Arguments: workload inputsDir workDir seconds trace(0|1) seed cores outFile
  */
object Main {

  /** Set-ups per run; the reported set-up time is their median. */
  val SetupSamples = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, secondsArg, traceArg, seedArg, coresArg, outFile) = args
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = coresArg.toInt

    // Set-up: Graft.localSession (the README's entry point, default
    // settings) plus one trivial job. The first sample runs from JVM start;
    // the later ones stop the session and build a fresh one.
    val setupS = mutable.ArrayBuffer.empty[Double]
    val buildS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until SetupSamples) {
      if (spark != null) spark.stop()
      val t0 = if (i == 0) jvmStartMs.toDouble else System.nanoTime() / 1e6
      val b0 = System.nanoTime()
      spark = graft.Graft.localSession(cores)
      buildS += (System.nanoTime() - b0) / 1e9
      spark.range(1).count()
      val now = if (i == 0) System.currentTimeMillis().toDouble else System.nanoTime() / 1e6
      setupS += (now - t0) / 1e3
    }
    spark.sparkContext.setLogLevel("ERROR")

    val tracing = traceArg == "1"
    val counters = new SparkCounters(keepJobs = tracing)
    spark.sparkContext.addSparkListener(counters)
    val probe = new Probe(tracing)
    val run = new Run(spark, probe, counters, inputs, work, seedArg.toLong, cores)
    val wl: Workload = workload match {
      case "etl_drain" => new EtlDrain(run)
      case "tpch_sql" => new TpchSql(run)
      case "refinery" => new RefineryChain(run)
      case "kernels" => new Kernels(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val record = mutable.LinkedHashMap.empty[String, Any]
    record("workload") = workload
    record("setup_s") = setupS.toList
    record("session_build_s") = buildS.toList
    record("conf") = spark.conf.getAll.filter { case (k, _) => !k.endsWith("extraJavaOptions") }
    record("max_heap_mb") = Probe.maxHeapMb

    val p0 = System.nanoTime()
    wl.prepare()
    record("prepare_s") = (System.nanoTime() - p0) / 1e9
    val budgetMs = secondsArg.toDouble * 1e3
    val loopStart = probe.nowMs
    val iterations = mutable.ArrayBuffer.empty[Map[String, Any]]
    var i = 0
    // the cold iteration, then warm ones until the time is spent; at least
    // MinWarm warm iterations so every run has a warm median
    while (i == 0 || i <= wl.minWarm || probe.nowMs - loopStart < budgetMs) {
      // in a traced run, warm iterations alternate untraced/traced so the
      // tracing overhead is measured within the run
      val traced = tracing && (i == 0 || i % 2 == 0)
      probe.recording = traced
      val before = counters.snapshot(spark.sparkContext)
      counters.takeJobs()
      val (_, wall) = probe.time(s"iteration-$i", "bench")(wl.iteration(i))
      probe.recording = false
      val detail = wl.after(i)
      val after = counters.snapshot(spark.sparkContext)
      val it = mutable.LinkedHashMap[String, Any](
        "index" -> i, "traced" -> traced, "wall_s" -> wall,
        "counters" -> after.map { case (k, v) => k -> (v - before(k)) },
        "ops" -> wl.takeOps())
      it ++= detail
      if (tracing) it("jobs") = counters.takeJobs().map { case (id, s, e) =>
        Map("id" -> id, "start" -> s.toDouble, "end" -> e.toDouble) }
      iterations += it.toMap
      i += 1
    }
    record("measured_s") = (probe.nowMs - loopStart) / 1e3
    Files.createFile(Paths.get(work, "measured"))
    record("iterations") = iterations.toList
    record("tmpdir_entries") = countEntries(new File(sys.props("java.io.tmpdir")))
    record("spans") = probe.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "layer" -> s.layer, "start" -> s.start, "end" -> s.end))
    val c0 = System.nanoTime()
    if (tracing) record("traced_extra") = wl.tracedExtra()
    record("checks") = wl.check()
    record("check_s") = (System.nanoTime() - c0) / 1e9
    // after the check has let go of the checked frames
    record("retained_heap_mb") = Probe.retainedHeapMb()
    record("errors") = wl.errors.toList
    record("failed_ops") = wl.failedOps
    Files.writeString(Paths.get(outFile), Json(record))
    spark.stop()
  }

  def countEntries(f: File): Int =
    Option(f.listFiles).map(_.toSeq).getOrElse(Nil)
      .map(c => 1 + (if (c.isDirectory) countEntries(c) else 0)).sum
}

/** What every workload shares: the session, the probe, paths and seed. */
final class Run(val spark: SparkSession, val probe: Probe, val counters: SparkCounters,
                val inputs: String, val work: String, val seed: Long, val cores: Int)

trait Workload {
  /** Warm iterations every run makes, whatever the time budget. */
  def minWarm: Int = 2
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val errors = mutable.ArrayBuffer.empty[String]
  /** Operations that returned but whose outcome was a failure. */
  var failedOps = 0

  /** Untimed preparation after set-up (loading inputs into JVM memory). */
  def prepare(): Unit = ()
  /** One timed iteration. */
  def iteration(i: Int): Unit
  /** Untimed per-iteration record fields, collected after the iteration. */
  def after(i: Int): Map[String, Any] = Map.empty
  /** Output checks, outside every timed region. */
  def check(): Map[String, Any]
  /** Extra traced-only measurements. */
  def tracedExtra(): Map[String, Any] = Map.empty

  /** Time one operation (one call into a public entry point). A throw is
    * recorded as a failed operation and yields None. Operations with
    * `latency = false` count as attempted but stay out of the latency
    * percentiles. */
  protected def op[A](run: Run, name: String, layer: String, latency: Boolean = true)(
      f: => A): Option[A] = {
    val t0 = System.nanoTime()
    val out =
      try Some(run.probe.time(name, layer)(f)._1)
      catch { case scala.util.control.NonFatal(e) =>
        errors += s"$name: ${e.getClass.getName}: ${e.getMessage}".take(500)
        None
      }
    ops += Map("name" -> name, "s" -> (System.nanoTime() - t0) / 1e9, "ok" -> out.isDefined,
      "latency" -> latency)
    out
  }

  def takeOps(): Seq[Map[String, Any]] = { val o = ops.toList; ops.clear(); o }
}
