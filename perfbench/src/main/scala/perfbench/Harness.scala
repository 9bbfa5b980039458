package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.perfbench.EngineListener

/** What every workload shares: the base session, the engine listener,
  * the tracer, the clock, correctness bookkeeping and the samples the
  * end-to-end metrics are computed from.
  */
final class Harness(val spark: SparkSession, val dataDir: String, val workDir: Path,
    val seed: Long, val seconds: Int, val trace: Trace, val golden: Golden) {
  val listener: EngineListener = EngineListener.install(spark, dataDir)
  val cpus: Int = spark.sparkContext.defaultParallelism

  /** Offset from epoch-millisecond clocks (Spark events) to System.nanoTime. */
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def epochMsToNanos(ms: Long): Long = ms * 1000000L + clockOffsetNs

  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Name and latency (ms) of every measured operation, in run order. */
  val opLog = mutable.ArrayBuffer.empty[(String, Double)]
  /** Wall time of every measured pass, s. */
  val passS = mutable.ArrayBuffer.empty[Double]
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** True inside measured passes: only then do operations add latency samples. */
  private var measuring = false
  private var excludedNs = 0L
  private var excludedJvm = Jvm.Zero
  /** Listener counters of unmeasured work inside the current pass. */
  private var excludedCounters = Map.empty[String, Double]
  /** Heap in use right after a full collection, sampled after every measured pass. */
  val heapSamples = mutable.ArrayBuffer.empty[Double]

  /** Per-layer samples from traced operations: name -> values. */
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit = layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Latencies of traced and untraced operations, keyed by operation name, for the overhead ratio. */
  val tracedOps = mutable.ArrayBuffer.empty[(String, Double)]
  val untracedOps = mutable.ArrayBuffer.empty[(String, Double)]

  /** One correctness check that is not part of an operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  def fail(what: String): Unit = {
    failures += what
    Harness.log(s"FAILED $what")
  }

  /** Time `body` as one set-up of the workload. */
  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val out = trace.span("setup")(body)
    setupS += (System.nanoTime() - t0) / 1e9
    out
  }

  /** Untimed, untraced passes for [[Harness.WarmUpSeconds]] (at least
    * one), so that the measured passes see a JVM whose JIT has settled.
    */
  def warmUp(body: => Unit): Unit = trace.untraced {
    val start = System.nanoTime()
    body
    while (System.nanoTime() - start < Harness.WarmUpSeconds * 1000000000L) body
  }

  /** Run measured passes until the time budget is spent: a pass starts
    * while any budget is left, so the run ends within one pass after the
    * budget and every run holds at least one pass. With tracing on,
    * passes run traced and untraced in the order T U U T T U U T…, so
    * a steady drift in speed over the run cancels out of the overhead.
    */
  def passes(body: Int => Unit): Unit = {
    Harness.log(s"measuring ${seconds}s")
    val budgetNs = seconds * 1000000000L
    val start = System.nanoTime()
    var i = 0
    while (i == 0 || System.nanoTime() - start < budgetNs) {
      val tracedPass = trace.enabled && (i % 4 == 0 || i % 4 == 3)
      if (tracedPass) {
        // counters and builds of the untraced work so far belong to no traced pass
        EngineListener.drain(spark)
        listener.takeBuilds()
      }
      val counters = listener.snapshot()
      val jvm0 = Jvm.snapshot()
      val t0 = System.nanoTime()
      excludedNs = 0L
      excludedJvm = Jvm.Zero
      excludedCounters = Map.empty
      measuring = true
      try { if (tracedPass) trace.span("pass")(body(i)) else trace.untraced(body(i)) }
      finally measuring = false
      val ns = System.nanoTime() - t0 - excludedNs
      passS += ns / 1e9
      val jvm = Jvm.snapshot() - jvm0 - excludedJvm
      if (tracedPass) {
        EngineListener.drain(spark)
        val after = listener.snapshot()
        (after.keySet ++ counters.keySet).foreach(k =>
          sample(k, after.getOrElse(k, 0.0) - counters.getOrElse(k, 0.0) - excludedCounters.getOrElse(k, 0.0)))
        sample("jvm.gc_ms", jvm.gcMs)
        sample("jvm.jit_ms", jvm.jitMs)
        sample("pass.wall_ms", ns / 1e6)
      }
      heapSamples += Jvm.usedAfterGc().toDouble
      i += 1
    }
    Harness.log(s"measured $i passes")
  }

  /** One operation. Every operation counts as attempted; inside a
    * measured pass its latency also joins the op samples.
    */
  def op[T](name: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = trace.span("op")(body)
    val ms = (System.nanoTime() - t0) / 1e6
    if (measuring) {
      opLog += ((name, ms))
      if (trace.enabled) (if (trace.active) tracedOps else untracedOps) += ((name, ms))
    }
    out
  }

  /** Harness work inside a pass (checking outputs): untraced, and left
    * out of the pass time and, in a traced pass, of the listener counters.
    */
  def unmeasured[T](body: => T): T = {
    val counted = measuring && trace.active
    if (counted) EngineListener.drain(spark)
    val counters = if (counted) listener.snapshot() else Map.empty[String, Double]
    val t0 = System.nanoTime()
    val jvm0 = Jvm.snapshot()
    try trace.untraced(body)
    finally {
      excludedNs += System.nanoTime() - t0
      excludedJvm = excludedJvm + (Jvm.snapshot() - jvm0)
      if (counted) {
        EngineListener.drain(spark)
        // counters only grow, so `after` names every counter seen so far
        excludedCounters = listener.snapshot().map { case (k, v) =>
          k -> (excludedCounters.getOrElse(k, 0.0) + v - counters.getOrElse(k, 0.0))
        }
      }
    }
  }

  /** Construct `build`'s DataFrame and compute its fingerprint, with the
    * driver phases split out when tracing: construction (the key's own
    * code, including any staging builds it triggers), then analysis,
    * optimization, planning and execution of the fingerprint action.
    */
  def fingerprint(build: => DataFrame): Fingerprint = {
    val (df, planned) = trace.span("driver.construct") {
      val df = build
      (df, Fingerprint.plan(df))
    }
    val fp = trace.span("driver.exec")(Fingerprint.of(planned))
    if (trace.active) {
      EngineListener.drain(spark)
      listener.takeBuilds().foreach(b =>
        trace.attach(s"staging.build.${b.family}", epochMsToNanos(b.startMs), epochMsToNanos(b.endMs)))
      for (qe <- Seq(df.queryExecution, planned.queryExecution);
           (phase, s) <- qe.tracker.phases if Set("analysis", "optimization", "planning")(phase))
        trace.attach(s"driver.$phase", epochMsToNanos(s.startTimeMs), epochMsToNanos(s.endTimeMs))
    }
    fp
  }

}

object Harness {
  val WarmUpSeconds = 15
  /** Progress on stderr, stamped with JVM uptime. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.1fs] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Jvm {
  /** Cumulative GC and JIT compilation time, ms. */
  final case class Snapshot(gcMs: Double, jitMs: Double) {
    def +(o: Snapshot): Snapshot = Snapshot(gcMs + o.gcMs, jitMs + o.jitMs)
    def -(o: Snapshot): Snapshot = Snapshot(gcMs - o.gcMs, jitMs - o.jitMs)
  }
  val Zero: Snapshot = Snapshot(0, 0)

  def snapshot(): Snapshot = Snapshot(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble,
    Option(ManagementFactory.getCompilationMXBean).filter(_.isCompilationTimeMonitoringSupported)
      .fold(0.0)(_.getTotalCompilationTime.toDouble))

  /** Heap in use right after a full collection: the live set. */
  def usedAfterGc(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}
