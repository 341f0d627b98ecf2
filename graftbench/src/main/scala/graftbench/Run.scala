package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A workload: set-up, then closed-loop operations through `Run.measure`. */
trait Workload {
  def name: String
  def run(spark: SparkSession, run: Run): Unit
}

/** The state of one run: set-up parts, per-phase latency samples, output
  * checks, host state, and — when traced — client spans plus the
  * listener records (see [[Tracer]]). Everything is kept in memory and
  * written once at exit.
  */
final class Run(val seed: Long, val seconds: Double, val traced: Boolean,
    val dataDir: String, val workDir: String) {

  // One epoch-nanosecond clock for client spans, so they line up with
  // the listeners' epoch-millisecond timestamps.
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowNs: Long = epochMs0 * 1000000L + (System.nanoTime() - nano0)

  private val setupParts = mutable.LinkedHashMap.empty[String, Double]
  private var setupS = Double.NaN

  def setupPart(name: String, s: Double): Unit = setupParts(name) = s

  def timeSetup[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally setupPart(name, (System.nanoTime() - t0) / 1e9)
  }

  // ---- output checks: one per operation ----------------------------
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val observed = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Count one operation; a false `ok` is a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
    }
  }

  /** An operation whose output run.py compares to pinned values. */
  def observe(fields: Map[String, Any]): Unit = {
    attempted += 1
    observed += fields
  }

  // ---- spans --------------------------------------------------------
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(this)) else None

  def span[A](name: String, attrs: (String, Any)*)(body: => A): A =
    tracer.fold(body)(_.span(name, attrs.toMap)(body))

  /** Record an already-finished span (times from `nowNs`). */
  def spanAt(name: String, startNs: Long, endNs: Long,
      attrs: (String, Any)*): Unit =
    tracer.foreach(_.record(name, startNs, endNs, attrs.toMap))

  // ---- the closed loop ----------------------------------------------
  final class Phase(val name: String) {
    val samplesMs = mutable.ArrayBuffer.empty[Double]
    var items = 0L
    var seconds = 0.0
    var probeMs: Seq[Double] = Nil
    var stealShare = 0.0
    var gcMs = 0.0

    def time(op: Int => Long, i: Int): Unit = {
      val s = System.nanoTime()
      items += op(i)
      samplesMs += (System.nanoTime() - s) / 1e6
    }
  }
  private val phases = mutable.ArrayBuffer.empty[Phase]
  private var warmupStarted = 0L
  private var heapUsedMb = 0.0

  /** Start of the untimed warm-up, the last part of set-up. */
  def beginWarmup(): Unit = warmupStarted = System.nanoTime()

  /** End of set-up, after a fixed amount of untimed work: setup_s runs
    * from JVM start to here. The heap is read here too, so that it does
    * not grow with the number of operations the timed phase completes
    * (a topic keeps every event published into it).
    */
  def endSetup(): Unit = {
    if (warmupStarted > 0)
      setupPart("setup.warmup_s", (System.nanoTime() - warmupStarted) / 1e9)
    setupS = System.currentTimeMillis() / 1e3 - Main.jvmStartMs / 1e3
    heapUsedMb = liveHeapMb()
  }

  /** Heap after a full GC: the least of three readings, since objects
    * released late (queued listener events, cleaner references) can
    * still be reachable at the first one.
    */
  private def liveHeapMb(): Double = (1 to 3).map { _ =>
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }.min

  /** Run `op` back to back for `seconds` (and at least `minOps` times);
    * `op` returns the items it completed. `unit` > 1 keeps whole groups
    * of operations (a full query pass) together.
    *
    * Traced, every operation runs twice, once untraced and once traced,
    * the order flipping from one pair to the next, so that both samples
    * of a pair sit at the same point of warm-up and the tracing overhead
    * is the difference within pairs. The listeners are registered only
    * around the traced operation.
    */
  def measure(minOps: Int = 1, unit: Int = 1)(op: Int => Long): Unit = {
    val plain = new Phase("plain")
    val withSpans = tracer.map(_ => new Phase("traced"))
    System.gc() // no set-up garbage collected inside the timed window
    val probe0 = Host.probeMs()
    val stat0 = Host.cpuTicks()
    val gc0 = Host.gcMs()
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (i < minOps || elapsed < seconds || i % unit != 0) {
      (tracer, withSpans) match {
        case (Some(t), Some(ph)) =>
          def tracedOp(): Unit = {
            t.start()
            try ph.time(op, i) finally t.stop()
          }
          if (i % 2 == 0) { plain.time(op, i); tracedOp() }
          else { tracedOp(); plain.time(op, i) }
        case _ => plain.time(op, i)
      }
      i += 1
    }
    plain.seconds = elapsed
    val gcMs = Host.gcMs() - gc0
    val steal = Host.stealShare(stat0, Host.cpuTicks())
    val probes = Seq(probe0, Host.probeMs())
    for (ph <- plain +: withSpans.toSeq) {
      // interleaved halves: each has the time of its own operations
      if (withSpans.isDefined) ph.seconds = ph.samplesMs.sum / 1e3
      ph.gcMs = gcMs
      ph.stealShare = steal
      ph.probeMs = probes
      phases += ph
    }
  }

  // ---- end of run -----------------------------------------------------
  def record(workload: String): Map[String, Any] = Map(
    "workload" -> workload,
    "seed" -> seed,
    "traced" -> traced,
    "setup_s" -> setupS,
    "setup_parts" -> setupParts.toMap,
    "phases" -> phases.map(p => Map(
      "name" -> p.name, "samples_ms" -> p.samplesMs.toSeq,
      "items" -> p.items, "seconds" -> p.seconds,
      "probe_ms" -> p.probeMs, "steal_share" -> p.stealShare,
      "gc_ms" -> p.gcMs)).toSeq,
    "attempted" -> attempted,
    "failed" -> failed,
    "failures" -> failures.toSeq,
    "observed" -> observed.toSeq,
    "heap_used_mb" -> heapUsedMb,
    "cores" -> Main.Cores) ++
    tracer.map(_.snapshot).getOrElse(Map.empty)
}

/** Host state beside every run: a fixed CPU probe, the steal share of
  * the CPU ticks, and JVM GC time.
  */
object Host {
  @volatile private var sink = 0L

  /** Best of three runs of a fixed integer loop, in milliseconds. */
  def probeMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e6
  }.min

  /** The aggregate `cpu` line of /proc/stat (empty where absent). */
  def cpuTicks(): Seq[Long] = {
    val f = new java.io.File("/proc/stat")
    if (!f.canRead) Nil
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+").drop(1).map(_.toLong).toSeq)
        .getOrElse(Nil)
      finally src.close()
    }
  }

  /** Steal ticks over all ticks between two /proc/stat readings. */
  def stealShare(a: Seq[Long], b: Seq[Long]): Double =
    if (a.size < 8 || b.size < 8) 0.0
    else {
      // user nice system idle iowait irq softirq steal [guest guest_nice]
      val d = b.take(8).zip(a.take(8)).map { case (x, y) => x - y }
      val total = d.sum
      if (total <= 0) 0.0 else d(7).toDouble / total
    }

  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble
}
