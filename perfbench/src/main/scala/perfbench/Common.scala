package perfbench

import java.lang.management.ManagementFactory
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Order statistics over a sample, interpolated between neighbours (the
  * same rule as Python's `statistics.quantiles(..., method="inclusive")`). */
object Stats {
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON rendering for the result lines (no dependency beyond the
  * Scala library). Numbers print with all their digits. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

/** Process-level probes: CPU time, retained heap, JVM start. */
object Probes {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Seconds since the JVM started (the `setup_s` clock). */
  def sinceJvmStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0
  /** JIT compilation and GC milliseconds so far (both run beside the
    * workload's threads and compete with them for cores). */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  /** Whole-machine CPU time in ms so far, by state, from `/proc/stat`
    * (empty where it is missing): `steal` is time the hypervisor gave
    * another guest while this one had work, `iowait` time idle with disk
    * I/O outstanding. Deltas over a window show a disturbed run. */
  def hostCpuMs(): Map[String, Long] = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.isReadable(f)) Map.empty
    else {
      val v = java.nio.file.Files.readAllLines(f).asScala.find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
      val tick = 10L // USER_HZ = 100
      Seq("user" -> 0, "nice" -> 1, "system" -> 2, "idle" -> 3, "iowait" -> 4,
        "irq" -> 5, "softirq" -> 6, "steal" -> 7)
        .collect { case (k, i) if i < v.length => k -> v(i) * tick }.toMap
    }
  }
  def hostCpuDelta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
  /** Heap used after forced full collections, MiB. Two rounds per sample
    * so objects freed by finalization/reference processing in the first
    * are gone; the median of three samples 200 ms apart, so a transient
    * allocation that is live at one sample (a background thread's work)
    * does not count. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    Stats.median((1 to 3).map { i =>
      if (i > 1) Thread.sleep(200)
      for (_ <- 1 to 2) { System.gc(); Thread.sleep(50) }
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    })
  }
}

/** How fast the host runs during this run. The machine is a VM on a shared
  * host, and two things outside the program move every timing of it:
  *
  *  - core speed drifts by tens of percent over minutes (neighbours on the
  *    same cores, clock changes). A fixed CPU kernel — benchmark code
  *    only, no library call — is timed in thread CPU time at idle points
  *    of the workload (between items, or with the stream idle); the median
  *    of those samples against [[RefMs]] is the core factor;
  *  - the hypervisor withholds CPU time the guest wanted (steal, from
  *    `/proc/stat`); a phase whose threads lost a share `s` of the CPU time
  *    they asked for took 1 / (1 - s) times as long.
  *
  * Wall-clock timings are divided by core factor / (1 - s) of the phase
  * they come from (rates multiplied); CPU times, which steal does not
  * enter, by the core factor alone. The raw values and the factors are in
  * the details line. */
object HostSpeed {
  /** The kernel's time at the reference speed (about its time on an
    * unloaded 4-core Xeon VM). */
  val RefMs = 1.5
  private val table = {
    val r = new java.util.SplittableRandom(42)
    // 16 KiB: stays in the L1 cache, so a sample taken right after the
    // workload has flushed the caches reads the same as any other
    Array.fill(1 << 12)(r.nextInt())
  }
  @volatile private var sink = 0
  private val samples = ArrayBuffer.empty[Double]

  /** `n` dependent loads and multiplies over the table. */
  private def chase(n: Int): Int = {
    var x = 1; var i = 0
    val m = table.length - 1
    while (i < n) { x = x * 1103515245 + table(x & m) + i; i += 1 }
    x
  }

  private val threads = ManagementFactory.getThreadMXBean

  /** One pass of the kernel, in ms of this thread's CPU time (time the
    * hypervisor withheld does not count, so steal does not enter it). */
  private def kernelMs(): Double = {
    val t0 = threads.getCurrentThreadCpuTime
    sink = chase(400000)
    (threads.getCurrentThreadCpuTime - t0) / 1e6
  }

  /** Run the kernel through enough calls that the compiler has compiled
    * it fully (a sample taken while it still ran interpreted, which a busy
    * compile queue prolongs, would read several times slower). */
  def warm(): Unit = {
    for (_ <- 1 to 20000) sink = chase(500)
    for (_ <- 1 to 20) kernelMs()
  }

  /** Time the kernel `n` times and keep the samples. */
  def sample(n: Int = 1): Unit = {
    val s = (1 to n).map(_ => kernelMs())
    samples.synchronized(samples ++= s)
  }

  def count: Int = samples.synchronized(samples.size)
  def medianMs: Double = samples.synchronized(Stats.median(samples))
  /** > 1 when the cores ran slower than the reference. */
  def coreFactor: Double = if (count == 0) 1.0 else medianMs / RefMs

  // /proc/stat at the start, at the end of set-up, and around the window
  @volatile private var atStart, atSetupEnd, atWindowStart, atWindowEnd =
    Map.empty[String, Long]
  def started(): Unit = atStart = Probes.hostCpuMs()
  def setupDone(): Unit = atSetupEnd = Probes.hostCpuMs()
  def windowStarts(): Unit = atWindowStart = Probes.hostCpuMs()
  def windowEnds(): Unit = atWindowEnd = Probes.hostCpuMs()

  /** Share of the CPU time the guest wanted between two snapshots that
    * the hypervisor gave to others. */
  def stolen(a: Map[String, Long], b: Map[String, Long]): Double = {
    val d = Probes.hostCpuDelta(a, b)
    val busy = Seq("user", "nice", "system", "irq", "softirq").map(d.getOrElse(_, 0L)).sum
    val steal = d.getOrElse("steal", 0L)
    if (busy + steal <= 0) 0.0 else math.min(0.5, steal.toDouble / (busy + steal))
  }
  def setupStolen: Double = stolen(atStart, atSetupEnd)
  def windowStolen: Double = stolen(atWindowStart, atWindowEnd)
  /** > 1 when set-up / the window ran slower than at the reference speed. */
  def setupFactor: Double = coreFactor / (1 - setupStolen)
  def windowFactor: Double = coreFactor / (1 - windowStolen)
}

/** One span: a call into a layer, kept in memory until the run ends. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, item: String)

/** Benchmark-side tracer. When disabled every call is a pass-through and
  * nothing is recorded; when enabled spans are appended to an in-memory
  * buffer and written out once by [[write]]. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val buf = ArrayBuffer.empty[Span]
  def spans: Seq[Span] = synchronized(buf.toList)

  def record(name: String, startNs: Long, endNs: Long, parent: Long = 0L,
      item: String = ""): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      synchronized(buf += Span(id, name, startNs, endNs, parent, item))
      id
    }

  /** Reserve an id for a span whose children are recorded before it ends. */
  def open(): Long = if (enabled) ids.incrementAndGet() else 0L
  def close(id: Long, name: String, startNs: Long, endNs: Long,
      parent: Long = 0L, item: String = ""): Unit =
    if (enabled) synchronized(buf += Span(id, name, startNs, endNs, parent, item))

  /** Self time per span name: each span's duration minus the part of its
    * interval that its children cover (children clipped to the parent
    * and merged, so overlapping children are not double-subtracted). */
  def selfMsByName(): Map[String, Double] = {
    val all = spans
    val kids = all.filter(_.parent != 0L).groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curA = -1L; var curB = -1L
        for ((a, b) <- iv) {
          if (curB < 0 || a > curB) {
            if (curB >= 0) covered += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (curB >= 0) covered += curB - curA
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("[\n")
      val ss = spans.sortBy(_.startNs)
      ss.zipWithIndex.foreach { case (s, i) =>
        w.write(Json.render(Map("id" -> s.id, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent,
          "item" -> s.item)))
        w.write(if (i + 1 < ss.size) ",\n" else "\n")
      }
      w.write("]\n")
    } finally w.close()
  }
}

/** Spark work attributed to benchmark items. Every job carries the item
  * id the benchmark set as its job group (or, for streaming micro-batches,
  * the engine's batch-id property); stages and tasks inherit the item of
  * the job that submitted them. Counts are exact: [[barrier]] runs a
  * sentinel job and waits until this listener has seen that job's end
  * event; a listener's events arrive in the order they were posted, so
  * every earlier event has been delivered to it by then. */
final class Ledger extends SparkListener {
  final class Counters {
    var jobs, stages, tasks, tasksFailed = 0L
    var cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }
  private val items = new ConcurrentHashMap[String, Counters]()
  private val stageItem = new ConcurrentHashMap[Int, String]()
  // barrier token → latch, released when this listener sees the end of
  // the sentinel job that carries the token
  private val barriers = new ConcurrentHashMap[String, java.util.concurrent.CountDownLatch]()
  private val barrierJobs = new ConcurrentHashMap[Int, String]()
  private val barrierKey = "perfbench.barrier"

  private def counters(item: String): Counters =
    items.computeIfAbsent(item, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Option(e.properties).flatMap(p => Option(p.getProperty(barrierKey)))
      .foreach(barrierJobs.put(e.jobId, _))
    Option(e.properties).flatMap(Ledger.itemOf).foreach { item =>
      val c = counters(item)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(stageItem.put(_, item))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(barrierJobs.remove(e.jobId)).flatMap(t => Option(barriers.get(t)))
      .foreach(_.countDown())

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageItem.get(e.stageInfo.stageId)).foreach { item =>
      val c = counters(item)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageItem.get(e.stageId)).foreach { item =>
      val c = counters(item)
      val m = Option(e.taskMetrics)
      c.synchronized {
        c.tasks += 1
        if (e.taskInfo != null && !e.taskInfo.successful) c.tasksFailed += 1
        m.foreach { t =>
          c.cpuNs += t.executorCpuTime
          c.gcMs += t.jvmGCTime
          c.shuffleRead += t.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += t.shuffleWriteMetrics.bytesWritten
          c.spill += t.memoryBytesSpilled + t.diskBytesSpilled
        }
      }
    }

  /** Block until every event posted before this call has been delivered
    * to this listener (at most 30 s). */
  def barrier(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val latch = new java.util.concurrent.CountDownLatch(1)
    barriers.put(token, latch)
    sc.setLocalProperty(barrierKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(barrierKey, null)
    latch.await(30, java.util.concurrent.TimeUnit.SECONDS)
    barriers.remove(token)
  }

  /** Totals over the given items, and per-item job counts. */
  def totals(ids: Seq[String]): Ledger.Totals = {
    val cs = ids.map(i => Option(items.get(i)).getOrElse(new Counters))
    def sum(f: Counters => Long) = cs.map(f).sum
    Ledger.Totals(ids.size, sum(_.jobs), sum(_.stages), sum(_.tasks), sum(_.tasksFailed),
      sum(_.cpuNs), sum(_.gcMs), sum(_.shuffleRead), sum(_.shuffleWrite),
      sum(_.spill), cs.map(_.jobs))
  }
}

object Ledger {
  final case class Totals(items: Int, jobs: Long, stages: Long, tasks: Long,
      tasksFailed: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, jobsPerItem: Seq[Long])

  /** Item = the job group the benchmark set (`item:<id>`), else the
    * streaming engine's micro-batch id (`mb:<id>`). */
  def itemOf(p: Properties): Option[String] =
    Option(p.getProperty("spark.jobGroup.id")).filter(_.startsWith("item:"))
      .map(_.stripPrefix("item:"))
      .orElse(Option(p.getProperty("streaming.sql.batchId")).map("mb:" + _))

  def withItem[T](spark: SparkSession, item: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup("item:" + item, item, interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  /** The Spark-substrate per-layer metrics over the measured items. */
  def sparkMetrics(t: Totals, wallS: Double, cores: Int): Map[String, Double] = {
    val n = math.max(t.items, 1).toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs_per_item" -> t.jobs / n,
      "spark.stages_per_item" -> t.stages / n,
      "spark.tasks_per_item" -> t.tasks / n,
      "spark.tasks_failed" -> t.tasksFailed.toDouble,
      "spark.executor_cpu_s" -> t.cpuNs / 1e9,
      "spark.core_busy_share" ->
        (if (wallS > 0) t.cpuNs / 1e9 / (wallS * cores) else 0.0),
      "spark.gc_ms" -> t.gcMs.toDouble,
      "spark.shuffle_read_mb" -> t.shuffleRead / mb,
      "spark.shuffle_write_mb" -> t.shuffleWrite / mb,
      "spark.spill_mb" -> t.spill / mb)
  }
}

/** What one workload run hands back to [[Main]]. `endToEnd` holds the raw
  * values; `fixedRate` names the metrics that do not move with host speed
  * (an open loop's offered rate), which [[Main]] leaves unscaled. */
final case class Outcome(attempted: Long, failed: Long, checks: Seq[(String, Boolean)],
    endToEnd: Map[String, Double], perLayer: Map[String, Double],
    details: Map[String, Any], fixedRate: Set[String] = Set.empty)

object Outcome {
  /** Scale raw end-to-end values to the reference host speed
    * ([[HostSpeed]]): `setup_s` divides by set-up's slowdown, the other
    * wall-clock times by the window's and rates multiply by it; CPU time
    * divides by the core factor; memory and the metrics in `fixedRate`
    * stay as measured. */
  def atReferenceSpeed(o: Outcome): Map[String, Double] =
    o.endToEnd.map { case (k, v) =>
      k -> (
        if (o.fixedRate.contains(k) || k == "mem_retained_mb") v
        else if (k == "setup_s") v / HostSpeed.setupFactor
        else if (k == "cpu_ms_per_item") v / HostSpeed.coreFactor
        else if (k == "throughput_per_s") v * HostSpeed.windowFactor
        else v / HostSpeed.windowFactor)
    }
}
