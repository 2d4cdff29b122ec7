package perfbench

import graft.sources.SignalGen
import graft.streaming.{OutboxPipeline, SignalStream}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `signals-live`: the paper's pipeline under an open loop.
  *
  * One generator thread offers creation-stamped wire-JSON signals into an
  * in-memory stream source at a fixed rate, in ticks far finer than the
  * 1 s trigger. They flow through `SignalStream.parse` → `dedupSignals` →
  * `decisions("5 minutes")` → `OutboxPipeline.ordersSink`. Event time runs
  * [[Speedup]]× faster than wall time, so windows close and state is
  * evicted during the run. A signal's latency runs from the tick it was
  * due in to the end of the micro-batch that committed it. Host speed is
  * sampled only while the stream is idle: before it starts, after the
  * set-up drain and after the window's drain. */
object SignalsLive {
  /** The fixed offered rate (`--rate` overrides it, to find where the
    * backlog starts to grow; see the README). */
  val RatePerS = 400
  val TickMs = 20
  val Speedup = 600L // event-time ms per wall-clock ms
  val WarmupS = 8
  /** Malformed-only traffic after the restart: the restarted query's
    * first micro-batches run ~40% slower than later ones. */
  val PrimerS = 3
  val SpeedSamples = 20
  val RedeliverShare = 0.05
  val MalformedShare = 0.01
  val LateShare = 0.01
  // far beyond dedupSignals' 1 h watermark delay: the watermark trails the
  // newest event time by 1 h plus up to a minute of wall-clock batch lag
  // (600 event-ms per wall-ms), so a signal this late is behind it for sure
  val LateByMs = 12L * 3600 * 1000
  val EventBaseMs = 1704067200000L
  val WindowMs = 5L * 60 * 1000
  private val Timeframes = Vector("1m", "5m", "15m")

  /** One addData call: its source offset, when it was due and offered. */
  final case class Offer(offset: Long, dueNs: Long, offeredNs: Long, n: Int)

  /** Seeded signal source. Everything it emits is a function of the seed
    * and the tick number; only the offer times depend on the clock. */
  final class Generator(seed: Long, perTick: Int) {
    private val rng = new SplittableRandom(seed)
    private val recent = new Array[(String, Long)](1000)
    private var nRecent = 0
    private var seq = 0L
    var tick = 0L
    var offered, redelivered, malformed, late = 0L

    private def r2(x: Double) = math.round(x * 100) / 100.0

    private def fresh(tsMs: Long): (String, Long) = {
      val (sym, base) = SignalGen.symbols(rng.nextInt(SignalGen.symbols.size))
      val side = if (rng.nextBoolean()) "BUY" else "SELL"
      val price = r2(base * (1.0 + (rng.nextDouble() - 0.5) * 0.006))
      val qty = r2(0.01 + rng.nextDouble() * 0.49)
      val tf = Timeframes(rng.nextInt(3))
      seq += 1
      (s"""{"symbol":"$sym","side":"$side","qty":$qty,"price":$price,""" +
        s""""timeframe":"$tf","ts":$tsMs}""", seq)
    }

    /** A tick of malformed signals only: it makes the restarted stream
      * run batches (loading its state) without touching decisions. */
    def primerTick(): Seq[(String, Long)] =
      (0 until perTick).map { _ => seq += 1; ("""{"symbol":""", seq) }

    /** The signals of the next tick. `measured` enables late signals
      * (the watermark exists only once the stream has run). */
    def nextTick(measured: Boolean): Seq[(String, Long)] = {
      val eventMs = EventBaseMs + tick * TickMs * Speedup
      val out = (0 until perTick).map { i =>
        val u = rng.nextDouble()
        if (u < RedeliverShare && nRecent > 0) {
          redelivered += 1
          recent(rng.nextInt(math.min(nRecent, recent.length)))
        } else if (u < RedeliverShare + MalformedShare) {
          malformed += 1; seq += 1
          if (rng.nextBoolean()) ("""{"symbol":"BTCUSDT","side":""", seq)
          else (s"""{"side":"BUY","qty":0.1,"price":1.0,"timeframe":"1m","ts":$eventMs}""", seq)
        } else if (measured && u < RedeliverShare + MalformedShare + LateShare) {
          late += 1
          fresh(eventMs - LateByMs - i)
        } else {
          val s = fresh(eventMs + i)
          recent((nRecent % recent.length)) = s
          nRecent += 1
          s
        }
      }
      tick += 1
      offered += out.size
      out
    }
  }

  /** Collects the query's progress reports as the bus delivers them. */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
      events.asScala.toSeq
  }

  private def endOffset(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    Option(p.sources.headOption.map(_.endOffset).orNull).map(_.trim.toLong).getOrElse(-1L)
  private def startMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli
  private def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  private def endMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
    startMs(p) + dur(p, "triggerExecution")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val ckpt = ctx.args.work.resolve("signals-ckpt").toString
    // epoch ↔ monotonic clock, so span and latency times share one axis
    val epochNs0 = System.currentTimeMillis() * 1000000L
    val mono0 = System.nanoTime()
    def epochMs(ns: Long): Double = (epochNs0 + (ns - mono0)) / 1e6

    val source = MemoryStream[(String, Long)](spark, ctx.cores)(
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
    val raw = source.toDF().toDF("value", "seq")
    val parsed = SignalStream.dedupSignals(SignalStream.parse(raw))
    val decisions = SignalStream.decisions(spark, parsed, "5 minutes")

    // the traced run's sink: the same trigger, mode and checkpoint as
    // OutboxPipeline.ordersSink, with the sink call timed
    val sinkSpans = new ConcurrentLinkedQueue[(Long, Long, Long)]() // batchId, t0, t1
    def start(): StreamingQuery =
      if (!tracer.enabled) OutboxPipeline.ordersSink(spark, decisions, ckpt).start()
      else decisions.writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("1 second"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          OutboxPipeline.writeDecisionsBatch(batch)
          sinkSpans.add((id, t0, System.nanoTime()))
          ()
        }.start()

    val progress = new Progress
    spark.streams.addListener(progress)
    val rate = ctx.args.rate.getOrElse(RatePerS)
    val gen = new Generator(ctx.args.seed, rate * TickMs / 1000)

    /** Offer ticks for `seconds`, each at its due time; returns the offers. */
    def offerFor(seconds: Int)(tick: => Seq[(String, Long)]): Seq[Offer] = {
      val out = ArrayBuffer.empty[Offer]
      val nTicks = seconds * 1000 / TickMs
      val t0 = System.nanoTime()
      for (k <- 0 until nTicks) {
        val due = t0 + k.toLong * TickMs * 1000000L
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        val rows = tick
        val off = source.addData(rows).toString.trim.toLong
        out += Offer(off, due, System.nanoTime(), rows.size)
      }
      out.toSeq
    }

    def drain(q: StreamingQuery, lastOffset: Long): Unit = {
      q.processAllAvailable()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!progress.all.exists(p => p.id == q.id && endOffset(p) >= lastOffset) &&
          System.nanoTime() < deadline) Thread.sleep(10)
    }

    // ---- set-up: warm-up burst, drain, reset the in-JVM stores, restart
    HostSpeed.sample(SpeedSamples)
    OutboxPipeline.TxnStore.clear(); OutboxPipeline.RatioReport.reset()
    var q = start()
    val warm = offerFor(WarmupS)(gen.nextTick(measured = false))
    drain(q, warm.last.offset)
    q.stop()
    OutboxPipeline.TxnStore.clear(); OutboxPipeline.RatioReport.reset()
    q = start()
    drain(q, offerFor(PrimerS)(gen.primerTick()).last.offset)
    val lastSetupBatch = progress.all.filter(_.id == q.id).map(_.batchId).max
    val setupS = Probes.sinceJvmStart()
    HostSpeed.setupDone()
    HostSpeed.sample(SpeedSamples)
    val genBefore = (gen.offered, gen.redelivered, gen.malformed, gen.late)

    // ---- measured window: open loop at the fixed rate, then drain
    val cpu0 = Probes.cpuNs()
    val (jit0, gc0) = (Probes.jitMs(), Probes.gcMs())
    HostSpeed.windowStarts()
    val win0 = System.nanoTime()
    val measured = offerFor(ctx.args.seconds)(gen.nextTick(measured = true))
    val drainStart = System.nanoTime()
    drain(q, measured.last.offset)
    val win1 = System.nanoTime()
    HostSpeed.windowEnds()
    val cpuNs = Probes.cpuNs() - cpu0
    val (jitMs, gcMs) = (Probes.jitMs() - jit0, Probes.gcMs() - gc0)
    // between triggers, so no micro-batch's rows are in flight
    val idleBy = System.nanoTime() + 5L * 1000000000L
    while (q.status.isTriggerActive && System.nanoTime() < idleBy) Thread.sleep(5)
    HostSpeed.sample(SpeedSamples)
    val memMb = Probes.retainedHeapMb()
    q.stop()
    spark.streams.removeListener(progress)

    // ---- attribution: which micro-batch committed each offer
    val batches = progress.all.filter(p => p.id == q.id && p.batchId > lastSetupBatch)
      .groupBy(_.batchId).map(_._2.last).toSeq.sortBy(_.batchId)
    val dataBatches = batches.filter(_.numInputRows > 0)
    def committedBy(off: Long) = dataBatches.find(p => endOffset(p) >= off)
    val lat = ArrayBuffer.empty[Double]
    var uncommitted = 0L
    for (o <- measured) committedBy(o.offset) match {
      case Some(p) => val l = endMs(p) - epochMs(o.dueNs); for (_ <- 0 until o.n) lat += l
      case None => uncommitted += o.n
    }
    val offeredN = gen.offered - genBefore._1
    val redeliveredN = gen.redelivered - genBefore._2
    val lateN = gen.late - genBefore._4
    val lastCommitMs = dataBatches.lastOption.map(endMs).getOrElse(epochMs(win1))
    val committedN = offeredN - uncommitted

    // ---- state operators (dedup first, window aggregate second)
    def ops(p: org.apache.spark.sql.streaming.StreamingQueryProgress) = p.stateOperators.toSeq
    val dedupDropped = batches.flatMap(ops).filter(_.operatorName.toLowerCase.contains("dedup"))
      .map(o => Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum
    val droppedLate = batches.flatMap(ops).map(_.numRowsDroppedByWatermark).sum

    // ---- output checks
    import OutboxPipeline.{RatioReport, TxnStore}
    val orders = TxnStore.orders.asScala
    // order ids must be the replay-stable business key: ORD-{window}-{symbol}
    // for a 5-minute window the run's signals fall in, one order per
    // (window, symbol), and the outbox event must carry the order's id
    val symbols = SignalGen.symbols.map(_._1).toSet
    val lastEventMs = EventBaseMs + gen.tick * TickMs * Speedup
    val idsDeterministic = orders.forall { case (k, r) =>
      k == s"ORD-${r.wStart}-${r.symbol}" && r.wStart % WindowMs == 0 &&
        r.wStart > EventBaseMs - WindowMs && r.wStart <= lastEventMs &&
        symbols.contains(r.symbol) &&
        TxnStore.outbox.get(k).exists(_.contains(s""""clientOrderId":"$k""""))
    } && orders.values.map(r => (r.wStart, r.symbol)).toSet.size == orders.size
    // the sink's counters against the stream's own operator metrics: it
    // cannot take more decisions than the window operator updated rows,
    // nor write more orders (created or absorbed) than it took decisions
    val windowRowsUpdated = batches.flatMap(ops)
      .filterNot(_.operatorName.toLowerCase.contains("dedup")).map(_.numRowsUpdated).sum
    val sinkBounded =
      RatioReport.ordersCreated == orders.size &&
        RatioReport.ordersCreated + TxnStore.duplicateAttempts <= RatioReport.decisionsProcessed &&
        RatioReport.decisionsProcessed <= windowRowsUpdated
    val checks = Seq(
      "every_offered_signal_committed" -> (uncommitted == 0),
      "redeliveries_dropped_before_window_state" -> (dedupDropped == redeliveredN),
      "late_signals_dropped_by_watermark" -> (droppedLate == lateN),
      "client_order_ids_deterministic" -> idsDeterministic,
      "sink_counts_within_window_updates" -> sinkBounded,
      "orders_created" -> (orders.nonEmpty))
    val failed = uncommitted + checks.count(!_._2)

    val windowS = (win1 - win0) / 1e9
    val endToEnd = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.median(lat),
      "latency_p90_ms" -> Stats.quantile(lat, 0.9),
      "throughput_per_s" -> committedN / ((lastCommitMs - epochMs(win0)) / 1000.0),
      "cpu_ms_per_item" -> cpuNs / 1e6 / offeredN,
      "mem_retained_mb" -> memMb)

    // ---- per-layer (traced run)
    val perLayer: Map[String, Double] = if (!tracer.enabled) Map.empty else {
      val mbItems = batches.map(p => s"mb:${p.batchId}")
      for (p <- batches) {
        val s = (startMs(p) * 1e6).toLong - epochNs0 + mono0
        val id = tracer.open()
        tracer.close(id, "stream.micro_batch", s,
          s + (dur(p, "triggerExecution") * 1e6).toLong, 0L, s"mb:${p.batchId}")
        sinkSpans.asScala.filter(_._1 == p.batchId).foreach { case (_, a, b) =>
          tracer.record("sink.write", a, b, id, s"mb:${p.batchId}") }
      }
      val lastOps = batches.lastOption.map(ops).getOrElse(Nil)
      def opRows(f: String => Boolean) =
        lastOps.filter(o => f(o.operatorName.toLowerCase)).map(_.numRowsTotal).sum.toDouble
      // backlog: rows offered by a batch's end that it did not take
      val backlog = dataBatches.map { p =>
        val e = endOffset(p); val t = endMs(p)
        measured.filter(o => o.offset > e && epochMs(o.offeredNs) <= t).map(_.n).sum
      }
      val sinkMs = sinkSpans.asScala.filter(_._1 > lastSetupBatch)
        .map { case (_, a, b) => (b - a) / 1e6 }
      val created = RatioReport.ordersCreated.toDouble
      val decs = RatioReport.decisionsProcessed.toDouble
      Map(
        "stream.batches" -> batches.size.toDouble,
        "stream.rows_per_batch_p50" -> Stats.median(dataBatches.map(_.numInputRows.toDouble)),
        "stream.trigger_ms_p50" -> Stats.median(dataBatches.map(dur(_, "triggerExecution"))),
        "stream.planning_ms_p50" -> Stats.median(dataBatches.map(dur(_, "queryPlanning"))),
        "stream.add_batch_ms_p50" -> Stats.median(dataBatches.map(dur(_, "addBatch"))),
        "stream.commit_ms_p50" -> Stats.median(dataBatches.map(dur(_, "commitOffsets"))),
        "stream.backlog_rows_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
        "state.dedup_rows_end" -> opRows(_.contains("dedup")),
        "state.window_rows_end" -> opRows(n => !n.contains("dedup")),
        "state.mem_mb_end" -> lastOps.map(_.memoryUsedBytes).sum / (1024.0 * 1024.0),
        "state.commit_ms_p50" -> Stats.median(dataBatches.map(p => ops(p).map(_.commitTimeMs).sum.toDouble)),
        "state.rows_removed" -> batches.flatMap(ops).map(_.numRowsRemoved).sum.toDouble,
        "state.rows_dropped_late" -> droppedLate.toDouble,
        "sink.write_ms_p50" -> Stats.median(sinkMs),
        "sink.decisions" -> decs,
        "sink.orders_created" -> created,
        "sink.duplicate_attempts" -> TxnStore.duplicateAttempts.toDouble,
        "sink.created_ratio" -> (if (decs > 0) created / decs else 0.0),
        "gen.offered" -> offeredN.toDouble,
        "gen.redelivered" -> redeliveredN.toDouble,
        "gen.late_ms_max" -> measured.map(o => (o.offeredNs - o.dueNs) / 1e6).max
      ) ++ ctx.sparkLayer(mbItems, windowS)
    }

    // the committed rate follows the fixed offered rate, not host speed
    Outcome(offeredN, failed, checks, endToEnd, perLayer, fixedRate = Set("throughput_per_s"),
      details = Map(
      "rate_per_s" -> rate, "tick_ms" -> TickMs, "speedup" -> Speedup,
      "warmup_s" -> WarmupS, "primer_s" -> PrimerS, "window_s" -> windowS, "drain_s" -> (win1 - drainStart) / 1e9,
      "offered" -> offeredN, "redelivered" -> redeliveredN,
      "malformed" -> (gen.malformed - genBefore._3), "late" -> lateN,
      "dedup_dropped" -> dedupDropped, "dropped_late" -> droppedLate,
      "latency_samples" -> lat.size, "measured_batches" -> batches.size,
      "orders" -> orders.size, "decisions" -> RatioReport.decisionsProcessed,
      "duplicate_attempts" -> TxnStore.duplicateAttempts,
      "window_rows_updated" -> windowRowsUpdated,
      "jit_ms" -> jitMs, "gc_ms" -> gcMs,
      "trigger_ms" -> dataBatches.map(dur(_, "triggerExecution"))))
  }
}
