package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues}

/** The transformWithState (arbitrary-state v2, Spark 4.x) face of the
  * windowed signal aggregate (SURVEY §2.5 W3), beside the typed
  * `Aggregator` (Catalyst-planned partial aggregation, the default).
  *
  * Why carry it: the reference's processor is an arbitrary-state RocksDB
  * program (SignalTopology.kt:31-37 state store + SignalAggregator.kt
  * mutable aggregate), and transformWithState is the Spark-4-native
  * replacement for that API class — typed state HANDLES (value/list/map)
  * instead of one opaque blob, event-time TIMERS instead of timeout
  * flags, and per-state TTL. It requires RocksDBStateStoreProvider,
  * matching the reference's store.
  *
  * State layout mirrors the reference's SerializableState
  * (SignalAggregator.kt:79-89, three per-timeframe maps) as one
  * MapState[timeframe -> TfState] — a real map handle, so a hot key
  * updates ONE timeframe entry instead of rewriting the whole buffer
  * (the reason this API exists; with the blob-state APIs every arrival
  * deserializes+reserializes the full AggState).
  *
  * Semantics: per-batch fold in (tsMs, seq) order — the deterministic
  * stand-in for the reference's arrival order (SURVEY §7.5(1)) —
  * update-mode emission of windows with >= 2 timeframes (W7), state
  * dropped by an event-time timer when the watermark passes window end
  * (no-grace, SURVEY §2.10). Emission history depends on batch
  * boundaries, but final per-window values are batch-size-invariant;
  * TwsSignalsSpec asserts bit-parity with the one-shot Aggregator fold.
  */
object TwsSignals {

  case class WindowUpdate(symbol: String, w_start: Long, n_tf: Long,
    signal_count: Long, balance: Long, alignment: Double, avg_price: Double,
    avg_vol: Double, qty_basis: Double, closed: Boolean)

  /** Input row — carries the watermarked event_time column. */
  case class KeyedSig(symbol: String, timeframe: String, side: String,
    priceC: Long, qtyC: Long, tsMs: Long, seq: Long, w_start: Long,
    event_time: java.sql.Timestamp)

  val WindowMs: Long = 5L * 60L * 1000L

  /** Processor keyed by (symbol, w_start); input rows are KeyedSig,
    * output rows WindowUpdate. */
  class WindowProcessor
      extends StatefulProcessor[(String, Long), KeyedSig, WindowUpdate] {

    @transient private var tfState:
        org.apache.spark.sql.streaming.MapState[String, TfState] = _
    @transient private var timerSet:
        org.apache.spark.sql.streaming.ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      // no TTL: lifecycle is watermark-driven via the timer (reference
      // windows close on time, not on idleness)
      tfState = getHandle.getMapState[String, TfState](
        "tfs", Encoders.STRING, Encoders.product[TfState], TTLConfig.NONE)
      // a boolean "timer registered" flag — listTimers() is a state-store
      // RANGE SCAN per batch per key, measurable on RocksDB under load
      // (VERDICT r1 "What's wrong" #5); a ValueState read is O(1)
      timerSet = getHandle.getValueState[Boolean](
        "timerSet", Encoders.scalaBoolean, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: (String, Long),
        rows: Iterator[KeyedSig],
        timerValues: TimerValues): Iterator[WindowUpdate] = {
      val sorted = rows.toSeq.sortBy(s => (s.tsMs, s.seq))
      sorted.foreach { k =>
        val tf = if (tfState.containsKey(k.timeframe)) tfState.getValue(k.timeframe)
          else TfState(Nil, 0L)
        val st = SignalAggregator.reduce(AggState(Map(k.timeframe -> tf)),
          SigInput(k.symbol, k.timeframe, k.side, k.priceC, k.qtyC, k.tsMs, k.seq))
        tfState.updateValue(k.timeframe, st.tfs(k.timeframe))
      }
      // close the window when the watermark passes its end (event-time
      // timer, one per key — registered on first arrival only)
      if (timerValues.getCurrentWatermarkInMs() >= 0 && !timerSet.exists()) {
        getHandle.registerTimer(key._2 + WindowMs)
        timerSet.update(true)
      }
      val st = AggState(tfState.iterator().map { case (k2, v) => k2 -> v }.toMap)
      val r = SignalAggregator.finish(st)
      if (r.n_tf >= 2)
        Iterator.single(WindowUpdate(key._1, key._2, r.n_tf, r.signal_count,
          r.balance, r.alignment, r.avg_price, r.avg_vol, r.qty_basis,
          closed = false))
      else Iterator.empty
    }

    override def handleExpiredTimer(
        key: (String, Long),
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[WindowUpdate] = {
      tfState.clear()
      timerSet.clear()
      Iterator.empty
    }
  }

  /** parsed (SignalStream.parse shape) → running per-(symbol, window)
    * updates via transformWithState. Streaming-only by API contract —
    * requires RocksDBStateStoreProvider (caller sets
    * spark.sql.streaming.stateStore.providerClass). */
  def windowUpdates(spark: SparkSession, parsed: DataFrame): Dataset[WindowUpdate] = {
    import spark.implicits._
    val withW = parsed
      .withColumn("w_start", expr(s"(tsMs div ${WindowMs}L) * ${WindowMs}L"))
      .withColumn("event_time", timestamp_millis(col("tsMs")))
    val src = if (parsed.isStreaming) withW.withWatermark("event_time", "0 seconds")
      else withW
    src.select(col("symbol"), col("timeframe"), col("side"), col("priceC"),
        col("qtyC"), col("tsMs"), col("seq"), col("w_start"), col("event_time"))
      .as[KeyedSig]
      .groupByKey(k => (k.symbol, k.w_start))
      .transformWithState(new WindowProcessor, TimeMode.EventTime(),
        OutputMode.Update(), Encoders.product[WindowUpdate])
  }
}
