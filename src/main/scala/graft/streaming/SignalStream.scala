package graft.streaming

import graft.operators.Decide
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The streaming face of the engine (SURVEY §3.1 trace): the same logical
  * pipeline the batch tier verifies, plumbed into Structured Streaming.
  *
  *   source (kafka/rate/memory/file) → parse-or-drop (P1) → enrich (P2)
  *   → watermark + 5-min tumbling window per symbol (W1-W2)
  *   → SignalAggregator (W3-W14) → min-timeframes filter (W7/P5)
  *   → decision cascade (D1-D6, shared exprs with the batch tier)
  *
  * Scale design: the only shuffle is the window/symbol grouping; state
  * per key is O(1) (see SignalAggregator); the watermark bounds state
  * retention exactly like the reference's no-grace tumbling window
  * (SignalTopology.kt:52 — late records beyond the window are dropped,
  * SURVEY §7.5(8)).
  */
object SignalStream {

  /** Wire schema of a signal JSON document (reference Signal.kt:11-30,
    * snake_case per JsonMapper.kt:17-22; unknown fields tolerated by
    * from_json, parse failures null out and are dropped — P1). */
  val signalSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("side", StringType),
    StructField("qty", DoubleType),
    StructField("price", DoubleType),
    StructField("timeframe", StringType),
    StructField("ts", LongType)))

  /** P1 parse-or-drop + P2 enrich over a raw frame with a `value` string
    * column (Kafka wire shape) and a `seq` long column (offset). */
  def parse(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), signalSchema).as("s"), col("seq"))
      .filter(col("s").isNotNull && col("s.symbol").isNotNull
        && col("s.ts").isNotNull && col("s.side").isin("BUY", "SELL"))
      .select(
        col("s.symbol").as("symbol"),
        col("s.timeframe").as("timeframe"),
        col("s.side").as("side"),
        round(col("s.price") * 100).cast("long").as("priceC"),
        round(col("s.qty") * 100).cast("long").as("qtyC"),
        col("s.ts").as("tsMs"),
        col("seq"))
      .withColumn("processed_at", current_timestamp())

  /** P3 (peek/debug passthrough, SignalTopology.kt:101-109) — the
    * reference logs each record in flight; the Spark-shaped equivalent is
    * a named observation: zero-copy passthrough whose metrics surface in
    * every micro-batch's StreamingQueryProgress (and in QueryExecution
    * listeners in batch). */
  def peekMetrics(df: DataFrame, name: String = "graft_signals"): DataFrame =
    df.observe(name, count(lit(1)).as("records"),
      sum(when(col("side") === "BUY", 1L).otherwise(0L)).as("buys"))

  /** Streaming dedup of at-least-once signal delivery on the reference's
    * verification key symbol-price-side-ts (eos-monitor.yaml:34-36) —
    * the upstream half of end-to-end exactly-once: replayed/duplicate
    * signals never reach the aggregation state. State is bounded by the
    * watermark delay. */
  def dedupSignals(parsed: DataFrame, delay: String = "1 hour"): DataFrame =
    parsed.withColumn("event_time", timestamp_millis(col("tsMs")))
      .withWatermark("event_time", delay)
      .dropDuplicatesWithinWatermark("symbol", "timeframe", "side", "priceC", "tsMs")
  // event_time (and its watermark) stays on the frame: downstream stateful
  // operators reuse it — Spark 4 disallows redefining a watermark across
  // chained stateful operators.

  /** Windowed stateful aggregation + decisions. Works identically on a
    * batch or streaming `parsed` frame (one logical plan, two execution
    * modes — SURVEY §1.4). `windowDur` e.g. "5 minutes". */
  def decisions(spark: SparkSession, parsed: DataFrame, windowDur: String,
      watermark: String = "0 seconds"): DataFrame = {
    val signalAgg = udaf(SignalAggregator, org.apache.spark.sql.Encoders.product[SigInput])
    // reuse an upstream event_time/watermark (e.g. from dedupSignals) —
    // a watermark may be defined only once per stateful chain
    val hasEventTime = parsed.columns.contains("event_time")
    val withTs = if (hasEventTime) parsed
      else parsed.withColumn("event_time", timestamp_millis(col("tsMs")))
    val src = if (parsed.isStreaming && !hasEventTime)
      withTs.withWatermark("event_time", watermark)
    else withTs
    val agg = src
      .groupBy(window(col("event_time"), windowDur).as("w"), col("symbol"))
      .agg(signalAgg(col("symbol"), col("timeframe"), col("side"),
        col("priceC"), col("qtyC"), col("tsMs"), col("seq")).as("r"))
      .select(unix_millis(col("w.start")).as("w_start"), col("symbol"),
        col("r.n_tf").as("n_tf"), col("r.signal_count").as("signal_count"),
        col("r.balance").as("balance"), col("r.alignment").as("alignment"),
        col("r.avg_price").as("avg_price"), col("r.avg_vol").as("avg_vol"),
        col("r.qty_basis").as("qty_basis"))
      .filter(col("n_tf") >= 2)
    Decide.fromAgg(agg)
      .select("w_start", "symbol", "action", "confidence",
        "suggested_price", "suggested_qty", "reason", "signal_count", "balance")
  }

  /** Projection from the Kafka source wire schema — (key binary, value
    * binary, topic string, partition int, offset long, timestamp,
    * timestampType) per the Spark Kafka connector contract — into the
    * engine's raw frame (value string, seq long), then P1/P2 parse.
    * Factored out of `fromKafka` so the whole boundary is drivable by a
    * broker-shaped frame without a broker (KafkaShapeSpec): everything
    * downstream of the connector's `load()` is exercised.
    *
    * `seq` is the downstream DETERMINISTIC TIEBREAKER (the 10-largest
    * cap orders on (tsMs, seq)), so it must be unique per record — the
    * bare offset is not (offsets collide across the 3 subscribed topics
    * and across partitions, which would make the cap arrival-order
    * dependent). xxhash64(topic, partition, offset) is deterministic
    * and collision-free for practical purposes. */
  def fromKafkaRaw(kafka: DataFrame): DataFrame =
    parse(kafka.select(col("value").cast("string").as("value"),
      xxhash64(col("topic"), col("partition"), col("offset")).as("seq")))

  /** Kafka source (S1/S2) — the production entry. Subscribes to all three
    * signal topics at once (the union U1 collapses into the source). */
  def fromKafka(spark: SparkSession, bootstrap: String, topics: String): DataFrame =
    fromKafkaRaw(spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topics)
      .option("kafka.isolation.level", "read_committed") // EOS read side
      .option("startingOffsets", "earliest")
      .load())

  /** Kafka sink shape (P6/C2-C3): key by symbol, JSON payload, explicit
    * topic column — at-least-once in Spark; end-to-end exactly-once is
    * reader-side dedup on the decision key (SURVEY §2.10). */
  def toKafkaFrame(decisions: DataFrame): DataFrame =
    decisions.select(
      col("symbol").cast("string").as("key"),
      to_json(struct(col("w_start"), col("symbol"), col("action"),
        col("confidence"), col("suggested_price"), col("suggested_qty"),
        col("reason"))).as("value"),
      lit("trading.decisions").as("topic"))
}
