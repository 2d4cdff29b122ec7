package graft.streaming

import graft.operators.{CdcRoute, OrderOps}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.concurrent.TrieMap

/** The order-manager sink side (SURVEY §2.7 O4-O5 + §2.10 EOS) and the
  * emulated CDC relay (§2.1 S5, §2.8 C1-C4).
  *
  * Exactly-once order writes, the reference's way (OrderService.kt +
  * DatabaseManager.kt:33-88): at-least-once delivery + an idempotent
  * atomic two-table write keyed by the unique `client_order_id`
  * (configmap-init.yaml:48-49 → `ON CONFLICT DO NOTHING`). Here the
  * "database" is an in-JVM transactional store with the same contract
  * (putIfAbsent == the unique-key insert); the production variant swaps
  * `TxnStore.writeAtomically` for a JDBC transaction per partition —
  * identical shape, identical replay-safety. Spark's checkpoint gives
  * source-offset replay; the idempotent key turns replays into no-ops —
  * end-to-end exactly-once without Kafka transactions (SURVEY §2.10).
  *
  * CDC relay: the outbox "table" is an append-only parquet directory
  * (the WAL analogue); a second streaming query tails it with a file
  * source and applies the EventRouter projection (CdcRoute) — the
  * self-contained stand-in for Debezium that BASELINE.json's
  * streaming+CDC contract asks for, with the Debezium-upstream path
  * documented in SURVEY §2.1 S4/S5.
  */
object OutboxPipeline {

  case class OrderRec(clientOrderId: String, symbol: String, side: String,
    action: String, qty: Double, price: Double, payload: String, wStart: Long)

  /** In-JVM stand-in for Postgres app.orders + app.outbox with the same
    * atomicity + idempotency contract. */
  object TxnStore {
    val orders = new ConcurrentHashMap[String, OrderRec]()
    val outbox = new TrieMap[String, String]() // event per order, atomic with it
    @volatile var duplicateAttempts: Long = 0L

    /** One "transaction": order insert-if-absent + outbox event, atomic
      * per record (the JDBC twin: INSERT ... ON CONFLICT DO NOTHING +
      * outbox INSERT in one txn — DatabaseManager.kt:33-88). */
    def writeAtomically(r: OrderRec): Unit = {
      val prev = orders.putIfAbsent(r.clientOrderId, r)
      if (prev == null) outbox.put(r.clientOrderId, r.payload)
      else synchronized { duplicateAttempts += 1 }
    }
    def clear(): Unit = { orders.clear(); outbox.clear(); duplicateAttempts = 0 }
  }

  /** O7 (OrderService.kt:72-81, processor Main.kt:68-92): the reference
    * logs `Orders created: N (ratio% of decisions)` from a 30-second side
    * thread. The Spark shape: the sink's foreachBatch already knows both
    * sides of the ratio — decisions entering the batch (observed on the
    * write job itself) and orders the idempotent store actually accepted —
    * so the report is pure derived state and needs no extra thread or job.
    * Replayed batches count as consumed decisions but create 0 orders —
    * exactly how the reference's at-least-once consumer counters behave. */
  object RatioReport {
    @volatile var decisionsProcessed: Long = 0L
    @volatile var ordersCreated: Long = 0L

    def record(decisions: Long, created: Long): Unit = synchronized {
      decisionsProcessed += decisions
      ordersCreated += created
    }
    def ratioPct: Double =
      if (decisionsProcessed == 0) 0.0
      else ordersCreated * 100.0 / decisionsProcessed
    /** The reference's report line shape (OrderService.kt:78-80). */
    def report: String =
      f"Orders created: $ordersCreated%d ($ratioPct%.1f%% of $decisionsProcessed%d decisions)"
    def reset(): Unit = synchronized { decisionsProcessed = 0; ordersCreated = 0 }
  }

  /** O4/O5 sink: decisions stream → sized orders → idempotent atomic
    * writes, per partition (no collect — the iterator streams through
    * the executor, exactly how the JDBC variant batches statements). */
  def ordersSink(spark: SparkSession, decisions: DataFrame,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    decisions.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second")) // reference commit cadence
      .foreachBatch { (batch: DataFrame, _: Long) => writeDecisionsBatch(batch) }

  /** One micro-batch of the orders sink: size the decisions, write them
    * idempotently, feed the ratio report. Shared with test sinks that
    * wrap it (e.g. crash injection in ResilienceSpec).
    *
    * One Spark action per batch: the decisions entering the batch are
    * counted by an `Observation` on `batch`, read after the write job.
    * `batch` is a plan over the micro-batch's RDD, so a separate
    * `count()` would re-run the window aggregate's result stage and
    * commit its state-store version a second time. */
  def writeDecisionsBatch(batch: DataFrame): Unit = {
    val entering = Observation()
    val createdBefore = TxnStore.orders.size()
    val sized = OrderOps.fromDecisions(batch.sparkSession,
      batch.observe(entering, count(lit(1)).as("decisions")))
    sized.select(
      col("client_order_id").as("clientOrderId"), col("symbol"),
      col("order_side").as("side"), col("action"),
      col("order_qty").as("qty"), col("market_price").as("price"),
      col("payload"), col("w_start").as("wStart"))
      .as[OrderRec](org.apache.spark.sql.Encoders.product[OrderRec])
      .foreachPartition { (it: Iterator[OrderRec]) =>
        it.foreach(TxnStore.writeAtomically)
      }
    RatioReport.record(entering.get("decisions").asInstanceOf[Long],
      (TxnStore.orders.size() - createdBefore).toLong)
    ()
  }

  /** The reference's failure policy (signal-processor Main.kt:36-39 +
    * OrderService.kt:103-106): uncaught stream failure → log, back off,
    * restart from the checkpoint. With the idempotent sink, the replayed
    * batch is absorbed and delivery stays exactly-once. Returns the
    * number of restarts taken. */
  def runWithRestarts(start: () => StreamingQuery,
      maxRestarts: Int = 3, backoffMs: Long = 5000L): Int = {
    var restarts = 0
    while (true) {
      // start() runs INSIDE the try: a failure while (re)constructing the
      // query from the checkpoint — the exact crash-restart scenario this
      // policy exists for — must consume a restart and back off too, not
      // escape the loop.
      var q: StreamingQuery = null
      try {
        q = start()
        q.processAllAvailable()
        q.stop()
        return restarts
      } catch {
        case e: Throwable =>
          if (q != null) { try q.stop() catch { case _: Throwable => () } }
          if (restarts >= maxRestarts) throw e
          restarts += 1
          Thread.sleep(backoffMs)
      }
    }
    restarts
  }

  /** O4, production face: the same decisions sink but against a real
    * JDBC database — one transaction per partition via
    * JdbcSource.writeOrdersPartition (the reference's
    * saveOrderWithOutbox, DatabaseManager.kt:33-88). Replays are no-ops
    * through the unique client_order_id, exactly like the TxnStore
    * variant; JdbcEosSpec drives it against in-process Derby. */
  def ordersSinkJdbc(spark: SparkSession, decisions: DataFrame,
      checkpoint: String, url: String): DataStreamWriter[org.apache.spark.sql.Row] =
    decisions.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sized = OrderOps.fromDecisions(batch.sparkSession, batch)
        sized.select(
          col("order_id").as("orderId"),
          col("client_order_id").as("clientOrderId"), col("symbol"),
          col("order_side").as("side"),
          col("order_qty").as("qty"), col("market_price").as("price"),
          lit("PENDING").as("status"), col("payload"),
          col("w_start").as("occurredAtMs"))
          .as[graft.sources.JdbcSource.JdbcOrder](
            org.apache.spark.sql.Encoders.product[graft.sources.JdbcSource.JdbcOrder])
          .foreachPartition { (it: Iterator[graft.sources.JdbcSource.JdbcOrder]) =>
            graft.sources.JdbcSource.writeOrdersPartition(url, it)
            ()
          }
        ()
      }

  /** Outbox rows as a DataFrame (for the parquet-WAL variant of the
    * relay and for tests). */
  def outboxFrame(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    TxnStore.orders.values.asScala.toSeq.toDF()
  }

  /** C1-C4 relay over a parquet-append outbox directory: tail the "WAL"
    * with a file source, apply the EventRouter projection, key by
    * aggregate id, route by aggregate type. */
  def cdcRelay(spark: SparkSession, outboxDir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("clientOrderId",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("wStart",
        org.apache.spark.sql.types.LongType)))
    spark.readStream.schema(schema).parquet(outboxDir)
      .filter(col("payload").isNotNull) // C4 tombstone drop
      .select(
        col("clientOrderId").as("key"), // C1 unwrap/project
        col("payload").as("value"),
        concat(lit("trading."), lower(lit("ORDER")), lit("s")).as("topic"), // C2
        col("wStart").as("occurred_at_ms")) // C3 header
  }
}
