package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** CDC / outbox routing (SURVEY.md §2.8 C1-C4; reference
  * deploy/strimzi/connectors/pg-outbox-connector.yaml).
  *
  * The Debezium EventRouter SMT is pure per-record projection + routing —
  * on Spark it is a narrow `select`, no shuffle, fully codegen'd:
  *  - C1 envelope unwrap -> project outbox columns to event fields
  *  - C2 topic routing by aggregate_type ('trading.' || lower(type) || 's',
  *    the dynamic form documented at reference README.md:424)
  *  - C3 header propagation (kept as explicit columns; the Kafka sink maps
  *    them into record headers with includeHeaders=true)
  *  - C4 tombstone drop (payload IS NOT NULL)
  */
object CdcRoute {

  def outboxEvents(spark: SparkSession, events: DataFrame): DataFrame =
    OrderOps.orders(spark, events)
      .withColumn("aggregate_type", lit("ORDER"))
      .withColumn("event_type", lit("ORDER_CREATED"))
      .filter(col("payload").isNotNull)
      .select(
        // aggregateId = order.id (OrderService.kt:175), not the client id
        col("order_id").as("aggregate_id"),
        concat(lit("trading."), lower(col("aggregate_type")), lit("s")).as("topic"),
        col("event_type"),
        col("payload").as("value"),
        col("w_start").as("occurred_at_ms"))

  /** The 9-field order payload (OrderService.kt:161-171) — the schema
    * `fromDebeziumRouted` parses routed values against. */
  val PayloadSchema: StructType = StructType(Seq(
    StructField("orderId", StringType), StructField("clientOrderId", StringType),
    StructField("symbol", StringType), StructField("side", StringType),
    StructField("qty", DoubleType), StructField("price", DoubleType),
    StructField("status", StringType), StructField("confidence", DoubleType),
    StructField("signals", LongType)))

  /** S5 production path (a): consume the topic Debezium's EventRouter
    * SMT already routed (pg-outbox-connector.yaml:31-50) instead of
    * running the emulated relay — the projection a user points
    * `spark.readStream.format("kafka")` output at. Input is the Kafka
    * source's wire frame for `trading.orders` (key/value binary,
    * headers array<struct<key: string, value: binary>>, UTF-8 header
    * values); works identically on a batch frame of captured records
    * (how the spec drives it, no broker needed). Output is the exact
    * frame `cdcRelay` emits — (key, value, topic, occurred_at_ms):
    *  - tombstone drop (yaml:52-53 `drop.tombstones` removes them
    *    upstream; dropped again defensively here): value IS NULL;
    *  - key ← the record key, which EventRouter sets to aggregate_id
    *    (yaml:38 `table.field.event.key`), falling back to the
    *    aggregate_id header (yaml:48) for producers that keyed
    *    differently. Note the emulated relay keys by client_order_id —
    *    the only id its WAL stores; both are the unique order identity;
    *  - value ← the outbox payload verbatim, PARSE-OR-DROP against the
    *    9-field order JSON (same contract as the signal pipeline's P1:
    *    a malformed event is dropped, not poison);
    *  - occurred_at_ms ← the `occurred_at` header (yaml:48-49
    *    `additional.placement`), epoch millis.
    * Narrow select + filters: no shuffle, fully codegen'd except the
    * from_json validation — per-partition parallel at any scale. */
  def fromDebeziumRouted(records: DataFrame): DataFrame = {
    val hmap: Column = map_from_entries(transform(col("headers"),
      h => struct(h.getField("key"), h.getField("value").cast("string"))))
    records
      .filter(col("value").isNotNull) // C4 tombstone drop
      .withColumn("hmap", hmap)
      .withColumn("payload", col("value").cast("string"))
      .withColumn("parsed", from_json(col("payload"), PayloadSchema))
      // parse-or-drop: from_json yields NULL for non-JSON; a JSON value
      // that isn't an order payload has no clientOrderId
      .filter(col("parsed").isNotNull &&
        col("parsed").getField("clientOrderId").isNotNull)
      .select(
        coalesce(col("key").cast("string"), element_at(col("hmap"), "aggregate_id"))
          .as("key"),
        col("payload").as("value"),
        col("topic"),
        element_at(col("hmap"), "occurred_at").cast("long").as("occurred_at_ms"))
  }

  /** SCD TYPE-2 HISTORY — the other canonical CDC consumer beside the
    * latest-wins snapshot (`snapshotMerge` keeps ONE row per key; a
    * type-2 dimension keeps EVERY tracked-state run as a versioned row
    * with a validity interval — the warehouse pattern the reference's
    * outbox topic feeds when consumers materialize history instead of
    * current state, README.md:96-104).
    *
    * Input: a change stream (user_id, event_type, value, ts_ms,
    * event_id). The tracked SCD attribute is `event_type`: consecutive
    * events with the same type extend the open version (change
    * suppression), a differing type CLOSES it (valid_to = the new
    * version's valid_from) and opens the next. Gaps-and-islands:
    *  1. lag(event_type) per key in (ts_ms, event_id) order marks
    *     change points (`IS DISTINCT FROM`, so the first event opens
    *     version 1);
    *  2. a running sum of change marks numbers the versions;
    *  3. one aggregate per (key, version) folds the run — valid_from =
    *     first ts, n_events, last value by (ts_ms, event_id) argmax;
    *  4. lead(valid_from) per key closes each version; the last stays
    *     open (valid_to NULL, is_current).
    *
    * Scale shape: ONE hash exchange on user_id serves everything — the
    * two window passes re-sort within unchanged partitions, and the
    * (user_id, version) aggregate's clustering requirement is already
    * satisfied by the user_id partitioning (plan-pinned). History size
    * is O(state changes), not O(events): the per-run aggregation is the
    * compression. No driver state, no collect. */
  def scd2FromChanges(changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy("user_id")
      .orderBy(col("ts_ms"), col("event_id"))
    val runs = changes
      .withColumn("is_change",
        when(!(lag(col("event_type"), 1).over(byKey) <=> col("event_type")),
          1L).otherwise(0L))
      .withColumn("version", sum(col("is_change")).over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("version"))
      .agg(
        max(col("event_type")).as("state"), // constant within a run
        min(col("ts_ms")).as("valid_from_ms"),
        count(lit(1)).cast("long").as("n_events"),
        max(struct(col("ts_ms"), col("event_id"), col("value")))
          .getField("value").as("last_value"))
    val byVersion = Window.partitionBy("user_id").orderBy(col("version"))
    runs
      .withColumn("valid_to_ms", lead(col("valid_from_ms"), 1).over(byVersion))
      .withColumn("is_current", col("valid_to_ms").isNull)
      .select("user_id", "version", "state", "valid_from_ms", "valid_to_ms",
        "n_events", "last_value", "is_current")
  }

  /** The `cdc_scd2` query: type-2 history of the events change stream
    * (each event is a change record for its user's state). */
  def scd2History(spark: SparkSession, dir: String): DataFrame =
    scd2FromChanges(
      graft.Tables.events(spark, dir).select(
        col("user_id"), col("event_type"), col("value"),
        unix_millis(col("ts")).as("ts_ms"), col("event_id")))
      .orderBy("user_id", "version")

  /** POINT-IN-TIME (time-travel) read over the type-2 history
    * (`cdc_scd2_asof`) — the query a versioned dimension exists to
    * answer: each key's state AS OF an instant T, i.e. the unique
    * version with valid_from ≤ T < valid_to (open versions unbounded).
    * T here is the midpoint of the observed event-time range (integer
    * arithmetic, so both engines derive the same instant and the query
    * is self-contained). The probe is one tiny cross join of the
    * single-row bounds aggregate (broadcast) against the history —
    * at scale the same filter serves any literal T, and a history
    * table PARTITIONED on validity-period boundaries prunes it to one
    * partition. One row per key that existed by T. */
  def scd2AsOf(spark: SparkSession, dir: String): DataFrame = {
    val changes = graft.Tables.events(spark, dir).select(
      col("user_id"), col("event_type"), col("value"),
      unix_millis(col("ts")).as("ts_ms"), col("event_id"))
    val bounds = changes.agg(
      min(col("ts_ms")).as("lo"), max(col("ts_ms")).as("hi"))
      .select(expr("lo + (hi - lo) div 2").as("as_of_ms")) // integer div
    scd2FromChanges(changes)
      .crossJoin(broadcast(bounds))
      .filter(col("valid_from_ms") <= col("as_of_ms") &&
        (col("valid_to_ms").isNull || col("as_of_ms") < col("valid_to_ms")))
      .select(col("user_id"), col("as_of_ms"), col("version"), col("state"),
        col("valid_from_ms"), col("valid_to_ms"), col("n_events"),
        col("last_value"))
      .orderBy("user_id")
  }

  /** CDC SNAPSHOT MERGE — the consumer-side half of the outbox pattern:
    * apply a change batch to a current-state snapshot with latest-wins
    * semantics, the batch face of the `foreachBatch` + MERGE upsert
    * every CDC sink runs (reference consumers rebuild exactly this
    * state from the routed topic; README.md:96-104). The change stream
    * here is `events` keyed by user_id (each event upserts that user's
    * last-action state), the snapshot is `customer` — restricted to
    * even keys so all three merge outcomes (update, insert, untouched
    * row) genuinely occur in the output.
    *
    * Scale shape: the change batch reduces to ONE row per key before
    * the merge join — row_number + count share a single hash exchange
    * on user_id (one Window sort), so the join input is |keys|, not
    * |events|. The merge itself is a full-outer sort-merge join
    * co-partitioned on the key: at 100 TB both sides shuffle on the
    * same key once (with a bucketed/partitioned snapshot table even
    * that exchange drops — BucketingSpec shows the layout), and AQE
    * splits any hot key. No driver-side state, no collect. */
  def snapshotMerge(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.customer(spark, dir)
      .filter(col("c_custkey") % 2 === 0)
    val keyW = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val latest = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        unix_millis(col("ts")).as("ts_ms"), col("event_id"))
      .withColumn("rn", row_number().over(
        keyW.orderBy(col("ts_ms").desc, col("event_id").desc)))
      .withColumn("n_events", count(lit(1)).over(keyW).cast("long"))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("last_event_type"),
        col("value").as("last_value"), col("ts_ms").as("last_ts_ms"),
        col("n_events"))
    base.join(latest, base("c_custkey") === latest("user_id"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("user_id")).as("merge_key"),
        col("c_name"), col("c_acctbal"),
        col("last_event_type"), col("last_value"), col("last_ts_ms"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        when(col("c_custkey").isNull, lit("inserted"))
          .when(col("user_id").isNull, lit("unchanged"))
          .otherwise(lit("updated")).as("row_status"))
      .orderBy("merge_key")
  }
}
