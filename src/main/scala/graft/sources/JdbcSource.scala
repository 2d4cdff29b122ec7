package graft.sources

import graft.streaming.OutboxPipeline.OrderRec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JDBC source + transactional sink (SURVEY §2.1 S4, §2.7 O4; reference
  * DatabaseManager.kt).
  *
  * Reads (DatabaseManager.kt:90-121 `getRecentOrders` + the incremental
  * poll the emulated CDC path uses). Partitioning matters at scale:
  * `recentOrders` is a driver-side peek (LIMIT n — deliberately not
  * distributed); `incrementalOrders` carries partitionColumn bounds so a
  * backfill scan fans out across executors.
  *
  * The write side (`writeOrdersPartition`) is the reference's
  * saveOrderWithOutbox (DatabaseManager.kt:33-88): one transaction per
  * partition batch, order INSERT + outbox INSERT per record, duplicate
  * client_order_id rolled back to a per-record savepoint — the Derby/ANSI
  * twin of Postgres `ON CONFLICT DO NOTHING`, which makes sink replays
  * idempotent (§2.10 EOS).
  *
  * Exercised end-to-end in JdbcEosSpec against in-process Derby (the
  * container ships no server RDBMS; Derby embedded is on the Spark
  * classpath and runs the identical JDBC contract).
  */
object JdbcSource {

  def recentOrders(spark: SparkSession, url: String, limit: Int,
      props: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, "app.orders", props)
      .orderBy(col("created_at").desc)
      .limit(limit)

  /** Incremental poll on the epoch-millis column
    * (configmap-init.yaml:36-46) — the self-contained CDC emulation's
    * batch face. `numPartitions` splits [fromMs, toMs) so the read is
    * cluster-parallel, not a single-connection trickle. */
  def incrementalOrders(spark: SparkSession, url: String,
      fromMs: Long, toMs: Long, numPartitions: Int = 16,
      props: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read
      .option("partitionColumn", "occurred_at_ms")
      .option("lowerBound", fromMs)
      .option("upperBound", toMs)
      .option("numPartitions", numPartitions)
      .jdbc(url, "app.outbox", props)
      .filter(col("occurred_at_ms") >= fromMs && col("occurred_at_ms") < toMs)

  /** Executor-side partition write: one JDBC transaction per partition,
    * per-record savepoint so a duplicate key (replayed batch) skips just
    * that record and the rest of the batch still commits. Orders are
    * written `PENDING`, stamped with their window start. Returns the
    * number of orders inserted, for the ratio report. */
  def writeOrdersPartition(url: String, rows: Iterator[OrderRec]): Long = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val oStmt = conn.prepareStatement(
        "INSERT INTO app.orders (id, client_order_id, symbol, side, qty, " +
          "price, status, created_at, updated_at) VALUES (?,?,?,?,?,?,?,?,?)")
      val bStmt = conn.prepareStatement(
        "INSERT INTO app.outbox (event_id, aggregate_type, aggregate_id, " +
          "type, payload, occurred_at, occurred_at_ms) VALUES (?,?,?,?,?,?,?)")
      var inserted = 0L
      rows.foreach { r =>
        val sp = conn.setSavepoint()
        try {
          val ts = new java.sql.Timestamp(r.wStart)
          oStmt.setString(1, r.orderId)
          oStmt.setString(2, r.clientOrderId)
          oStmt.setString(3, r.symbol)
          oStmt.setString(4, r.side)
          oStmt.setBigDecimal(5, new java.math.BigDecimal(r.qty).setScale(8,
            java.math.RoundingMode.HALF_UP))
          oStmt.setBigDecimal(6, new java.math.BigDecimal(r.price).setScale(8,
            java.math.RoundingMode.HALF_UP))
          oStmt.setString(7, "PENDING")
          oStmt.setTimestamp(8, ts)
          oStmt.setTimestamp(9, ts)
          oStmt.executeUpdate()
          bStmt.setString(1, s"EVT-${r.orderId}")
          bStmt.setString(2, "ORDER")
          bStmt.setString(3, r.orderId)
          bStmt.setString(4, "ORDER_CREATED")
          bStmt.setString(5, r.payload)
          bStmt.setTimestamp(6, ts)
          bStmt.setLong(7, r.wStart)
          bStmt.executeUpdate()
          inserted += 1
          // successful record: the savepoint is no longer needed — release
          // it so a long partition doesn't accumulate one per row
          conn.releaseSavepoint(sp)
        } catch {
          // duplicate idempotency key: the ON CONFLICT DO NOTHING twin —
          // roll back this record only, keep the batch transaction alive.
          // Matched by SQLState, not exception subclass: Derby raises
          // SQLIntegrityConstraintViolationException but PostgreSQL's
          // driver raises a plain SQLException subclass with state 23505,
          // so the class-based catch would abort the whole partition txn
          // on the production target. SQLState class 23 = integrity
          // constraint violation in both (ANSI).
          case e: java.sql.SQLException
              if Option(e.getSQLState).exists(_.startsWith("23")) =>
            conn.rollback(sp)
        }
      }
      conn.commit()
      inserted
    } finally conn.close()
  }
}
