package graft.streaming

import graft.SparkSpec
import graft.sources.{JdbcSource, SignalGen}
import java.nio.file.{Files, Paths}
import java.sql.DriverManager

/** S4/O4 against a real RDBMS: in-process Derby (embedded, on the Spark
  * classpath) standing in for the reference's Postgres with the
  * app.orders/app.outbox DDL (configmap-init.yaml:11-49, adapted to
  * Derby types — UUID→CHAR(36), JSONB→VARCHAR, the generated
  * occurred_at_ms column populated by the writer since Derby lacks
  * expression-generated columns).
  *
  * Covers VERDICT r1 "Next round" #6:
  *  - streaming decisions → JDBC transactional sink, replay-idempotent
  *    through the unique client_order_id (ON CONFLICT DO NOTHING twin);
  *  - getRecentOrders LIMIT path (DatabaseManager.kt:90-121);
  *  - incrementalOrders partition-bounded parallel read.
  */
class JdbcEosSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def initDdl(): Unit = withConn { c =>
    val st = c.createStatement()
    def tryDrop(sql: String): Unit =
      try { st.executeUpdate(sql); () } catch { case _: java.sql.SQLException => () }
    tryDrop("DROP TABLE app.outbox")
    tryDrop("DROP TABLE app.orders")
    st.executeUpdate(
      """CREATE TABLE app.orders (
        |  id              CHAR(36) PRIMARY KEY,
        |  client_order_id VARCHAR(128) NOT NULL UNIQUE,
        |  symbol          VARCHAR(32) NOT NULL,
        |  side            VARCHAR(8) NOT NULL,
        |  qty             DECIMAL(18,8) NOT NULL,
        |  price           DECIMAL(18,8),
        |  status          VARCHAR(16) DEFAULT 'PENDING' NOT NULL,
        |  created_at      TIMESTAMP,
        |  updated_at      TIMESTAMP
        |)""".stripMargin)
    st.executeUpdate(
      """CREATE TABLE app.outbox (
        |  event_id        VARCHAR(64) PRIMARY KEY,
        |  aggregate_type  VARCHAR(32) NOT NULL,
        |  aggregate_id    CHAR(36) NOT NULL,
        |  type            VARCHAR(32) NOT NULL,
        |  payload         VARCHAR(2048) NOT NULL,
        |  occurred_at     TIMESTAMP,
        |  occurred_at_ms  BIGINT
        |)""".stripMargin)
    st.executeUpdate("CREATE INDEX idx_outbox_time ON app.outbox(occurred_at)")
    ()
  }

  private def count(table: String): Long = withConn { c =>
    val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
    rs.next(); rs.getLong(1)
  }

  private def runStream(srcDir: String, ckpt: String): Unit = {
    val raw = spark.readStream.text(srcDir)
      .selectExpr("value", "CAST(0 AS LONG) AS seq")
    val parsed = SignalStream.dedupSignals(SignalStream.parse(raw))
    val decisions = SignalStream.decisions(spark, parsed, "5 minutes")
    val q = OutboxPipeline.ordersSink(spark, decisions, ckpt,
      OutboxPipeline.JdbcStore(url)).start()
    q.processAllAvailable()
    q.stop()
  }

  test("streaming decisions -> JDBC txn sink; replays are no-ops; " +
    "recent/incremental reads see the committed rows") {
    initDdl()
    OutboxPipeline.RatioReport.reset()
    val base = Files.createTempDirectory("jdbceos").toString
    val (srcDir, ckpt) = (s"$base/src", s"$base/ckpt")
    Files.createDirectories(Paths.get(srcDir))
    val rows = SignalGen.batch(spark, 600, baseTsMs = 1704067200000L, gapMs = 500L)
      .select("value").collect().map(_.getString(0))
    Files.write(Paths.get(srcDir, "b1.json"), rows.mkString("\n").getBytes("UTF-8"))

    runStream(srcDir, ckpt)
    val orders1 = count("app.orders")
    assert(orders1 > 0, "JDBC sink wrote no orders")
    assert(count("app.outbox") == orders1, "outbox not atomic with orders")
    // O7 on the JDBC store: the ratio report counts what the store inserted
    val report = OutboxPipeline.RatioReport
    assert(report.decisionsProcessed > 0, report.report)
    assert(report.ordersCreated == orders1, report.report)

    // at-least-once redelivery: same signals again, same checkpoint —
    // the unique client_order_id turns every replayed insert into a no-op
    Files.write(Paths.get(srcDir, "b2_dup.json"), rows.mkString("\n").getBytes("UTF-8"))
    runStream(srcDir, ckpt)
    assert(count("app.orders") == orders1, "replay changed app.orders — EOS broken")
    assert(count("app.outbox") == orders1, "replay changed app.outbox — EOS broken")
    assert(report.ordersCreated == orders1, s"replay counted as created: ${report.report}")

    // direct partition-level replay of everything already committed
    // Derby surfaces identifiers uppercase
    val all = spark.read.jdbc(url, "app.orders", new java.util.Properties)
      .collect().map { r =>
        OutboxPipeline.OrderRec(r.getAs[String]("ID").trim,
          r.getAs[String]("CLIENT_ORDER_ID"), r.getAs[String]("SYMBOL"),
          r.getAs[String]("SIDE"), "BUY", 1.0, 1.0, "{}", 1704067200000L)
      }
    val inserted = JdbcSource.writeOrdersPartition(url, all.iterator)
    assert(all.length == orders1 && inserted == 0,
      s"expected all $orders1 replays skipped, inserted=$inserted")

    // S4 read paths over the committed state
    val recent = JdbcSource.recentOrders(spark, url, 5)
    assert(recent.count() == math.min(5L, orders1))
    assert(recent.columns.map(_.toLowerCase).contains("client_order_id"))

    val lo = 1704067200000L - 1L
    val hi = lo + 365L * 24 * 3600 * 1000
    val inc = JdbcSource.incrementalOrders(spark, url, lo, hi, numPartitions = 4)
    assert(inc.rdd.getNumPartitions == 4, "bounded read must fan out")
    assert(inc.count() == orders1, "incremental window should cover all rows")
    val empty = JdbcSource.incrementalOrders(spark, url, 0L, 1000L, numPartitions = 2)
    assert(empty.count() == 0)
  }
}
