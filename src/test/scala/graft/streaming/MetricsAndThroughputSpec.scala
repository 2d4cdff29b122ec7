package graft.streaming

import graft.SparkSpec
import graft.sources.SignalGen
import java.nio.file.Files

/** O7/P3 coverage (metrics listener + observe) and a sustained-throughput
  * probe for BASELINE.md. */
class MetricsAndThroughputSpec extends SparkSpec {

  test("StreamingQueryListener surfaces per-batch rows and observed metrics") {
    val listener = new MetricsListener
    spark.streams.addListener(listener)
    try {
      val base = Files.createTempDirectory("metrics").toString
      val rows = SignalGen.batch(spark, 2000, gapMs = 200L)
        .select("value").collect().map(_.getString(0))
      Files.write(java.nio.file.Paths.get(base, "in.json"),
        rows.mkString("\n").getBytes("UTF-8"))

      val raw = spark.readStream.text(base)
        .selectExpr("value", "CAST(0 AS LONG) AS seq")
      val parsed = SignalStream.peekMetrics(SignalStream.parse(raw))
      val decisions = SignalStream.decisions(spark, parsed, "5 minutes")
      val q = decisions.writeStream
        .format("memory").queryName("metrics_out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("update").start()
      q.processAllAvailable()
      q.stop()

      assert(listener.totalInputRows == 2000)
      val observed = listener.batches.flatMap(_.observed.get("graft_signals"))
      assert(observed.nonEmpty, "observe() metrics missing from progress")
      assert(observed.map(_("records").asInstanceOf[Long]).sum == 2000)
    } finally spark.streams.removeListener(listener)
  }

  test("O7: decisions->orders ratio report matches the stream's truth") {
    OutboxPipeline.TxnStore.clear()
    OutboxPipeline.RatioReport.reset()
    val base = Files.createTempDirectory("ratio").toString
    val in = java.nio.file.Paths.get(base, "in")
    Files.createDirectories(in)
    val rows = SignalGen.batch(spark, 600, baseTsMs = 1704067200000L, gapMs = 500L)
      .select("value").collect().map(_.getString(0))
    Files.write(in.resolve("in.json"), rows.mkString("\n").getBytes("UTF-8"))

    def decisions() = {
      val raw = spark.readStream.text(in.toString)
        .selectExpr("value", "CAST(0 AS LONG) AS seq")
      SignalStream.decisions(spark,
        SignalStream.dedupSignals(SignalStream.parse(raw)), "5 minutes")
    }
    val q = OutboxPipeline.ordersSink(spark, decisions(), s"$base/ckpt").start()
    q.processAllAvailable()
    q.stop()

    // the independent count: the same decisions stream over the same input
    // into a memory sink, which keeps every row each batch emits
    val truth = decisions().writeStream
      .format("memory").queryName("o7_decisions")
      .option("checkpointLocation", s"$base/ckpt_truth")
      .outputMode("update").start()
    truth.processAllAvailable()
    truth.stop()
    val emitted = spark.table("o7_decisions").count()

    val r = OutboxPipeline.RatioReport
    assert(emitted > 0)
    assert(r.decisionsProcessed == emitted,
      "decisions processed must equal the rows the decisions stream emitted")
    assert(r.ordersCreated == OutboxPipeline.TxnStore.orders.size().toLong,
      "created count must equal what the store accepted")
    assert(r.ordersCreated > 0)
    assert(r.ordersCreated <= r.decisionsProcessed,
      "cannot create more orders than decisions consumed")
    val expectPct = r.ordersCreated * 100.0 / r.decisionsProcessed
    assert(math.abs(r.ratioPct - expectPct) < 1e-9)
    info(r.report)
  }

  test("pipeline throughput probe (batch face, events/s)") {
    val n = 200000L
    val parsed = SignalStream.parse(SignalGen.batch(spark, n, gapMs = 100L))
    // warm
    SignalStream.decisions(spark, parsed, "5 minutes")
      .write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    SignalStream.decisions(spark, parsed, "5 minutes")
      .write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    val eps = n / secs
    info(f"signal pipeline throughput: $eps%.0f events/s over $n rows (${secs}%.2f s)")
    assert(eps > 10000, f"throughput regressed: $eps%.0f events/s")
  }
}
