package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.{Decide, SignalOps}
import graft.sources.SignalGen
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The UDAF/streaming pipeline and the batch two-level aggregation are two
  * physical strategies for one logical operator — their outputs must be
  * bit-identical (doubles included; same formulas, exact accumulators). */
class BatchStreamParitySpec extends SparkSpec {

  test("SignalAggregator pipeline == batch WindowAgg+Decide, bit-exact") {
    val events = Tables.events(spark, sf())
    val batchOut = Decide.decisions(events)

    // feed the aggregator path with the identical derived signal stream
    val parsed = SignalOps.signals(events).select(
      col("symbol"), col("timeframe"), col("side"),
      round(col("price") * 100).cast("long").as("priceC"),
      round(col("qty") * 100).cast("long").as("qtyC"),
      col("ts_ms").as("tsMs"),
      col("event_id").as("seq"))
    val udafOut = SignalStream.decisions(spark, parsed, "7 days")

    val a = batchOut.collect().map(_.toSeq).toSet
    val b = udafOut.collect().map(_.toSeq).toSet
    assert(a.nonEmpty)
    assert(a == b)
  }

  test("streaming finishSignals == batch nested signals array, per key") {
    val events = Tables.events(spark, sf())
    // batch truth: the nested array on the full decision record
    val batchSigs = Decide.decisionsNested(events)
      .select(col("w_start"), col("symbol"), col("signals"))
      .collect().map { r =>
        (r.getLong(0), r.getString(1)) ->
          r.getSeq[org.apache.spark.sql.Row](2)
            .map(s => (s.getLong(0), s.getLong(1), s.getString(2), s.getString(3)))
      }.toMap
    // streaming state face: fold the identical signal stream per key
    val folded = SignalOps.signals(events).collect()
      .map { r =>
        val wStart = r.getAs[Long]("w_start")
        val sym = r.getAs[String]("symbol")
        (wStart, sym) -> SigInput(sym, r.getAs[String]("timeframe"),
          r.getAs[String]("side"),
          math.round(r.getAs[Double]("price") * 100),
          math.round(r.getAs[Double]("qty") * 100),
          r.getAs[Long]("ts_ms"), r.getAs[Long]("event_id"))
      }.groupBy(_._1)
      .map { case (k, vs) =>
        k -> vs.map(_._2).sortBy(s => (s.tsMs, s.seq))
          .foldLeft(SignalAggregator.zero)(SignalAggregator.reduce)
      }
    batchSigs.foreach { case (k, expect) =>
      val got = SignalAggregator.finishSignals(folded(k))
        .map(s => (s.tsMs, s.seq, s.timeframe, s.side))
      assert(got == expect.toSeq, s"signals mismatch for $k")
    }
    assert(batchSigs.nonEmpty)
  }

  test("decisions streamed over 2 micro-batches == batch, bit-exact") {
    // two files read one per trigger: a window's state is carried across
    // the micro-batch boundary and its latest update must equal the
    // one-shot batch aggregate over all rows
    val base = Files.createTempDirectory("window-parity").toString
    val srcDir = Paths.get(base, "src")
    Files.createDirectories(srcDir)
    val rows = SignalGen.batch(spark, 900, gapMs = 400L)
      .select("value").collect().map(_.getString(0))
    Files.write(srcDir.resolve("a.json"), rows.take(450).mkString("\n").getBytes("UTF-8"))
    Files.write(srcDir.resolve("b.json"), rows.drop(450).mkString("\n").getBytes("UTF-8"))
    def raw(df: DataFrame): DataFrame = df.selectExpr("value", "CAST(0 AS LONG) AS seq")

    val latest = scala.collection.mutable.Map.empty[(Long, String), (Long, Row)]
    var carried = 0 // updates to a key an earlier micro-batch emitted
    val q = SignalStream.decisions(spark, SignalStream.parse(
        raw(spark.readStream.option("maxFilesPerTrigger", 1).text(srcDir.toString))),
        "5 minutes")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("update")
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        df.collect().foreach { r =>
          val k = (r.getLong(0), r.getString(1))
          if (latest.get(k).exists(_._1 < batchId)) carried += 1
          if (latest.get(k).forall(_._1 < batchId)) latest(k) = (batchId, r)
        }
      }.start()
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()

    val oneShot = SignalStream.decisions(spark,
      SignalStream.parse(raw(spark.read.text(srcDir.toString))), "5 minutes")
      .collect().map(_.toSeq).toSet
    assert(batches == 2, s"expected one micro-batch per file, got $batches")
    assert(oneShot.nonEmpty && carried > 0)
    assert(latest.values.map(_._2.toSeq).toSet == oneShot)
  }
}
