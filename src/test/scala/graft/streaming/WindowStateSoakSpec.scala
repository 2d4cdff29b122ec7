package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** High-cardinality state soak for the live window aggregate
  * (`SignalStream.decisions`, the SignalAggregator UDAF on the default
  * state-store provider): tens of thousands of distinct (window, symbol)
  * keys flow through advancing windows; the watermark must EVICT closed
  * windows' state, so resident state stays bounded by the live window
  * population — not by every key ever seen. Asserted from the query's
  * own state-store metrics (numRowsRemoved / numRowsTotal). */
class WindowStateSoakSpec extends SparkSpec {

  // symbols per window; env-scalable for the out-of-suite big soak
  // (SPARK_GRAFT_SOAK_KEYS=333334 drives ~1M distinct keys)
  private val N = sys.env.getOrElse("SPARK_GRAFT_SOAK_KEYS", "10000").toInt
  private val W = 5L * 60L * 1000L

  private def windowRows(w: Long, n: Int): Seq[SigInput] =
    (0 until n).flatMap { i =>
      val sym = s"S$i"
      Seq(
        SigInput(sym, "1m", "BUY", 100L + i, 10L, w * W + 100, 2L * i),
        SigInput(sym, "5m", "SELL", 100L + i, 10L, w * W + 200, 2L * i + 1))
    }

  test(s"watermark eviction bounds window state: 3×$N-key windows") {
    import spark.implicits._
    val base = Files.createTempDirectory("window-soak").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[SigInput]
    val q = SignalStream.decisions(spark, src.toDF(), "5 minutes").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("update")
      .format("noop").start()
    val t0 = System.nanoTime()
    // four advancing windows; the watermark (0 s delay) closes each
    // window once the next window's rows have been read
    for (w <- 0L to 3L) {
      src.addData(windowRows(w, if (w == 3) 100 else N))
      q.processAllAvailable()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val ops = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
    q.stop()

    val removed = ops.map(_.numRowsRemoved).sum
    val lastTotal = ops.last.numRowsTotal
    info(f"soak: ${3 * N + 100} keys, $secs%.1f s, removed=$removed, " +
      s"finalRows=$lastTotal")

    // every closed window's (window, symbol) key is evicted: w0, w1, and
    // w2 once w3's rows advance the watermark past its end
    assert(removed >= 3L * N,
      s"expected >= ${3L * N} evicted state rows, got $removed")
    // resident state is bounded by the one still-open window's 100 keys
    // — not the 3N+100 keys ever seen
    assert(lastTotal <= 100L,
      s"state not bounded by the live window: $lastTotal rows resident")
  }
}
