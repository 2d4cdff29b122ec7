package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Production-shape throughput record for the composed five-store
  * ingest (r7 verdict #5): the IngestPipelineSpec soak uses 30-500-doc
  * batches at local[4], where the DAG's FIXED cost (job scheduling,
  * store probes, bloom segments, commit barriers) dominates and docs/s
  * reads 37-179. A production trigger (30-60 s) carries 10-25k-doc
  * batches, where the same fixed cost amortizes — this main measures
  * that claim instead of assuming it.
  *
  * Batches are consecutive doc_id slices of the given documents table
  * (fresh ids + fresh texts per batch = the steady-state ingest
  * profile; at /tmp/graft_sf1 — tools/gen_sf1.py — 50k docs give four
  * 12.5k batches). Per batch it reports wall seconds, docs/s, Spark
  * JOB COUNT (the fixed-cost proxy the optimization targets), and the
  * per-store commit breakdown from the afterStage seam.
  *
  * Usage: runMain graft.PipeBench
  *   [docsDir [batchSize [nBatches [compactEvery [compactGrowth]]]]]
  * `compactEvery` > 0 opts into the batch-count auto-compaction
  * cadence (r11 verdict #5's store-scale soak: sweeps must fire on
  * schedule and per-batch walls stay flat through a sweep);
  * `compactGrowth` > 0 switches to the geometric growth trigger
  * (r12 — compact on each `compactGrowth`-fraction of store growth).
  */
object PipeBench {
  def main(args: Array[String]): Unit = {
    val docsDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val batchSize = if (args.length > 1) args(1).toInt else 12500
    val nBatches = if (args.length > 2) args(2).toInt else 4
    val compactEvery = if (args.length > 3) args(3).toInt else 0
    val compactGrowth = if (args.length > 4) args(4).toDouble else 0.0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = Harness.session(cpus)

    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })

    val root = s"${System.getProperty("java.io.tmpdir")}/graft-pipebench-" +
      s"${java.util.UUID.randomUUID()}/p"
    val docs = Tables.documentsPar(spark, docsDir)
      .select("doc_id", "lang", "source", "text")
      .withColumn("bn",
        floor((row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("doc_id")) - 1) / batchSize))
      .localCheckpoint(true)

    var totalDocs = 0L; var totalSec = 0.0
    for (b <- 0 until nBatches) {
      // pin the slice OUTSIDE the timer: the stream's source read is
      // the connector's cost, not the DAG's
      val batch = docs.filter(col("bn") === b).drop("bn").localCheckpoint(true)
      val n = batch.count()
      // the listener bus is async — settle the counter (quiet for
      // 100 ms) before reading it at EITHER end of the measured span,
      // or the slice-pin jobs above leak into this batch's count and
      // tail jobs leak into the next batch's
      def settle(): Long = {
        var last = -1L
        while (last != jobs.get()) { last = jobs.get(); Thread.sleep(100) }
        last
      }
      if (n > 0) {
        val j0 = settle()
        val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        val t0 = System.nanoTime()
        val r = streaming.IngestPipeline.mergeBatch(spark, batch, root,
          b.toLong,
          afterStage = s => marks(s) = (System.nanoTime() - t0) / 1e9,
          compactEvery = compactEvery, compactGrowth = compactGrowth)
        val sec = (System.nanoTime() - t0) / 1e9
        val nJobs = settle() - j0
        totalDocs += n; totalSec += sec
        val stages = (Seq("screens+neardup" ->
            marks.getOrElse("neardup", sec)) ++
          marks.toSeq.sliding(2).collect {
            case Seq((_, a), (k, t)) => k -> (t - a) }.toSeq)
          .map { case (k, v) => f"$k=$v%.1f" }.mkString(" ")
        val compacted = if (compactEvery > 0 || compactGrowth > 0)
          s"  ctr=${streaming.IngestPipeline.appendsSinceCompact(spark, root)}"
          else ""
        println(f"[pipe] batch=$b n=$n%-6d wall=$sec%7.1f s  " +
          f"docs/s=${n / sec}%7.0f  jobs=$nJobs%-4d admitted=${r.admitted}  " +
          f"$stages$compacted")
      }
    }
    println(f"[pipe] TOTAL $totalDocs docs in $totalSec%.1f s = " +
      f"${totalDocs / totalSec}%.0f docs/s (local[$cpus], $batchSize-doc batches)")
    Artifacts.unpersistAll()
    spark.stop()
  }
}
