package graft

import org.apache.spark.sql.functions._

/** Parquet small-file accretion past the 50-batch horizon (r8 verdict
  * #3): BloomSide SEGMENTS are fold-capped at 32 (verified), but every
  * mergeBatch still appends one parquet file per store per batch
  * (corpus, substr grams, near-dup grams/postings, index cells) — a
  * production 30-60 s trigger crosses thousands of appends, far past
  * the 50-batch soak horizon that showed no listing-cost growth.
  * Measure first (the r2 gate discipline), then fold only if it grows.
  *
  * Two measurements, printed as tables for BASELINE.md:
  *
  *  A. SYNTHESIZED file counts — decouples listing/planning from the
  *     DAG's fixed cost: a dir with N one-row parquet files,
  *     N ∈ {32, 128, 512, 1024, 2048}; per N the medians of
  *     (i) raw FileSystem listStatus, (ii) DataFrame creation + full
  *     count (planning + footer/stat reads), (iii) the probe shape —
  *     an IN-literal filtered count (min/max file skipping). This is
  *     the cost EVERY bloom-positive per-batch probe pays at that
  *     store file count.
  *
  *  B. IN-VIVO soak — N real tiny mergeBatch appends (default 400,
  *     SPARK_GRAFT_SOAK_BATCHES to override) on the composed pipeline,
  *     fresh 2-doc batches (the steady state: zero store bytes read),
  *     with every 25th batch carrying one exact duplicate of an
  *     early-stored doc so the bloom-positive PROBE path is exercised
  *     at the current file count. Per-batch wall is bucketed (median
  *     per 50-batch window) so growth reads directly against batch
  *     index; final per-store file counts prove the accretion is real.
  *
  * Usage: runMain graft.FileSoak [nBatches]
  */
object FileSoak {
  def main(args: Array[String]): Unit = {
    val nBatches = if (args.length > 0) args(0).toInt
      else sys.env.getOrElse("SPARK_GRAFT_SOAK_BATCHES", "400").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = Harness.session(cpus)
    import spark.implicits._

    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-filesoak-" +
      s"${java.util.UUID.randomUUID()}"

    // ---- A: synthesized file counts ----
    println("[files] A: synthesized file-count microbench (medians of 3)")
    println(f"[files] ${"n_files"}%8s ${"list_ms"}%9s ${"scan_ms"}%9s ${"probe_ms"}%9s")
    for (n <- Seq(32, 128, 512, 1024, 2048)) {
      val dir = s"$tmp/synth-$n"
      spark.range(n.toLong).repartition(n).write.parquet(dir)
      def med(f: => Unit): Double = {
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
        }
        ts.sorted.apply(1)
      }
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val listMs = med { fs.listStatus(p); () }
      val scanMs = med { spark.read.parquet(dir).count(); () }
      val probeMs = med {
        spark.read.parquet(dir)
          .filter(col("id").isin(1L, n / 2L, n - 1L)).count(); ()
      }
      println(f"[files] $n%8d $listMs%9.1f $scanMs%9.1f $probeMs%9.1f")
    }

    // ---- B: in-vivo pipeline soak ----
    // SPARK_GRAFT_SOAK_COMPACT_EVERY > 0 runs the soak WITH the r10
    // auto-compaction cadence enabled — the in-vivo demonstration that
    // the trigger fires on schedule, the compaction batches carry the
    // sweep's cost visibly (they are real 30-60 s-trigger maintenance
    // work, not hidden), and the file counts at the end are BOUNDED
    // instead of ≈ nBatches per store.
    val compactEvery =
      sys.env.getOrElse("SPARK_GRAFT_SOAK_COMPACT_EVERY", "0").toInt
    var compactions = 0
    val root = s"$tmp/pipe/p"
    println(s"[files] B: in-vivo soak, $nBatches 2-doc batches " +
      "(every 25th carries a stored-text duplicate → probe path)" +
      (if (compactEvery > 0) s"; auto-compaction every $compactEvery" else ""))
    // tokens must stay ≤10 chars or the Gopher gate's mean_wl bound
    // rejects the whole batch and the soak measures only the gate path
    def passText(tag: String): String =
      (Seq("the", "and") ++ (0 until 42).map(k => f"${tag}w$k%03d"))
        .mkString(" ")
    val times = new Array[Double](nBatches)
    for (b <- 0 until nBatches) {
      val id0 = b * 10L
      val base = Seq(
        (id0, passText(s"${b}a"), "en", "s"),
        (id0 + 1, passText(s"${b}b"), "en", "s"))
      val rows = if (b > 0 && b % 25 == 0)
        base :+ ((id0 + 2, passText("0a"), "en", "s")) // dup of doc 0
      else base
      val batch = rows.toDF("doc_id", "text", "lang", "source")
        .localCheckpoint(true)
      val t0 = System.nanoTime()
      streaming.IngestPipeline.mergeBatch(spark, batch, root, b.toLong,
        afterStage = s => if (s == "compact") compactions += 1,
        compactEvery = compactEvery)
      times(b) = (System.nanoTime() - t0) / 1e9
      if ((b + 1) % 50 == 0) {
        val w = times.slice(b - 49, b + 1).sorted
        println(f"[files] batches ${b - 49}%4d-$b%-4d  median=${w(25)}%5.2f s" +
          f"  p90=${w(45)}%5.2f s")
      }
    }
    if (compactEvery > 0)
      println(s"[files] auto-compactions fired: $compactions " +
        s"(counter now ${streaming.IngestPipeline
          .appendsSinceCompact(spark, root)})")
    val stores = Seq(
      "corpus" -> streaming.IngestPipeline.corpusDir(root),
      "near/grams" -> s"${streaming.IngestPipeline.nearDir(root)}/grams",
      "near/postings" -> s"${streaming.IngestPipeline.nearDir(root)}/postings",
      "substr/grams" -> s"${streaming.IngestPipeline.substrDir(root)}/grams",
      "index" -> streaming.IngestPipeline.indexDir(root))
    stores.foreach { case (name, dir) =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val n = if (fs.exists(p))
        fs.listFiles(p, true).asScalaCount(_.getPath.getName.endsWith(".parquet"))
      else 0
      println(f"[files] store $name%-14s parquet_files=$n")
    }
    Artifacts.unpersistAll()
    spark.stop()
  }

  /** Count matching entries of a RemoteIterator without materializing. */
  implicit private class RemoteIt(
      it: org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus]) {
    def asScalaCount(p: org.apache.hadoop.fs.LocatedFileStatus => Boolean): Int = {
      var n = 0
      while (it.hasNext) if (p(it.next())) n += 1
      n
    }
  }
}
