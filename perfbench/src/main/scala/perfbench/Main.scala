package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM. `perfbench/run.py` builds the
  * classpath and launches this with:
  *
  *   --workload signals-live|corpus-ingest|query-suite --seed N
  *   --seconds S --trace 0|1 --data DIR --work DIR
  *   [--goldens FILE] [--write-goldens FILE] [--rate SIGNALS_PER_S]
  *
  * It prints a details line (`{"details": ...}`) and, last, the result
  * line `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0`
  * the metrics are the end-to-end ones; with `--trace 1` the per-layer
  * ones (every name in [[Metrics.perLayer]]; a layer the workload does
  * not drive reads 0). End-to-end timings are scaled to the reference
  * host speed ([[HostSpeed]]); the details line also carries them raw.
  * A failed output check exits 1. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: Path, work: Path, goldens: Option[Path] = None,
      writeGoldens: Option[Path] = None, rate: Option[Int] = None)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("data")), Paths.get(need("work")),
      m.get("goldens").map(Paths.get(_)), m.get("write-goldens").map(Paths.get(_)),
      m.get("rate").map(_.toInt))
  }

  /** The session `graft.Bench` runs in: one executor thread per core,
    * shuffle partitions = cores, the 4096-entry codegen cache and the
    * serialized-sort shuffle writer. Scratch space stays in the work dir. */
  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    HostSpeed.started()
    HostSpeed.warm()
    Files.createDirectories(args.work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(args.work, cores)
    val tracer = new Tracer(args.trace)
    val ledger =
      if (args.trace) {
        val l = new Ledger
        spark.sparkContext.addSparkListener(l)
        Some(l)
      } else None
    val ctx = Ctx(spark, cores, args, tracer, ledger)
    val out = args.workload match {
      case "signals-live" => SignalsLive.run(ctx)
      case "corpus-ingest" => CorpusIngestLoad.run(ctx)
      case "query-suite" => QuerySuite.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    tracer.write(args.work.getParent.resolve("traces")
      .resolve(s"${args.workload}-seed${args.seed}.json"))
    val correct = out.checks.forall(_._2)
    val selfMs = if (args.trace) tracer.selfMsByName() else Map.empty[String, Double]
    val endToEnd = Outcome.atReferenceSpeed(out)
    println(Json.render(Map("details" -> (out.details ++ Map(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "cores" -> cores,
      "checks" -> out.checks.map { case (k, v) => k -> v }.toMap,
      // the end-to-end metrics of this run — in a traced run they give
      // the tracing overhead against an untraced run of the same seed
      "end_to_end" -> endToEnd,
      "end_to_end_raw" -> out.endToEnd,
      "host_kernel_ms" -> HostSpeed.medianMs, "host_samples" -> HostSpeed.count,
      "host_core_factor" -> HostSpeed.coreFactor,
      "host_stolen_setup" -> HostSpeed.setupStolen, "host_stolen_window" -> HostSpeed.windowStolen,
      "host_slowdown" -> HostSpeed.windowFactor,
      "self_ms" -> selfMs)))))
    val perLayer = out.perLayer ++ Map("host.slowdown" -> HostSpeed.windowFactor)
    val shown =
      if (args.trace) Metrics.perLayer.map { case (k, u) => k -> (perLayer.getOrElse(k, 0.0), u) }
      else Metrics.endToEnd.map { case (k, u) => k -> (endToEnd(k), u) }
    val metrics = shown.map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) }
    println(Json.render(Map("correct" -> correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    System.out.flush()
    spark.stop()
    if (!correct) sys.exit(1)
  }
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, cores: Int, args: Main.Args,
    tracer: Tracer, ledger: Option[Ledger]) {
  /** Ledger totals + Spark-substrate metrics for the measured items. */
  def sparkLayer(items: Seq[String], wallS: Double): Map[String, Double] =
    ledger.map { l =>
      l.barrier(spark)
      Ledger.sparkMetrics(l.totals(items), wallS, cores)
    }.getOrElse(Map.empty)
}

/** The metric names each mode prints, with their units, in print order. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms",
    "throughput_per_s" -> "1/s", "cpu_ms_per_item" -> "ms",
    "mem_retained_mb" -> "MiB")

  val perLayer: Seq[(String, String)] = Seq(
    "stream.batches" -> "count", "stream.rows_per_batch_p50" -> "count",
    "stream.trigger_ms_p50" -> "ms", "stream.planning_ms_p50" -> "ms",
    "stream.add_batch_ms_p50" -> "ms", "stream.commit_ms_p50" -> "ms",
    "stream.backlog_rows_max" -> "count",
    "state.dedup_rows_end" -> "count", "state.window_rows_end" -> "count",
    "state.mem_mb_end" -> "MiB", "state.commit_ms_p50" -> "ms",
    "state.rows_removed" -> "count", "state.rows_dropped_late" -> "count",
    "sink.write_ms_p50" -> "ms", "sink.decisions" -> "count",
    "sink.orders_created" -> "count", "sink.duplicate_attempts" -> "count",
    "sink.created_ratio" -> "ratio",
    "gen.offered" -> "count", "gen.redelivered" -> "count", "gen.late_ms_max" -> "ms",
    "ingest.stage.screens_ms" -> "ms", "ingest.stage.substr_ms" -> "ms",
    "ingest.stage.index_ms" -> "ms", "ingest.stage.corpus_ms" -> "ms",
    "ingest.stage.stats_ms" -> "ms",
    "ingest.absorbed" -> "count", "ingest.gate_rejected" -> "count",
    "ingest.exact_rejected" -> "count", "ingest.near_rejected" -> "count",
    "ingest.substr_rejected" -> "count", "ingest.admitted" -> "count",
    "ingest.admit_ratio" -> "ratio",
    "ingest.store_mb_end" -> "MiB", "ingest.store_files_end" -> "count",
    "suite.plan_build_ms_p50" -> "ms", "suite.exec_ms_p50" -> "ms",
    "suite.plan_build_s" -> "s", "suite.exec_s" -> "s",
    "suite.family.reference_s" -> "s", "suite.family.relational_s" -> "s",
    "suite.family.text_s" -> "s", "suite.family.dedup_s" -> "s",
    "suite.family.similarity_s" -> "s", "suite.family.multimodal_s" -> "s",
    "artifacts.cached_rdds_end" -> "count", "artifacts.cached_mb_end" -> "MiB",
    "artifacts.cached_mb_growth" -> "MiB",
    "spark.jobs_per_item" -> "count", "spark.stages_per_item" -> "count",
    "spark.tasks_per_item" -> "count", "spark.tasks_failed" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.core_busy_share" -> "ratio",
    "spark.gc_ms" -> "ms", "spark.shuffle_read_mb" -> "MiB",
    "spark.shuffle_write_mb" -> "MiB", "spark.spill_mb" -> "MiB",
    "host.slowdown" -> "ratio")
}
