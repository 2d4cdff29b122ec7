package perfbench

import graft.streaming.{CorpusIngest, IngestPipeline}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `corpus-ingest`: a closed loop of equal-size batches through
  * `IngestPipeline.mergeBatch` into fresh five-store roots.
  *
  * Documents are derived by a seeded generator from the texts of the
  * benchmark's `documents.parquet`: fresh ids with token-shuffled texts,
  * plus fixed shares of exact duplicates, near-duplicates, substring
  * overlaps, gate failures and ids redelivered from earlier batches. The
  * warm-up ingests the first [[WarmupBatches]] batches: batch 0 meets
  * empty stores and batch 1 is the first to probe filled ones, and both
  * run code no later batch runs for the first time. The measured loop
  * continues the sequence into the same root. Every batch must admit
  * exactly its fresh documents, so the admitted counts repeat for any
  * seed. */
object CorpusIngestLoad {
  val BatchSize = 100
  val WarmupBatches = 2
  // shares of each batch, in documents (the rest are fresh)
  val ExactDups = 6
  val NearDups = 8
  val SubstrOverlaps = 6
  val GateFailures = 5
  val Redelivered = 5
  val Fresh = BatchSize - ExactDups - NearDups - SubstrOverlaps - GateFailures - Redelivered

  /** Batches in the measured window: a fixed count for a given window
    * length (one per [[NominalBatchS]], about a warm batch on a 4-core
    * box, at least 2), so every run of that length measures the same batch
    * sequence against the same store sizes. */
  val NominalBatchS = 6.0
  /** Host-speed samples taken before each batch (the JVM is otherwise idle
    * between batches). */
  val SpeedSamples = 8
  def measuredBatches(seconds: Int): Int = math.max(2, math.round(seconds / NominalBatchS).toInt)

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** Seeded batch source over a pool of reference texts. */
  final class Generator(seed: Long, pool: IndexedSeq[Doc]) {
    private val rng = new SplittableRandom(seed)
    private var nextId = 1000000L
    private val fresh = ArrayBuffer.empty[Doc] // fresh texts of earlier batches
    private val sent = ArrayBuffer.empty[Doc]
    private val vocab = pool.flatMap(_.text.split(" ")).distinct.sorted

    private def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
    private def shuffled[T](xs: Array[T]): Array[T] = {
      val a = xs.clone()
      for (i <- a.indices.reverse) {
        val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    private def newDoc(text: String, like: Doc): Doc = {
      nextId += 1
      Doc(nextId, text, like.lang, like.source)
    }

    def batch(b: Int): Seq[Doc] = {
      val out = ArrayBuffer.empty[Doc]
      val batchFresh = (0 until Fresh).map { _ =>
        val src = pick(pool)
        newDoc(shuffled(src.text.split(" ")).mkString(" "), src)
      }
      out ++= batchFresh
      val older = fresh.toIndexedSeq ++ batchFresh
      // exact duplicates: a fresh text again under a new id
      for (_ <- 0 until ExactDups) { val d = pick(older); out += newDoc(d.text, d) }
      // near-duplicates: the last few tokens replaced
      for (_ <- 0 until NearDups) {
        val d = pick(older); val t = d.text.split(" ")
        val keep = t.take(t.length - 3) ++ Array.fill(2)(pick(vocab))
        out += newDoc(keep.mkString(" "), d)
      }
      // substring overlaps: 60% of a fresh text's tokens as one span,
      // then unrelated tokens (too little overlap for a near-duplicate)
      for (_ <- 0 until SubstrOverlaps) {
        val d = pick(older); val t = d.text.split(" ")
        val span = math.max(8, t.length * 6 / 10)
        val from = rng.nextInt(math.max(1, t.length - span + 1))
        val tail = shuffled(pick(pool).text.split(" ")).take(span * 2 / 3)
        out += newDoc((t.slice(from, from + span) ++ tail).mkString(" "), d)
      }
      // gate failures: too short for the quality gate
      for (_ <- 0 until GateFailures) {
        val d = pick(pool); out += newDoc(d.text.split(" ").take(20).mkString(" "), d)
      }
      // redelivered ids: rows of earlier batches sent again verbatim
      // (batch 0 redelivers its own rows, i.e. a same-id duplicate)
      val again = if (sent.nonEmpty) sent.toIndexedSeq else out.toIndexedSeq
      for (_ <- 0 until Redelivered) out += pick(again)
      fresh ++= batchFresh
      sent ++= out
      shuffled(out.toArray).toSeq
    }
  }

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("text", StringType)))

  private def frame(spark: SparkSession, docs: Seq[Doc]) =
    spark.createDataFrame(
      docs.map(d => Row(d.id, d.lang, d.source, d.text)).asJava, schema)

  private def dirStats(root: Path): (Double, Long) =
    if (!Files.exists(root)) (0.0, 0L)
    else {
      val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum / (1024.0 * 1024.0), files.size.toLong)
    }

  private def balanced(r: IngestPipeline.BatchReport): Boolean =
    r.nIn == r.absorbed + r.gateRejected + r.exactRejected + r.nearRejected +
      r.substrRejected + r.admitted

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    // the pool: reference texts that pass the quality gate (a token
    // shuffle keeps a text's gate verdict), so gate failures come only
    // from the generator's own share
    val docs0 = spark.read.parquet(ctx.args.data.resolve("documents.parquet").toString)
      .select("doc_id", "text", "lang", "source")
    val pool = docs0.join(CorpusIngest.gate(docs0).select("doc_id"), Seq("doc_id"), "left_semi")
      .orderBy("doc_id").collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toIndexedSeq
    val poolS = Probes.sinceJvmStart()
    var gen = new Generator(ctx.args.seed, pool)
    val batches = ArrayBuffer.empty[Seq[Doc]]
    def batchDocs(b: Int): Seq[Doc] = {
      while (batches.size <= b) batches += gen.batch(batches.size)
      batches(b)
    }

    /** One batch through the pipeline; the slice is pinned outside the
      * timer (the source read is the connector's cost). */
    final case class Done(b: Int, report: IngestPipeline.BatchReport, wallMs: Double,
        stagesMs: Map[String, Double], cpuMs: Double, host: Map[String, Long])
    def ingest(root: String, b: Int, item: String, docs: Seq[Doc]): Done = {
      val df = frame(spark, docs).localCheckpoint(true)
      df.count()
      HostSpeed.sample(SpeedSamples)
      val marks = ArrayBuffer.empty[(String, Long)]
      val (c0, h0) = (Probes.cpuNs(), Probes.hostCpuMs())
      val t0 = System.nanoTime()
      val rep = Ledger.withItem(spark, item) {
        IngestPipeline.mergeBatch(spark, df, root, b.toLong,
          afterStage = s => marks += (s -> System.nanoTime()))
      }
      val t1 = System.nanoTime()
      val (c1, h1) = (Probes.cpuNs(), Probes.hostCpuMs())
      // stages: "screens" runs from the batch start to the near-dup
      // commit, every later stage from the previous mark to its own
      val stages = marks.toSeq.zip(t0 +: marks.toSeq.map(_._2)).map {
        case ((s, t), prev) => (if (s == "neardup") "screens" else s, prev, t)
      }
      if (tracer.enabled) {
        val id = tracer.open()
        for ((s, a, z) <- stages) tracer.record(s"ingest.stage.$s", a, z, id, item)
        tracer.close(id, "ingest.mergeBatch", t0, t1, 0L, item)
      }
      Done(b, rep, (t1 - t0) / 1e6, stages.map { case (s, a, z) => s -> (z - a) / 1e6 }.toMap,
        (c1 - c0) / 1e6, Probes.hostCpuDelta(h0, h1))
    }

    // ---- set-up: the first batches into the root
    val rootPath = ctx.args.work.resolve("ingest")
    val root = rootPath.toString
    val warm = (0 until WarmupBatches).map(b => ingest(root, b, s"warm:$b", batchDocs(b)))
    val setupS = Probes.sinceJvmStart()
    HostSpeed.setupDone()

    // ---- measured window: the sequence continues into the same root
    val cpu0 = Probes.cpuNs()
    val (jit0, gc0) = (Probes.jitMs(), Probes.gcMs())
    HostSpeed.windowStarts()
    val win0 = System.nanoTime()
    val done = (WarmupBatches until WarmupBatches + measuredBatches(ctx.args.seconds))
      .map(b => ingest(root, b, s"batch:$b", batchDocs(b)))
    val win1 = System.nanoTime()
    HostSpeed.windowEnds()
    val cpuNs = Probes.cpuNs() - cpu0
    val (jitMs, gcMs) = (Probes.jitMs() - jit0, Probes.gcMs() - gc0)
    // the generator's buffers are benchmark input, not workload state
    batches.clear(); gen = null
    val memMb = Probes.retainedHeapMb()

    // ---- output checks
    val store = spark.read.parquet(IngestPipeline.corpusDir(root))
    val storeRows = store.count()
    val storeIds = store.select("doc_id").distinct().count()
    val admittedSum = (warm ++ done).map(_.report.admitted).sum
    val badBatches = done.count(d => !balanced(d.report) || d.report.nIn != BatchSize ||
      d.report.admitted != Fresh)
    val checks = Seq(
      "report_identity_every_batch" ->
        (badBatches == 0 && warm.forall(w => balanced(w.report))),
      // the fresh documents are the only ones the pipeline may admit, and
      // it must admit them all; so the admitted counts repeat for a seed
      "admitted_equals_fresh_every_batch" -> (warm ++ done).forall(_.report.admitted == Fresh),
      "store_rows_equal_admitted" -> (storeRows == admittedSum),
      "store_doc_id_unique" -> (storeIds == storeRows))
    val failed = badBatches + checks.count(!_._2)

    val docs = done.size.toLong * BatchSize
    val walls = done.map(_.wallMs)
    val windowS = (win1 - win0) / 1e9
    val endToEnd = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.median(walls),
      "latency_p90_ms" -> Stats.quantile(walls, 0.9),
      "throughput_per_s" -> docs / (walls.sum / 1000.0),
      "cpu_ms_per_item" -> cpuNs / 1e6 / docs,
      "mem_retained_mb" -> memMb)

    val perLayer: Map[String, Double] = if (!tracer.enabled) Map.empty else {
      def stage(s: String) = Stats.median(done.map(_.stagesMs.getOrElse(s, 0.0)))
      def total(f: IngestPipeline.BatchReport => Long) = done.map(d => f(d.report)).sum.toDouble
      val (mb, files) = dirStats(rootPath)
      val nIn = total(_.nIn)
      Map(
        "ingest.stage.screens_ms" -> stage("screens"),
        "ingest.stage.substr_ms" -> stage("substr"),
        "ingest.stage.index_ms" -> stage("index"),
        "ingest.stage.corpus_ms" -> stage("corpus"),
        "ingest.stage.stats_ms" -> stage("stats"),
        "ingest.absorbed" -> total(_.absorbed),
        "ingest.gate_rejected" -> total(_.gateRejected),
        "ingest.exact_rejected" -> total(_.exactRejected),
        "ingest.near_rejected" -> total(_.nearRejected),
        "ingest.substr_rejected" -> total(_.substrRejected),
        "ingest.admitted" -> total(_.admitted),
        "ingest.admit_ratio" -> (if (nIn > 0) total(_.admitted) / nIn else 0.0),
        "ingest.store_mb_end" -> mb,
        "ingest.store_files_end" -> files.toDouble
      ) ++ ctx.sparkLayer(done.map(d => s"batch:${d.b}").toSeq, windowS)
    }

    Outcome(docs, failed, checks, endToEnd, perLayer, Map(
      "batch_size" -> BatchSize, "warmup_batches" -> WarmupBatches,
      "shares" -> Map("exact" -> ExactDups, "near" -> NearDups, "substr" -> SubstrOverlaps,
        "gate" -> GateFailures, "redelivered" -> Redelivered),
      "pool_ready_s" -> poolS, "warmup_batch_wall_ms" -> warm.map(_.wallMs),
      "batches" -> done.size, "window_s" -> windowS,
      "batch_cpu_ms" -> done.map(_.cpuMs), "batch_host_ms" -> done.map(_.host),
      "batch_stage_ms" -> done.map(_.stagesMs), "jit_ms" -> jitMs, "gc_ms" -> gcMs, "batch_wall_ms" -> walls.toSeq,
      "reports" -> done.map(d => d.report.productIterator.toSeq).toSeq,
      "jobs_per_batch" -> ctx.ledger.map(_.totals(done.map(d => s"batch:${d.b}").toSeq).jobsPerItem)
        .getOrElse(Nil),
      "store_rows" -> storeRows))
  }
}
