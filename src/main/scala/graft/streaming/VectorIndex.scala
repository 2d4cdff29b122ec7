package graft.streaming

import graft.Pin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

/** PERSISTED, incrementally-maintained IVF vector index — the serving
  * face of the ANN tier (reference: the eos engine's continuously-fed
  * stores, README.md:96-104, applied to embeddings): `emb_ann_ivf`
  * computes assignment in-session per query run; a production vector
  * search pays that once at INGEST and serves every query from disk.
  *
  *   $store/centroids[@E]/      (cid, v, dot_self) — ≤k rows
  *   $store/vectors[@E]/cell=N/ (vec_id, v, dot_self) — one row per
  *                              vector, PARTITIONED BY ITS COARSE CELL
  *   (@E = the serving epoch `retrain` blue/green-swaps; unversioned
  *   names are the legacy epoch-less layout and keep working)
  *
  * The layout is the index: a search assigns its query to nprobe=2
  * cells and reads ONLY those `cell=` directories (file-source
  * partition pruning, plan-pinned) — at 100 TB and 1024 cells a query
  * touches ~0.2% of the corpus files, and the untouched partitions are
  * never listed past the directory level.
  *
  * Ingest is exactly-once by construction (the NearDupIngest /
  * Scd2Maintain discipline): batches dedup on vec_id, assignment is a
  * pure function of (vector, trained centroids) so a replayed vector
  * lands in the same cell, and the per-touched-cell anti-join absorbs
  * it — append-only, idempotent, out-of-order-safe. Per-batch work is
  * O(touched cells' ids + batch), never O(store): only touched cell
  * directories are listed for the anti-join (id column alone), and
  * untouched partitions stay byte-identical (spec-pinned).
  *
  * SEARCH ≡ the in-session query: VectorIndexSpec pins `search` over a
  * batched-ingest store bit-identical to `emb_ann_ivf`'s output — same
  * centroids, same single-pass assignment expression, same fold-order
  * cosine, same tie-break. The store is the only thing that moved. */
object VectorIndex {

  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  /** The two stores as every writer has always written them (`train`,
    * `retrain`, `mergeBatch`, `compact`, `forget`). The vectors' `cell`
    * is the partition directory, declared with the type partition
    * inference gives it (int). The ingest path reads through these
    * schemas, which skips the footer job that schema inference runs;
    * IngestPipelineSpec pins them to the written files. */
  val CentroidSchema: StructType = StructType(Seq(
    StructField("cid", LongType),
    StructField("v", ArrayType(DoubleType)),
    StructField("dot_self", DoubleType)))
  val VectorSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(DoubleType)),
    StructField("dot_self", DoubleType),
    StructField("cell", IntegerType)))

  /** EPOCH RESOLUTION — the blue/green layout `retrain` swaps between:
    * an epoch-N index lives at `centroids@N` / `vectors@N`; a store
    * with no epoch dirs uses the legacy unversioned names (epoch-less
    * stores keep working, no migration). The COMMIT POINT of an epoch
    * is the existence of its `vectors@N` directory — retrain renames
    * `centroids@N` into place FIRST, so whenever vectors@N exists its
    * centroids do too; the serving epoch is simply the highest N. A
    * crash mid-retrain leaves only `.tmp`-suffixed dirs or a lower
    * epoch serving — never a mixed centroid/assignment pair (a new
    * quantizer over an old layout would silently probe wrong cells). */
  private val EpochRe = "^vectors@(\\d+)$".r

  private def epochOf(spark: SparkSession, store: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val ns = fs.listStatus(p).flatMap(s => s.getPath.getName match {
      case EpochRe(n) => Some(n.toLong)
      case _ => None
    })
    if (ns.isEmpty) None else Some(ns.max)
  }

  private def centDir(spark: SparkSession, store: String): String =
    epochOf(spark, store) match {
      case Some(n) => s"$store/centroids@$n"
      case None => s"$store/centroids"
    }
  private def vecDir(spark: SparkSession, store: String): String =
    epochOf(spark, store) match {
      case Some(n) => s"$store/vectors@$n"
      case None => s"$store/vectors"
    }

  /** (vec_id, v double-view, ‖v‖²), zero-norm rows dropped — the same
    * normalized view the in-session ANN tier computes (uncached: ingest
    * batches are transient). */
  private def normed(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("dot_self",
        graft.operators.EmbeddingOps.dot(col("v"), col("v")))
      .filter(col("dot_self") > 0.0)

  /** Train the coarse quantizer: the k lowest-vec_id seed vectors
    * become the centroids (the deterministic data seed the whole IVF
    * tier uses; emb_ann_ivf2's integer Lloyd step is the refinement
    * path if the corpus warrants it). Bounded output (≤k rows). */
  def train(spark: SparkSession, seed: DataFrame, store: String,
      k: Int = 16): Unit =
    normed(seed).orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"), col("v"), col("dot_self"))
      .coalesce(1).write.mode("overwrite").parquet(centDir(spark, store))

  /** The trained centroids as bounded driver state (≤k rows — the same
    * collect class as the in-session init). */
  private def centroids(spark: SparkSession,
      store: String): Seq[(Long, Seq[Double], Double)] =
    spark.read.schema(CentroidSchema).parquet(centDir(spark, store))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1).toIndexedSeq

  /** Whether a coarse quantizer exists under the CURRENT epoch — the
    * entry-point probe for first-batch training. Callers must resolve
    * through this, never probe the legacy `centroids` path directly:
    * after `retrain`'s epoch swap only `centroids@N` exists, and a
    * legacy-path probe would re-train every batch — overwriting the
    * epoch's centroids while its `vectors@N` keep the old cell layout,
    * exactly the mixed state the epoch commit order exists to prevent. */
  def isTrained(spark: SparkSession, store: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(centDir(spark, store))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  private def vectorsExist(spark: SparkSession, store: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(vecDir(spark, store))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
  }

  /** Ingest one batch of (vec_id, embedding) rows. Returns vectors
    * actually added (replays/duplicates excluded).
    *
    * CONTRACT: a vec_id's embedding is IMMUTABLE — the exactly-once
    * anti-join checks only the batch's own touched cells (the
    * O(touched) property), so it absorbs verbatim replays but cannot
    * see a row for the same id filed under a DIFFERENT cell. A
    * re-embedded vector that assigns elsewhere would be double-indexed
    * and served twice. The update path for drifted embeddings is
    * therefore `forget(ids)` then re-ingest — the same
    * delete-then-insert contract every append-only vector store ships;
    * an in-place upsert would need a global id→cell map, O(corpus)
    * state this store deliberately does not keep. */
  def mergeBatch(spark: SparkSession, batch: DataFrame,
      store: String): Long = {
    resumePendingCompact(spark, store)
    // a store whose quantizer was dropped by the full-erasure scrub
    // (or never trained) SELF-HEALS here instead of throwing — a
    // throwing foreachBatch would replay and stall the maintain()
    // stream forever: the batch re-seeds the quantizer, the same
    // first-batch rule the composed pipeline applies
    if (!isTrained(spark, store)) train(spark, batch, store)
    val cents = centroids(spark, store)
    if (cents.isEmpty) return 0L // nothing indexable seeded a quantizer
    val assigned0 = normed(batch)
      .dropDuplicates("vec_id")
      .withColumn("cell", graft.plans.GraftFunctions
        .graftIvfAssign("v", cents)("cell"))
      // a vector whose dimensionality mismatches the centroids assigns
      // cell = NULL (IvfAssignTop2's contract); in the streaming entry
      // one such row would fail the touched-cells collect, the
      // checkpoint would replay the batch, and the stream would stall
      // permanently — drop it here, mirroring search's probe filter
      // (advice r6)
      .filter(col("cell").isNotNull)
    val (assigned, nAssigned) = Pin.counted(assigned0)
    if (nAssigned == 0L) return 0L
    // touched cells: bounded by k (the handful-of-ints collect class)
    val touched = assigned.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val (cur, nCur) =
      if (vectorsExist(spark, store))
        Pin.counted(
          spark.read.schema(VectorSchema).parquet(vecDir(spark, store))
            .filter(col("cell").isin(touched: _*))
            .select("vec_id"))
      else (spark.emptyDataFrame, 0L)
    val (fresh, applied) = Pin.counted(
      if (nCur == 0L) assigned
      else assigned.join(cur, Seq("vec_id"), "left_anti"))
    if (applied > 0)
      fresh.select("cell", "vec_id", "v", "dot_self")
        .write.mode("append").partitionBy("cell").parquet(vecDir(spark, store))
    applied
  }

  /** Serve top-k cosine neighbors for a frame of (vec_id, embedding)
    * queries from the persisted index: assign each query to its two
    * coarse cells, read ONLY the probed `cell=` partitions, exact
    * rerank. Output matches `emb_ann_ivf`'s schema/semantics
    * (self-matches excluded, ties to the lower vec_id).
    *
    * `restrict` (filtered ANN): an optional keep-set frame with a
    * `vec_id` column — probed-cell candidates are semi-joined against
    * it BEFORE the top-k rank, so every returned neighbor is in the
    * set and the k slots are not wasted on filtered-out vectors.
    * POST-filtering semantics, the standard trade: a highly selective
    * keep-set can leave fewer than k matches in the probed cells;
    * raising `nprobe` (below) or partitioning indexes by the filter
    * column is the production escalation. Candidates are already
    * bounded to the probed cells, so the semi-join's left side stays
    * small.
    *
    * `nprobe`: cells probed per query. 2 (the default) rides the
    * codegen'd IvfAssignTop2 expression and is bit-identical to
    * emb_ann_ivf; any other value scores the query against every
    * centroid with the composed form (query side only — queries are
    * the small frame; the same q·c − ½‖c‖² objective, ties to the
    * lower cid) and probes the top nprobe cells. nprobe = #centroids
    * degrades gracefully to exact brute-force search (spec-pinned) —
    * the recall escalation for selective `restrict` filters. */
  def search(spark: SparkSession, store: String, queries: DataFrame,
      k: Int = 3, restrict: Option[DataFrame] = None,
      nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    resumePendingCompact(spark, store)
    def emptyResult = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("q_id", LongType), StructField("cell", LongType),
        StructField("vec_id", LongType), StructField("rn", IntegerType),
        StructField("sim", DoubleType))))
    // a store whose quantizer was dropped by the full-erasure scrub
    // (or that was never trained) serves the EMPTY result — the same
    // contract as the trained-but-empty store below, not a
    // missing-path error
    if (!isTrained(spark, store)) return emptyResult
    val cents = centroids(spark, store)
    if (cents.isEmpty) return emptyResult
    val qBase = normed(queries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("dot_self").as("q_dot"))
    val q = (if (nprobe == 2) {
        val asg: Column = graft.plans.GraftFunctions
          .graftIvfAssign("qv", cents)
        qBase
          .withColumn("asg", asg)
          .withColumn("probe",
            explode(array(col("asg.cell"), col("asg.cell2"))))
          // a single-centroid quantizer assigns cell2 = null ("null iff
          // 1 centroid" — IvfAssignTop2's contract); the null probe can
          // never join, drop it before the collect below would NPE
          .filter(col("probe").isNotNull)
          .drop("asg")
      } else {
        // composed top-N assignment, query side only (the small frame;
        // ingest stays on the codegen'd top-2 expression): the same
        // q·c − ½‖c‖² objective IvfAssignTop2 maximizes, ties to the
        // lower cid
        import spark.implicits._
        val centsDf = broadcast(cents.toDF("cid", "cv", "c_dot"))
        val pw = Window.partitionBy("q_id")
          .orderBy(col("pscore").desc, col("cid"))
        qBase.crossJoin(centsDf)
          .withColumn("pscore",
            graft.operators.EmbeddingOps.dot(col("qv"), col("cv"))
              - lit(0.5) * col("c_dot"))
          .withColumn("prn", row_number().over(pw))
          .filter(col("prn") <= nprobe)
          .select(col("q_id"), col("qv"), col("q_dot"),
            col("cid").as("probe"))
      }).localCheckpoint(true)
    // a trained-but-empty store (no merge yet, or fully forgotten)
    // serves the EMPTY result, not an unreadable-path error
    if (!vectorsExist(spark, store)) return emptyResult
    // probed cells as LITERALS so the filter prunes at the directory
    // level — bounded by k centroids, not by query count
    val probed = q.select("probe").distinct().collect().map(_.getLong(0))
    // filter FIRST (on the inferred partition attribute — directory
    // pruning), then cast: partition-type inference reads `cell=N` as
    // int, but the served schema must match emb_ann_ivf's long
    val cand0 = spark.read.parquet(vecDir(spark, store))
      .filter(col("cell").isin(probed: _*))
      .withColumn("cell", col("cell").cast("long"))
    val cand = restrict match {
      case Some(keep) =>
        cand0.join(keep.select("vec_id").distinct(), Seq("vec_id"), "left_semi")
      case None => cand0
    }
    val sims = cand.join(broadcast(q), col("cell") === col("probe"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", graft.operators.EmbeddingOps.dot(col("qv"), col("v"))
        / (sqrt(col("q_dot")) * sqrt(col("dot_self"))))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "cell", "vec_id", "rn", "sim")
      .orderBy("q_id", "rn")
  }

  /** IVF BALANCE diagnostic — the index-side twin of the
    * events_key_skew pre-flight: per-cell vector counts, each cell's
    * share, and the max-to-mean skew factor (1.0 = perfectly uniform).
    * A drifted quantizer concentrates vectors in hot cells, which
    * degrades both probe cost (a probed hot cell scans a corpus-sized
    * partition) and recall (nprobe=2 covers less of the mass) — this
    * report is what decides when `retrain` is worth its O(store) cost.
    * Scale: reads the vec_id column only (column-pruned) and
    * aggregates to ≤k rows; the skew product is computed in DOUBLE
    * (the events_key_skew overflow lesson). */
  def stats(spark: SparkSession, store: String): DataFrame = {
    resumePendingCompact(spark, store)
    def emptyStats = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("cell", LongType), StructField("n_vectors", LongType),
        StructField("share", DoubleType),
        StructField("skew_factor", DoubleType))))
    if (!isTrained(spark, store) || !vectorsExist(spark, store))
      return emptyStats
    // EVERY trained cell is listed — empty ones at 0 — and the skew
    // denominator is the TRAINED cell count: dividing by the count of
    // non-empty cells would read total concentration into one cell
    // (the exact drift this diagnostic exists to detect) as a
    // perfectly uniform skew_factor of 1.0
    import spark.implicits._
    val cells = centroids(spark, store).map(_._1).toDF("cell")
    val counts = spark.read.parquet(vecDir(spark, store))
      .select(col("cell").cast("long").as("cell"), col("vec_id"))
      .groupBy("cell").agg(count(lit(1)).as("n_vectors"))
    val w = Window.partitionBy()
    cells.join(counts, Seq("cell"), "left")
      .withColumn("n_vectors", coalesce(col("n_vectors"), lit(0L)))
      .withColumn("n_rows", sum(col("n_vectors")).over(w))
      .withColumn("n_cells", count(lit(1)).over(w))
      .withColumn("mx", max(col("n_vectors")).over(w))
      .select(col("cell"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("n_rows")).as("share"),
        (col("mx").cast("double") * col("n_cells") / col("n_rows"))
          .as("skew_factor"))
      .orderBy(col("n_vectors").desc, col("cell"))
  }

  /** Compact the per-batch file accumulation to one file per cell —
    * the same staged-rewrite + delete/rename swap as
    * `Scd2Maintain.compactLog`: a crash before the swap leaves the
    * live store untouched; an interrupted swap (live gone, stage
    * present) is resumed by the next merge/search. O(store), at the
    * operator's command. */
  def compact(spark: SparkSession, store: String): Unit = {
    val stage = s"${vecDir(spark, store)}.compact"
    if (resumePendingCompact(spark, store)) return
    if (!vectorsExist(spark, store)) return
    StagedSwap.clearStale(spark, stage)
    spark.read.parquet(vecDir(spark, store))
      .withColumn("cell", col("cell").cast("long"))
      .repartition(col("cell"))
      .write.partitionBy("cell").parquet(stage)
    StagedSwap.commit(spark, vecDir(spark, store), stage)
  }

  /** Resume an interrupted compaction swap. Stages are located BY NAME
    * (any `vectors[@N].compact` under the store), not through epoch
    * resolution: the interrupted swap deleted the live dir, so the
    * resolver cannot see the epoch whose stage is pending. */
  private def resumePendingCompact(spark: SparkSession,
      store: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val stageRe = "^(vectors(?:@\\d+)?)\\.compact$".r
    fs.listStatus(p).map(_.getPath.getName).foldLeft(false) {
      case (acc, stageRe(live)) =>
        StagedSwap.resume(spark, s"$store/$live",
          Seq(s"$store/$live.compact")) || acc
      case (acc, _) => acc
    }
  }

  /** OFFLINE RETRAIN — rebuild the coarse quantizer from the store's
    * OWN vectors and re-lay every assignment: the production answer to
    * quantizer drift (the ingest-time centroids were seeded from the
    * first batch; as the corpus grows the seed stops reflecting the
    * distribution and cell sizes skew). Re-seeds from the k lowest
    * vec_ids (the deterministic init every IVF face uses), refines
    * with `lloydIters` mean-recentering steps (per-cell element-wise
    * means — k×dim rows collected per step, the bounded-driver-state
    * class; empty cells keep their previous centroid), then writes the
    * NEXT EPOCH beside the serving one and commits blue/green: stage
    * dirs under `.tmp` names, rename centroids@N+1 first, vectors@N+1
    * last (the commit point), then best-effort delete of older epochs
    * and strays. A crash at any point leaves the old epoch serving —
    * never a new quantizer over an old layout. O(store) by nature (it
    * rewrites the index); run at the compaction cadence, with ingest
    * quiesced (the single-maintainer contract every offline op here
    * shares). */
  def retrain(spark: SparkSession, store: String, k: Int = 16,
      lloydIters: Int = 1): Unit = {
    resumePendingCompact(spark, store)
    if (!vectorsExist(spark, store)) return
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = spark.read.parquet(vecDir(spark, store))
      .select("vec_id", "v", "dot_self")
      .localCheckpoint(true)
    // deterministic seed, then bounded Lloyd refinement
    var cents: Seq[(Long, Seq[Double], Double)] =
      cur.orderBy("vec_id").limit(k)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
        .toIndexedSeq
    for (_ <- 0 until lloydIters) {
      val dim = cents.head._2.length
      val means = cur
        .withColumn("cell", graft.plans.GraftFunctions
          .graftIvfAssign("v", cents)("cell"))
        .filter(col("cell").isNotNull)
        .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cell", "i").agg(avg(col("x")).as("m"))
        .collect() // ≤ k×dim rows — bounded driver state
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          val v = new Array[Double](dim)
          rows.foreach(r => v(r.getInt(1)) = r.getDouble(2))
          cell -> v.toSeq
        }
      cents = cents.map { case (cid, oldV, oldD) =>
        means.get(cid) match {
          case Some(v) => (cid, v, v.map(x => x * x).sum)
          case None => (cid, oldV, oldD) // empty cell: keep centroid
        }
      }
    }
    val next = epochOf(spark, store).getOrElse(0L) + 1L
    val (cLive, xLive) = (s"$store/centroids@$next", s"$store/vectors@$next")
    StagedSwap.clearStale(spark, s"$cLive.tmp")
    StagedSwap.clearStale(spark, s"$xLive.tmp")
    import spark.implicits._
    cents.toDF("cid", "v", "dot_self")
      .coalesce(1).write.parquet(s"$cLive.tmp")
    cur.withColumn("cell", graft.plans.GraftFunctions
        .graftIvfAssign("v", cents)("cell"))
      .filter(col("cell").isNotNull)
      .select("cell", "vec_id", "v", "dot_self")
      .repartition(col("cell"))
      .write.partitionBy("cell").parquet(s"$xLive.tmp")
    // a crashed earlier attempt may have orphaned centroids@next (its
    // vectors never committed, or epochOf would have resolved past it);
    // an orphan left in place would make the rename below a silent
    // no-op and pair this run's assignment with stale centroids
    fs.delete(new org.apache.hadoop.fs.Path(cLive), true)
    // centroids first, vectors last = the commit point
    fs.rename(new org.apache.hadoop.fs.Path(s"$cLive.tmp"),
      new org.apache.hadoop.fs.Path(cLive))
    fs.rename(new org.apache.hadoop.fs.Path(s"$xLive.tmp"),
      new org.apache.hadoop.fs.Path(xLive))
    ()
    // best-effort cleanup of superseded epochs / legacy dirs / strays
    val keep = Set(s"centroids@$next", s"vectors@$next")
    fs.listStatus(new org.apache.hadoop.fs.Path(store)).foreach { s =>
      val n = s.getPath.getName
      if (!keep(n) && (n.startsWith("centroids") || n.startsWith("vectors")))
        fs.delete(s.getPath, true)
    }
  }

  /** KEYED DELETION — the right-to-erasure face for embeddings (a
    * vector IS derived personal data when the document was): purge the
    * given vec_ids from their cell partitions only, dropping any cell
    * directory the deletion empties. Idempotent; returns vectors
    * removed. Touched cells are found by re-assigning nothing — the
    * ids' cells are discovered from the store itself with a pruned
    * id-only scan.
    *
    * Crash window: the rewrite is in-place (dynamic overwrite of the
    * victims' cells, like Scd2Maintain.forgetKeys, not a staged swap)
    * — a crash mid-way leaves some cells purged and others not, but
    * the direction is CONVERGENT: re-running `forget` with the same
    * ids purges the remainder and cannot resurrect anything, so the
    * operator's retry-on-failure completes the erasure. A staged swap
    * would add crash atomicity at O(store) cost per deletion; the
    * convergence argument is why the cheaper per-cell rewrite is
    * sound here too. */
  def forget(spark: SparkSession, store: String, ids: Seq[Long]): Long = {
    if (ids.isEmpty) return 0L
    // resume BEFORE the existence probe: after an interrupted
    // compaction swap the live dir is missing and a probe-first
    // erasure call would silently no-op — then the next merge/search
    // resumes the stage and serves the supposedly-erased vectors again
    resumePendingCompact(spark, store)
    val removed = purgeVectors(spark, store, ids)
    // AFTER the vector purge, and on every call regardless of whether
    // it removed anything (a retry of a run that crashed between purge
    // and scrub must still complete the scrub): the quantizer's seed
    // vectors ARE documents' embeddings (cid = the seed doc's vec_id,
    // v = its embedding verbatim — train and retrain both seed this
    // way), so erasing a seed doc must not leave its embedding on disk
    // in centroids — the same "derived content" obligation stated for
    // the vectors. Rebuild the quantizer from the remaining corpus
    // (blue/green retrain — erasure is already the rare, audited
    // O(store) operation); an emptied store drops the quantizer dirs
    // instead (nothing remains to seed from), returning it to the
    // untrained state.
    val cents = if (isTrained(spark, store)) centroids(spark, store) else Nil
    if (cents.exists(c => ids.contains(c._1))) {
      // preserve the quantizer's cell count — a k=16 default here would
      // silently resize an index trained/retrained with a different k
      if (vectorsExist(spark, store)) retrain(spark, store, k = cents.size)
      else {
        val fs = new org.apache.hadoop.fs.Path(store)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(new org.apache.hadoop.fs.Path(store)).foreach { s =>
          if (s.getPath.getName.startsWith("centroids"))
            fs.delete(s.getPath, true)
        }
      }
    }
    removed
  }

  private def purgeVectors(spark: SparkSession, store: String,
      ids: Seq[Long]): Long = {
    if (!vectorsExist(spark, store)) return 0L
    val all = spark.read.parquet(vecDir(spark, store))
    val touched = all.filter(col("vec_id").isin(ids: _*))
      .select("cell").distinct().collect()
      .map(_.get(0).toString.toLong).toSeq
    if (touched.isEmpty) return 0L
    val cur = all.filter(col("cell").isin(touched: _*))
      .localCheckpoint(true)
    val kept = cur.filter(!col("vec_id").isin(ids: _*))
      .localCheckpoint(true)
    val removed = cur.count() - kept.count()
    if (removed == 0L) return 0L
    kept.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell")
      .parquet(vecDir(spark, store))
    val present = kept.select("cell").distinct().collect()
      .map(_.get(0).toString.toLong).toSet
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.filterNot(present).foreach { c =>
      val d = new org.apache.hadoop.fs.Path(s"${vecDir(spark, store)}/cell=$c")
      if (fs.exists(d)) fs.delete(d, true)
    }
    removed
  }

  /** Streaming entry: JSON (vec_id, embedding) directory → index. */
  def maintain(spark: SparkSession, srcDir: String, store: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    spark.readStream.schema(embeddingSchema).json(srcDir)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(batch.sparkSession, batch, store)
        ()
      }
}
