package graft.streaming

import graft.Pin
import graft.operators.{MinHashOps, TextOps}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming NEAR-duplicate ingestion — the scale path CorpusIngest's
  * exact-dedup leaves open: documents arrive continuously, each batch
  * is screened against the PERSISTED corpus near-dup artifact
  * (MinHashOps.writeNearDupArtifact layout) AND against itself, and
  * only documents that are not near-duplicates of anything admitted so
  * far enter the corpus — whose artifact then grows by exactly the
  * admitted documents' shingle sets and band postings.
  *
  * Per batch the corpus side pays ONE df-cut count pass + one
  * band-bucket equi-join against postings read off disk (only the
  * batch computes signatures — the incremental asymmetry), and the
  * batch screens itself with the symmetric sweep (batches are small;
  * the corpus is never self-paired). Replay safety is the same
  * idempotent-key construction as CorpusIngest: admitted docs anti-join
  * the artifact on doc_id before the append, so a replayed micro-batch
  * appends nothing and re-derives the same rejections.
  */
object NearDupIngest {

  val Threshold = 0.5

  private def dirExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  /** Resume an interrupted stage→live swap (compactArtifact's `.tmp`,
    * the composed pipeline's `.forget`) BEFORE any live-dir existence
    * probe — StagedSwap's contract: probing first silently no-ops on a
    * mid-swap artifact, the cross screen degrades to within-batch, and
    * a later stale-stage delete would drop the only copy. */
  private def resumeSwaps(spark: SparkSession, artifact: String): Unit =
    for (sub <- Seq("grams", "postings")) {
      val live = s"$artifact/$sub"
      StagedSwap.resume(spark, live, Seq(s"$live.tmp", s"$live.forget"))
    }

  /** Both halves present — the only state in which the cross-screen may
    * read the artifact (a half-written artifact from the crash window
    * below must not fail the batch with a read error; it degrades to
    * the no-corpus path and heals on the replay). */
  private def artifactExists(spark: SparkSession, artifact: String): Boolean = {
    resumeSwaps(spark, artifact)
    dirExists(spark, s"$artifact/grams") && dirExists(spark, s"$artifact/postings")
  }

  /** Screen one batch and admit its non-near-dup documents into the
    * artifact. Returns (admitted, rejected) doc counts — admitted =
    * grams rows actually APPENDED (0 on a verbatim replay).
    *
    * Crash atomicity (advice r4): grams and postings are two separate
    * appends with no transaction between them, so each append is made
    * INDEPENDENTLY idempotent — the grams append anti-joins the doc_ids
    * already in grams, the postings append anti-joins the doc_ids
    * already in postings. A crash between the writes leaves a doc in
    * grams with no postings; the replayed micro-batch (Structured
    * Streaming's replay unit) then skips the grams append and performs
    * ONLY the missing postings append, converging to the crash-free
    * artifact. `repairArtifact` covers the no-replay path (checkpoint
    * lost): postings re-derive from the stored grams alone. The
    * `afterGramsAppend` hook exists for the crash-injection spec. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, artifact: String,
      dfCap: Int = TextOps.DfCap,
      afterGramsAppend: () => Unit = () => ()): (Long, Long) = {
    val (batchGrams0, batchPostings0) =
      MinHashOps.bandPostings(spark, batch, cache = false)
    // each micro-batch is consumed by several passes (within-batch
    // screen, cross screen, append) — pin it once instead of
    // re-deriving signatures per pass; localCheckpoint, not cache():
    // no session-lifetime registration to leak across batches
    val batchGrams = batchGrams0.localCheckpoint(true)
    val batchPostings = batchPostings0.localCheckpoint(true)

    // within-batch near-dups: keep the min doc_id of every pair
    val selfPairs = MinHashOps.pairsFromPostings(
        spark, batchGrams, batchPostings, dfCap)
      .filter(col("jaccard") >= Threshold)
      .select(greatest(col("d1"), col("d2")).as("doc_id")).distinct()
    // cross near-dups vs the persisted corpus artifact
    val crossRejects =
      if (artifactExists(spark, artifact))
        MinHashOps.incrementalNearDupVsArtifact(spark, artifact, batch, dfCap,
            batchSides = Some((batchGrams, batchPostings)))
          .filter(col("jaccard") >= Threshold)
          .select(col("d2").as("doc_id")).distinct()
      else selfPairs.limit(0)
    val (rejects, nRejected) =
      Pin.counted(selfPairs.union(crossRejects).distinct())

    val admittedGrams = batchGrams.join(rejects, Seq("doc_id"), "left_anti")
    val admittedPost = batchPostings.join(rejects, Seq("doc_id"), "left_anti")
    val nAdmitted = admit(spark, batch, artifact,
      batchSides = Some((admittedGrams, admittedPost)),
      afterGramsAppend = afterGramsAppend)
    (nAdmitted, nRejected)
  }

  /** The ADMISSION half for PRE-SCREENED docs (the composed-pipeline
    * face, r6 verdict #5): append their grams and band postings with
    * the per-table idempotent anti-joins. Replay idempotence, PER
    * TABLE: each append keys its anti-join on its OWN table's doc_ids,
    * so the two appends need no shared commit point — any prefix of
    * them re-run converges (the doc_id scans are column-pruned slim
    * reads; a production manifest table would replace them). Returns
    * docs actually appended to grams. */
  def admit(spark: SparkSession, docs: DataFrame, artifact: String,
      batchSides: Option[(DataFrame, DataFrame)] = None,
      afterGramsAppend: () => Unit = () => ()): Long = {
    resumeSwaps(spark, artifact) // never append beside a mid-swap stage
    val (admittedGrams, admittedPost) = batchSides.getOrElse {
      val (g, p) = MinHashOps.bandPostings(spark, docs, cache = false)
      (g.localCheckpoint(true), p.localCheckpoint(true))
    }
    // the anti-join's store side is pre-filtered to the batch's own ids
    // (bounded literals): on the doc_id-range-laid compacted artifact a
    // batch of genuinely new ids skips every file from footer stats —
    // the replay probe costs O(batch), not O(store). Past the literal
    // threshold (an out-of-band bulk load) the probe falls back to the
    // full column-pruned anti-join.
    val batchIds = admittedGrams.select("doc_id")
      .limit(MinHashOps.ProbeIsinThreshold + 1)
      .collect().map(_.getLong(0)).toSeq
    val useIsin = batchIds.length <= MinHashOps.ProbeIsinThreshold
    def storeIds(sub: String, schema: StructType): DataFrame = {
      val all = spark.read.schema(schema).parquet(s"$artifact/$sub")
        .select("doc_id")
      (if (useIsin) all.filter(col("doc_id").isin(batchIds: _*)) else all)
        .distinct()
    }
    val freshGrams0 =
      if (dirExists(spark, s"$artifact/grams") && batchIds.nonEmpty)
        admittedGrams.join(storeIds("grams", MinHashOps.GramsSchema),
          Seq("doc_id"), "left_anti")
      else admittedGrams
    val (freshGrams, nAdmitted) = Pin.counted(freshGrams0)
    if (nAdmitted > 0)
      freshGrams.write.mode(SaveMode.Append).parquet(s"$artifact/grams")
    afterGramsAppend()
    val freshPost0 =
      if (dirExists(spark, s"$artifact/postings") && batchIds.nonEmpty)
        admittedPost.join(storeIds("postings", MinHashOps.PostingsSchema),
          Seq("doc_id"), "left_anti")
      else admittedPost
    val (freshPost, nFreshPost) = Pin.counted(freshPost0)
    if (nFreshPost > 0)
      freshPost.write.mode(SaveMode.Append).parquet(s"$artifact/postings")
    nAdmitted
  }

  /** SCREEN-ONLY face (the composed-pipeline half, r6 verdict #5):
    * rejected doc_ids for a batch without admitting anything. Unlike
    * the standalone mergeBatch — whose replay ABSORBS a re-delivered
    * doc by letting it match its own artifact entry — cross matches
    * where the stored doc IS the probing doc are EXCLUDED, so verdicts
    * re-derive identically after a partial admission (the replay-
    * stability the composed pipeline's crash matrix needs; same
    * own-doc rule as SubstrIngest). */
  def screenRejects(spark: SparkSession, batch: DataFrame, artifact: String,
      dfCap: Int = TextOps.DfCap,
      batchSides: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (batchGrams, batchPostings) = batchSides.getOrElse {
      val (g, p) = MinHashOps.bandPostings(spark, batch, cache = false)
      (g.localCheckpoint(true), p.localCheckpoint(true))
    }
    val selfPairs = MinHashOps.pairsFromPostings(
        spark, batchGrams, batchPostings, dfCap)
      .filter(col("jaccard") >= Threshold)
      .select(greatest(col("d1"), col("d2")).as("doc_id")).distinct()
    val crossRejects =
      if (artifactExists(spark, artifact))
        MinHashOps.incrementalNearDupVsArtifact(spark, artifact, batch, dfCap,
            batchSides = Some((batchGrams, batchPostings)))
          .filter(col("jaccard") >= Threshold)
          .filter(col("d1") =!= col("d2")) // own-doc exclusion
          .select(col("d2").as("doc_id")).distinct()
      else selfPairs.limit(0)
    selfPairs.union(crossRejects).distinct()
  }

  /** Re-derive missing postings from the stored grams — recovery for a
    * crash window that was never replayed (checkpoint lost, manual
    * surgery): any doc present in grams but absent from postings gets
    * its band postings recomputed FROM THE STORED GRAMS (the signature
    * derives from the grams column alone, so no text re-read) and
    * appended. Idempotent; a healthy artifact is a no-op. Returns the
    * number of repaired docs. */
  def repairArtifact(spark: SparkSession, artifact: String): Long = {
    resumeSwaps(spark, artifact)
    if (!dirExists(spark, s"$artifact/grams")) return 0L
    val grams = spark.read.parquet(s"$artifact/grams")
    val orphans0 =
      if (dirExists(spark, s"$artifact/postings"))
        grams.join(
          spark.read.parquet(s"$artifact/postings").select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")
      else grams
    val (orphans, n) = Pin.counted(orphans0)
    if (n > 0) MinHashOps.postingsFromGrams(spark, orphans)
      .write.mode(SaveMode.Append).parquet(s"$artifact/postings")
    n
  }

  /** Compact the artifact's file sets — the append-per-batch layout
    * grows one parquet file set per micro-batch forever (VERDICT r4
    * next-round #6), and a long-lived stream would drown planning in
    * footers. Rewrites each half through CorpusSink.writeRangeLayout
    * (grams range-laid on doc_id, postings on band_hash so a bucket's
    * rows cluster) into a BOUNDED file count, staged in a sibling tmp
    * dir and swapped in with two renames — a crash before the swap
    * leaves the live artifact untouched; a crash between delete and
    * rename is resumed by the `.tmp` probe at the next compaction. */
  def compactArtifact(spark: SparkSession, artifact: String,
      nFiles: Int = 4): Unit = {
    // fail fast regardless of store state — the same construction
    // message as compactAll's guard, not an opaque repartition error
    // (and not a silent no-op on a not-yet-created artifact)
    require(nFiles >= 1,
      s"nFiles must be >= 1 (the rewrite's target file count), got $nFiles")
    // heals `.tmp` AND `.forget` mid-swaps (the pipeline's keyed
    // erasure stages its rewrites under `.forget` — an entry that
    // resumed only its own tmp would leave a crashed erasure's store
    // reading as absent and silently skip the compaction)
    resumeSwaps(spark, artifact)
    val conf = spark.sparkContext.hadoopConfiguration
    for ((sub, key) <- Seq("grams" -> "doc_id", "postings" -> "band_hash")) {
      val live = new org.apache.hadoop.fs.Path(s"$artifact/$sub")
      val tmp = new org.apache.hadoop.fs.Path(s"$artifact/$sub.tmp")
      val fs = live.getFileSystem(conf)
      if (fs.exists(live)) {
        if (fs.exists(tmp)) fs.delete(tmp, true) // stale stage
        graft.sources.CorpusSink.writeRangeLayout(
          spark.read.parquet(live.toString), tmp.toString, key, nFiles)
        fs.delete(live, true)
        fs.rename(tmp, live)
        ()
      }
    }
  }

  /** Streaming entry: JSON documents directory → screened corpus
    * artifact. */
  def ingest(spark: SparkSession, srcDir: String, artifact: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    spark.readStream.schema(CorpusIngest.docSchema).json(srcDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(batch.sparkSession, batch, artifact)
        ()
      }
}
