package graft.streaming

import graft.Pin
import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The COMPOSED streaming ingest — the maintainers wired as ONE
  * foreachBatch DAG under a single checkpoint (r6 verdict #5), the way
  * production actually runs them:
  *
  *   raw batch
  *     → quality/PII gate            (CorpusIngest.gate — stateless)
  *     → exact-text screen           (fingerprint vs corpus store)
  *     → near-duplicate screen       (NearDupIngest.screenRejects)
  *     → exact-substring screen      (SubstrIngest.screen)
  *     → survivors admitted to corpus store + near-dup artifact +
  *       substring hash store + vector index (hashed-doc embeddings)
  *     → governance counters          (CorpusStats, batchId-gated)
  *
  * COHERENCE is the invariant the composition adds over the parts: a
  * document's text enters the corpus store iff its shingles enter the
  * near-dup artifact iff its K-gram hashes enter the substring store
  * iff its embedding enters the index (zero-norm texts excepted — they
  * have no indexable vector). Run separately, a doc rejected by a LATER
  * screen would still have been admitted into an EARLIER screen's
  * state, over-rejecting future texts against corpus entries that do
  * not exist. Screens therefore CASCADE (each sees only the survivors
  * of the previous) and every store admits the same final survivor set.
  *
  * EXACTLY-ONCE across five stores with no cross-store transaction:
  * the DOOR drops a replayed doc whose id the corpus already holds
  * (its batch-peer rejections transfer to the store screens — its
  * fp/postings/hashes are stored), every screen is REPLAY-STABLE —
  * own-doc matches are excluded (the exact screen matches store
  * fingerprints only under a different doc_id; the near/substr
  * screens carry the same rule), so after ANY prefix of the
  * admissions committed, a replayed batch re-derives the SAME
  * survivor set — and every admission is independently idempotent
  * (per-table doc_id / (doc_id,h) / vec_id anti-joins, the batchId
  * gate for the additive counters). A crash between any two stage
  * commits converges on replay to the crash-free state; the spec's
  * crash matrix injects a failure after every stage. The stats gate
  * runs LAST so its batchId records only fully-admitted batches.
  *
  * Scale: the screens inherit their components' bounds — the gate is
  * shuffle-free per-row arithmetic, the exact and substring screens
  * are bloom-pre-screened (BloomSide: a batch of fresh text reads ZERO
  * store bytes), the near-dup screen's postings/grams reads are
  * bounded by the batch's band keys and candidate ids, and the index
  * writes only touched cells. Nothing in the composition pays a
  * corpus-sized pass per batch. What a small batch does pay is a fixed
  * cost per Spark job, so no job only counts rows or infers a schema:
  * every report count is taken by the job that pins its frame
  * (graft.Pin), and every store probe reads through the store's
  * declared schema. A warm 100-doc batch runs ~105 jobs;
  * IngestPipelineSpec gates the count for its filled-store batch. */
object IngestPipeline {

  /** Per-batch admission accounting. `nIn` counts RAW arrivals;
    * `absorbed` counts rows the DOOR dropped before any screen — a
    * same-doc_id duplicate inside the batch, or a doc_id some store
    * already holds (re-delivery, verbatim or changed) — so the
    * identity `nIn = absorbed + gateRejected + exactRejected +
    * nearRejected + substrRejected + admitted` always holds. */
  final case class BatchReport(nIn: Long, absorbed: Long,
      gateRejected: Long, exactRejected: Long, nearRejected: Long,
      substrRejected: Long, admitted: Long)

  private def dirExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  def corpusDir(root: String): String = s"$root/corpus"
  def nearDir(root: String): String = s"$root/neardup"
  def substrDir(root: String): String = s"$root/substr"
  def indexDir(root: String): String = s"$root/index"
  def statsFile(root: String): String = s"$root/stats.tsv"

  /** The pinned per-stage frames of ONE batch's screen cascade — the
    * single derivation both faces consume: `mergeBatch` (streaming,
    * real stores) adds the admissions and reports the counts; `cascade`
    * (the oracle-checked batch query) reads the stage memberships and
    * ignores the counts. Every frame is localCheckpointed, and each
    * stage count is taken by the job that pins its frame (Pin.counted),
    * so no stage count launches a job of its own. */
  private[streaming] final case class ScreenState(
      gated: DataFrame,    // gate survivors
      docs1: DataFrame,    // + exact-screen survivors
      nearRej: DataFrame,  // (doc_id) near-dup rejections among docs1
      docs2: DataFrame,    // + near-screen survivors
      substrRej: DataFrame, // (doc_id) substring rejections among docs2
      survivors: DataFrame, // the screens' survivor set — stored
                            // doc_ids were already dropped at
                            // mergeBatch's DOOR, before the screens
      grams: DataFrame, postings: DataFrame,
      substrProbe: SubstrIngest.BatchProbe,
      nGated: Long, nDocs1: Long, nNearRej: Long, nSubstrRej: Long,
      nSurvivors: Long)

  /** Gate → exact → near-dup → substring, each screen seeing only the
    * previous screen's survivors, every store probe own-doc-excluded
    * (replay stability). Against ABSENT stores this degrades to the
    * pure within-batch semantics the `doc_ingest_cascade` oracle
    * re-derives in SQL. */
  private def runScreens(spark: SparkSession, pinned: DataFrame,
      root: String, dfCap: Int, k: Int): ScreenState = {
    val corpus = corpusDir(root)
    // resume an interrupted compactAll/forget swap of the corpus store
    // BEFORE the existence probes below (StagedSwap's contract) — a
    // mid-swap corpus would otherwise read as absent: the exact screen
    // degrades, duplicates are admitted, and the recreated live dir
    // would strand (then lose, at the next clearStale) the only copy.
    // The near-dup and substring components resume their own stages.
    StagedSwap.resume(spark, corpus, Seq(s"$corpus.stage", s"$corpus.forget"))

    // 1. stateless quality/PII gate
    val (gated, nGated) = Pin.counted(CorpusIngest.gate(pinned))

    // 2. exact-text screen: one keeper per fingerprint within the batch
    // (lowest doc_id), plus any store fingerprint held by a DIFFERENT
    // doc_id (own-doc exclusion — replay stability). The store probe is
    // CorpusIngest.probeStore — the same bloom-bounded probe the
    // standalone maintainer uses (a batch of fresh texts reads zero
    // corpus bytes).
    val fped = gated.withColumn("fp", md5(col("text").cast("binary")))
    val w = Window.partitionBy("fp").orderBy("doc_id")
    val keepers = fped.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val keepFp = keepers.select("doc_id", "fp")
    val exactHits = CorpusIngest.probeStore(spark, keepFp, corpus)
    val exactCross = keepFp
      .join(exactHits, Seq("fp"))
      .filter(col("doc_id") =!= col("store_doc"))
      .select("doc_id").distinct()
    val (docs1, nDocs1) =
      Pin.counted(keepers.join(exactCross, Seq("doc_id"), "left_anti"))

    // 3. near-duplicate screen (cascaded: exact survivors only). The
    // band signatures are derived ONCE and pinned — the screen and the
    // admission both consume them
    val (grams1, post1) = {
      val (g, p) = graft.operators.MinHashOps.bandPostings(
        spark, docs1, cache = false)
      (g.localCheckpoint(true), p.localCheckpoint(true))
    }
    val (nearRej, nNearRej) = Pin.counted(
      NearDupIngest.screenRejects(spark, docs1, nearDir(root),
        dfCap, batchSides = Some((grams1, post1))))
    val docs2 = docs1.join(nearRej, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)

    // 4. exact-substring screen (cascaded again) — one gram derivation
    // + one store probe, shared with the admission
    val substrProbe = SubstrIngest.probe(spark, docs2, substrDir(root), k)
    val (substrRej, nSubstrRej) = Pin.counted(SubstrIngest
      .screenWith(spark, docs2, substrDir(root), k, substrProbe)
      .filter(col("reject")).select("doc_id"))
    val (survivors, nSurvivors) =
      Pin.counted(docs2.join(substrRej, Seq("doc_id"), "left_anti"))
    ScreenState(gated, docs1, nearRej, docs2, substrRej, survivors,
      grams1, post1, substrProbe,
      nGated, nDocs1, nNearRej, nSubstrRej, nSurvivors)
  }

  /** Cadence-knob validation shared by [[mergeBatch]] and [[ingest]]
    * (mirrors Scd2Maintain.MaintainPolicy's construction guard): a
    * non-finite growth factor silently disables the sweep it claims
    * to schedule (Inf never fires; NaN reads as cadence-off), and a
    * NEGATIVE growth or compactEvery also reads as cadence-off — in
    * every case a policy the caller believes is maintaining isn't.
    * The documented off values are exactly 0. compactFiles has NO off
    * value — it is the sweep's target file count, so a degenerate 0 or
    * negative would pass construction and only fail inside
    * compactAll's repartition(nFiles) at the first sweep, mid-stream:
    * the same fails-late class (r15 ADVICE). */
  private def requireCadence(compactEvery: Int,
      compactGrowth: Double, compactFiles: Int): Unit = {
    require(!compactGrowth.isNaN && !compactGrowth.isInfinite &&
      compactGrowth >= 0.0,
      s"compactGrowth must be finite and >= 0 (0 = off), got $compactGrowth")
    require(compactEvery >= 0,
      s"compactEvery must be >= 0 (0 = off), got $compactEvery")
    require(compactFiles >= 1,
      s"compactFiles must be >= 1 (the sweep's target file count), " +
        s"got $compactFiles")
  }

  /** Run one micro-batch through the full DAG. `afterStage` fires after
    * each store commits ("neardup", "substr", "index", "corpus",
    * "stats") — the crash-injection seam for the spec's matrix. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, root: String,
      batchId: Long, dfCap: Int = TextOps.DfCap, k: Int = TextOps.SubstrK,
      afterStage: String => Unit = _ => (),
      compactEvery: Int = 0, compactFiles: Int = 4,
      compactGrowth: Double = 0.0): BatchReport = {
    // same construction-time guards as Scd2Maintain.MaintainPolicy
    requireCadence(compactEvery, compactGrowth, compactFiles)
    val corpus = corpusDir(root)
    // resume-before-probe (StagedSwap's contract) for the DOOR's
    // stored-id probe below: a corpus mid-compaction/erasure swap
    // would read as absent, the guard would silently no-op, and a
    // re-delivered stored id would append a duplicate corpus row
    // (runScreens resumes again — idempotent — for its own probes)
    StagedSwap.resume(spark, corpus, Seq(s"$corpus.stage", s"$corpus.forget"))
    // the raw batch feeds the governance rollup — pin it once
    val (rawPinned, nIn) = Pin.counted(batch)
    if (nIn == 0) return BatchReport(0, 0, 0, 0, 0, 0, 0)

    // THE DOOR — both rules run BEFORE the screens, because a row the
    // pipeline will not admit must also not act as a screen PEER
    // (r8 review: a guard placed after the screens let a stored doc's
    // changed-text re-delivery reject a legitimate fresh duplicate of
    // that text, which then lived in NO store and, exactly-once, was
    // never re-delivered).
    // (1) ONE ROW PER doc_id: an at-least-once source can deliver the
    // same doc_id twice in one batch; with changed text the rows carry
    // distinct fps and both would admit, breaking doc_id uniqueness
    // inside a single batch. Keeper = smallest (text md5, lang,
    // source) — total order over the row, so a replay re-picks the
    // same keeper even among verbatim-text relabels. Which VARIANT of
    // a contract-violating changed-content double-delivery wins is
    // deliberately unspecified-but-deterministic (the doc_id
    // immutability contract makes the case a source bug).
    // (2) STORED doc_ids drop (r7 advice #1): a stored doc_id
    // re-delivered — verbatim or changed — admits nowhere (keep-old
    // everywhere; to change a document: forget, then re-ingest).
    // Bounded: idbloom pre-screen, zero store bytes for fresh batches.
    // REPLAY STABILITY of the door: a doc fully admitted by a crashed
    // run is door-dropped on replay, and every batch-peer rejection it
    // caused transfers to the STORE screens — its fp is stored under
    // its (different) doc_id (exact cross), its postings are stored
    // (near cross), its K-gram hashes are stored under a non-peer doc
    // (substring cross, lower-id-peer rule) — so replayed verdicts
    // converge to the crash-free stores (crash matrix + randomized
    // trials pin this).
    val wId = Window.partitionBy("doc_id")
      .orderBy(md5(col("text").cast("binary")), col("lang"), col("source"))
    val (pinned, nDoor) = Pin.counted(CorpusIngest.dropStoredIds(spark,
      rawPinned.withColumn("rn", row_number().over(wId))
        .filter(col("rn") === 1).drop("rn"),
      corpus))
    val nAbsorbed = nIn - nDoor
    if (nDoor == 0) {
      // governance still records the arrivals (batchId-gated)
      CorpusStats.mergeBatch(spark, rawPinned, statsFile(root), batchId)
      afterStage("stats")
      return BatchReport(nIn, nAbsorbed, 0, 0, 0, 0, 0)
    }

    val scr = runScreens(spark, pinned, root, dfCap, k)
    val (grams1, post1) = (scr.grams, scr.postings)
    val substrProbe = scr.substrProbe
    val survivors = scr.survivors
    val nAdmitted = scr.nSurvivors

    // 5. admissions — each independently idempotent; order among the
    // four NON-corpus admissions (near-dup, substr, index train+merge)
    // is free (replay-stable screens), but the corpus append MUST
    // COMMIT LAST: the door's stored-id probe (dropStoredIds) treats
    // corpus membership as "fully admitted" and absorbs the doc on
    // replay. If the corpus append ran before any other admission and
    // a crash intervened, the replay would door-drop the survivors and
    // the remaining stores would permanently miss their rows —
    // diverging from the crash-free state. (r8 advice: the previous
    // "order is free, corpus last merely conventional" comment invited
    // exactly that breaking reorder; IngestPipelineSpec's crash matrix
    // pins convergence for every crash point under THIS order, and its
    // reorder case pins the divergence a corpus-first order causes.)
    if (nAdmitted > 0) {
      val survivorIds = survivors.select("doc_id")
      NearDupIngest.admit(spark, survivors, nearDir(root),
        batchSides = Some((
          grams1.join(survivorIds, Seq("doc_id"), "left_semi"),
          post1.join(survivorIds, Seq("doc_id"), "left_semi"))))
      afterStage("neardup")
      // arrivals = the full post-door batch: the arrival-contract guard
      // and the _maxid watermark must see docs the screens rejected
      // (r9 ADVICE #1/#2 — the composed path previously maintained the
      // watermark without checking it, and a batch whose highest-id doc
      // was screened out left it stale)
      SubstrIngest.admit(spark, survivors, substrDir(root), k,
        pre = Some(substrProbe), arrivals = Some(pinned))
      afterStage("substr")
      val vecs = survivors.withColumn("toks", TextOps.tokens)
        .select(col("doc_id").as("vec_id"),
          graft.plans.GraftFunctions.graftHashEmbed("toks")
            .cast("array<double>").as("embedding"))
      // first non-empty survivor batch seeds the coarse quantizer (the
      // deterministic lowest-id init every IVF face uses); training is
      // an idempotent overwrite, so a crash right after it replays
      // fine. The probe resolves through the EPOCH layout (isTrained):
      // a legacy-path dirExists here would re-train every batch after
      // a retrain swap, pairing fresh centroids with the old layout
      if (!VectorIndex.isTrained(spark, indexDir(root)))
        VectorIndex.train(spark, vecs, indexDir(root))
      VectorIndex.mergeBatch(spark, vecs, indexDir(root))
      afterStage("index")
      // replay absorption is the DOOR's stored-id drop: a survivor
      // whose doc_id the store holds — its own prior admission (a
      // DIFFERENT doc_id holding its fp is rejected by the exact
      // screen) — never reaches this append, and a fresh batch read
      // ZERO corpus bytes getting here (idbloom pre-screen). Shared
      // append tail: fp + doc_id bloom segments BEFORE the rows
      // (BloomSide superset invariant), with the pre-bloom migration
      // segment; survivors is pinned and nAdmitted > 0 here
      CorpusIngest.appendFresh(spark, corpus, survivors)
      afterStage("corpus")
    } else
      // zero survivors: the admission block is skipped, but the
      // substring store's arrival bookkeeping must still see this
      // batch (r10 review) — a fully-screened-out batch otherwise
      // leaves the watermark stale and its ids unchecked, recreating
      // the r9 ADVICE #2 gap on the composed face
      SubstrIngest.recordArrivals(spark, pinned, substrDir(root))

    // 6. governance counters over the RAW arrivals (the ingress
    // dashboard: what came in, not what survived or even entered the
    // screens), batchId-gated so a replay cannot double-add — last, so
    // the gate records a batch only after every admission committed
    CorpusStats.mergeBatch(spark, rawPinned, statsFile(root), batchId)
    afterStage("stats")

    // 7. opt-in maintenance cadence — LAST, after every store commit
    // (a crash inside the sweep replays the batch: the door absorbs
    // the docs, the staged sub-compactions resume, verdicts unchanged)
    if (nAdmitted > 0 && maybeCompact(spark, root, compactEvery,
        compactFiles, compactGrowth, nAdmitted))
      afterStage("compact")

    BatchReport(nIn, nAbsorbed, nDoor - scr.nGated, scr.nGated - scr.nDocs1,
      scr.nNearRej, scr.nSubstrRej, nAdmitted)
  }

  /** BATCH face of the composed ingest — the `doc_ingest_cascade`
    * query: the documents table fed through the SAME screen cascade as
    * one `mergeBatch` micro-batch against EMPTY stores, reporting per
    * document which stage settled it: 'gate' (failed the quality
    * gate), 'exact' (an exact-text duplicate of a lower-id gate
    * survivor), 'near' (near-duplicate of a lower-id exact survivor,
    * Jaccard ≥ 0.5 on banded-LSH candidates), 'substr' (more than half
    * its tokens covered by 8-gram spans a lower-id near survivor also
    * holds), or 'admitted'.
    *
    * This is the one place the COMPOSITION itself is oracle-checked:
    * the DuckDB twin re-derives the full cascade — gate thresholds,
    * redaction, fingerprint keeper, minhash bands with the df-cut,
    * exact-Jaccard verify, positional-gram islands — independently in
    * SQL, so the stage a document lands in (not just each screen in
    * isolation) is pinned bit-exact. IngestPipelineSpec additionally
    * pins this frame against a real `mergeBatch` run's BatchReport and
    * admitted store content (empty-store parity by construction:
    * `runScreens` is the shared derivation).
    *
    * Scale: inherits each screen's bounds — no store exists, so the
    * only pair work is the banded within-batch sweep (df-cut capped)
    * and the substring hash groups (bounded two-long aggregate).
    *
    * Like the near-dup labels (TextOps.nearDupLabels), the stage frame
    * is a CORPUS-LEVEL release decision — a pure function of (session,
    * dir) — so it is memoized per (session, dir): the cascade's four
    * screen derivations (signatures, positional grams, pair sweeps)
    * run once per corpus state, not once per consumer/rep. The frame
    * is stage-pinned (localCheckpoint) inside cascadeFrame, so the
    * memo holds materialized blocks; unpersistAll clears it with the
    * rest of the artifact state. */
  def cascade(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.memo(s"ingest-cascade:$dir", spark) {
      cascadeFrame(spark, graft.Tables.documentsPar(spark, dir)
        .select("doc_id", "lang", "source", "text"))
        .localCheckpoint(true)
    }.orderBy("doc_id")

  /** A JVM-unique root that is asserted ABSENT on the default
    * filesystem — the screens only probe, never create, so running
    * them against it degrades every cross-store probe to the pure
    * within-batch screen the oracle re-derives. A fixed literal here
    * (r7's "/graft-absent-ingest-root") could silently collide with
    * prior junk on a shared cluster and screen against it with no
    * error (r7 ADVICE #3); the UUID path makes collision implausible
    * and the assert makes it LOUD instead of silent. */
  private lazy val absentRoot: String =
    s"${System.getProperty("java.io.tmpdir")}/graft-absent-ingest-${java.util.UUID.randomUUID()}"

  private[streaming] def cascadeFrame(spark: SparkSession,
      docs: DataFrame): DataFrame = {
    val pinned = docs.localCheckpoint(true)
    // stores under a path that never exists: every cross-store probe
    // degrades to the pure within-batch screen
    val ap = new org.apache.hadoop.fs.Path(absentRoot)
    require(!ap.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(ap),
      s"cascade's empty-store root unexpectedly exists: $absentRoot")
    val scr = runScreens(spark, pinned, absentRoot,
      TextOps.DfCap, TextOps.SubstrK)
    pinned.select("doc_id")
      .join(scr.gated.select(col("doc_id"), lit(true).as("g")),
        Seq("doc_id"), "left")
      .join(scr.docs1.select(col("doc_id"), lit(true).as("k")),
        Seq("doc_id"), "left")
      .join(scr.nearRej.select(col("doc_id"), lit(true).as("nr")),
        Seq("doc_id"), "left")
      .join(scr.substrRej.select(col("doc_id"), lit(true).as("sr")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("g").isNull, lit("gate"))
          .when(col("k").isNull, lit("exact"))
          .when(col("nr").isNotNull, lit("near"))
          .when(col("sr").isNotNull, lit("substr"))
          .otherwise(lit("admitted")).as("stage"))
      .orderBy("doc_id")
  }

  /** Compact every store the pipeline maintains — the one-call
    * maintenance sweep a long-lived ingest schedules off-peak: the
    * near-dup artifact and substring store through their own staged
    * compactors, the vector index to one file per cell, and the corpus
    * store range-laid on doc_id (tight per-file id spans → the exact
    * screen's fingerprint probe and any doc_id lookup skip files from
    * footer stats). Each sub-compaction keeps its own crash discipline;
    * screening results are invariant (spec-pinned).
    *
    * Direct calls get the same fails-fast guard `requireCadence` gives
    * the cadence faces (r16 ADVICE #1): a degenerate target file count
    * fails HERE with the construction message, not inside a
    * sub-compactor's repartition with an opaque Spark error. */
  def compactAll(spark: SparkSession, root: String, nFiles: Int = 4): Unit = {
    require(nFiles >= 1,
      s"nFiles must be >= 1 (the sweep's target file count), got $nFiles")
    NearDupIngest.compactArtifact(spark, nearDir(root), nFiles)
    SubstrIngest.compactStore(spark, substrDir(root), nFiles)
    VectorIndex.compact(spark, indexDir(root))
    val live = corpusDir(root)
    val stage = s"$live.stage"
    val swapped = StagedSwap.resume(spark, live, Seq(stage, s"$live.forget"))
    if (!swapped && dirExists(spark, live)) {
      StagedSwap.clearStale(spark, stage)
      // canonical column order on the rewrite (CorpusIngest.canonCorpus):
      // a legacy mixed-order store converges to uniform files at its
      // first compaction instead of re-mixing against the next
      // canonical-order append. mergeSchema (r16 ADVICE #2): this is
      // the README's advertised legacy-store convergence rewrite, and a
      // footer-sampled read of a legacy mixed-SET dir would silently
      // drop whichever columns the sampled file lacks at the Overwrite
      // — merging the footers makes the one-time rewrite preserve the
      // union set (absent values null) instead. Healthy stores hold one
      // set, so the merge is order-insensitively identical there.
      graft.sources.CorpusSink.writeRangeLayout(
        CorpusIngest.canonCorpus(
          spark.read.option("mergeSchema", true).parquet(live)),
        stage, "doc_id", nFiles)
      StagedSwap.commit(spark, live, stage)
    }
    // rebuild the fp bloom to ONE covering segment — also sheds the
    // superset slack erasure (`forget`) leaves behind
    if (dirExists(spark, live))
      BloomSide.replaceAll(spark, s"$live.bloom",
        spark.read.parquet(live).select("fp")
          .stat.bloomFilter("fp", BloomSide.Expected, BloomSide.Fpp))
  }

  // ---- opt-in auto-compaction cadence (r9 verdict #4) ----
  // FileSoak adjudicated parquet small-file accretion flat to the
  // 400-batch horizon with `compactAll` every O(500) batches as the
  // off-peak answer — but nothing CALLED it: a production 30-60 s
  // trigger relied on an operator remembering. `mergeBatch` now counts
  // APPENDING batches (nAdmitted > 0 — only those grow the file sets)
  // in a persisted, torn-write-safe counter and, past the opt-in
  // `compactEvery` threshold, runs compactAll at the END of the batch
  // (after every store commit, the off-hot-path point a foreachBatch
  // world has). Crash-safe without new machinery: each sub-compactor
  // keeps its own StagedSwap discipline, and the counter resets only
  // AFTER compactAll returns — a crash mid-compaction leaves the
  // counter at the threshold, so the next appending batch re-triggers
  // and the staged swaps resume (one redundant-but-idempotent sweep,
  // never a skipped one). Default 0 = off: the cadence is deployment
  // policy, not library policy.

  private def ctrPath(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/_compact_ctr")

  /** The persisted cadence state: appending batches and admitted docs
    * since the last auto-compaction, and the corpus row count AT the
    * last compaction (the growth trigger's base — since r13 an actual
    * store count taken at sweep/erasure time, not an admissions
    * accumulator, so keyed erasure cannot leave it stale-high).
    * Serialized as three space-separated longs; a legacy single-long
    * file (pre-r12) parses as (appends, 0, 0) and a torn write as
    * all-zero. Consequence of either, PER MODE (r12 ADVICE #2): in
    * batch-count mode a zeroed `appends` merely delays one compaction
    * by a cadence; in growth mode a zeroed `baseDocs` RE-SEEDS from
    * the corpus's actual row count at the next appending batch (minus
    * that counter-epoch's own admissions), so the next sweep fires at
    * most one growth fraction late — never early, never skipped.
    * (Pre-r13 a zeroed base fired the next batch immediately plus
    * consecutive early sweeps; the seed closed that.) */
  private[graft] final case class CompactCtr(appends: Long,
      admittedSince: Long, baseDocs: Long)

  private[graft] def readCompactCtr(spark: SparkSession,
      root: String): CompactCtr =
    CtrFile.read(spark, ctrPath(root).toString) match {
      case Some(Array(a)) => CompactCtr(a, 0L, 0L)
      case Some(Array(a, m, b)) => CompactCtr(a, m, b)
      case _ => CompactCtr(0L, 0L, 0L)
    }

  /** Appending batches since the last auto-compaction — the exposed
    * cadence counter (readable for ops dashboards; a torn write parses
    * as 0, which merely delays one compaction by a cadence). */
  def appendsSinceCompact(spark: SparkSession, root: String): Long =
    readCompactCtr(spark, root).appends

  // torn-write-safe IO shared with Scd2Maintain's cadence (r13):
  // CtrFile carries the r10 ADVICE #1 atomic-replacement discipline
  private def writeCompactCounter(spark: SparkSession, root: String,
      v: CompactCtr): Unit =
    CtrFile.write(spark, ctrPath(root).toString,
      Seq(v.appends, v.admittedSince, v.baseDocs))

  /** Bump-or-fire: called once per APPENDING batch. Returns true when
    * this call ran compactAll.
    *
    * Replay skew (r10 ADVICE #1, documented not fixed): a crash
    * between this bump and the stream checkpoint's batch commit
    * replays the delivery, and if the replayed batch still admits
    * rows (e.g. it carries docs the door had not yet absorbed), it
    * bumps AGAIN — one logical batch counted twice, so a compaction
    * fires up to one batch early. The counter is a maintenance
    * cadence, not a correctness input; making it exactly-once would
    * need the counter inside the stores' staged commits, coupling
    * five independent swap protocols for no semantic gain.
    *
    * TWO trigger policies (r12, from the sf10 soak's measured face —
    * BASELINE.md §Round 12: compactAll is O(store), so a FIXED batch
    * cadence spends O(N²/cadence) total compaction work on an
    * unbounded store and the sweep wall grows without bound):
    *  - `compactGrowth` ≤ 0 (default): the r9 batch-count cadence —
    *    every `compactEvery` appending batches. Right for bounded or
    *    slowly-growing stores where the sweep wall is known-small.
    *  - `compactGrowth` > 0: GEOMETRIC back-off — fire when the docs
    *    admitted since the last sweep reach `compactGrowth` × the
    *    store's admitted total at that sweep (growth 1.0 = compact on
    *    each doubling, 0.5 = every +50%). Sweep count over a store's
    *    life is O(log N) and total compaction work O(N log N) — the
    *    LSM-style amortization; the trade is file-count between
    *    sweeps grows with the gap (one file per appending batch per
    *    store), which the bloom fold-at-32 and parquet listing
    *    tolerance already absorb (FileSoak, 400-batch horizon).
    *    `compactEvery` is ignored in this mode. `baseDocs` is the
    *    corpus's ACTUAL row count, re-anchored by one cheap
    *    footer-stats count at each sweep and at each `forget` (r12
    *    verdict #2: the pre-r13 admissions accumulator went stale-high
    *    under mass erasure, firing the next sweep late by the erased
    *    fraction; anchoring on true mass makes the trigger track the
    *    store, not its ingest history). A zero base on an existing
    *    store (legacy/torn counter, see [[CompactCtr]]) re-seeds from
    *    the same count. */
  private def maybeCompact(spark: SparkSession, root: String,
      compactEvery: Int, nFiles: Int, compactGrowth: Double,
      nAdmitted: Long): Boolean = {
    if (compactGrowth > 0.0) {
      val c = readCompactCtr(spark, root)
      val admitted = c.admittedSince + nAdmitted
      // seed a zero base (fresh store, legacy counter, torn write)
      // from the store's true mass. maybeCompact runs AFTER the corpus
      // append, so this counter epoch's own admissions are excluded —
      // on a genuinely fresh store the seed is 0 and the first
      // admitted batch sweeps (establishing the anchor), while on a
      // pre-existing store the seed is its real pre-epoch mass, so no
      // burst of early sweeps (r12 ADVICE #1).
      val base =
        if (c.baseDocs > 0L) c.baseDocs
        else math.max(0L, corpusDocCount(spark, root) - admitted)
      if (admitted.toDouble >= compactGrowth * base) {
        compactAll(spark, root, nFiles)
        // reset AFTER the sweep; anchor the base on the store's actual
        // post-sweep row count (≠ base + admitted once erasure ran)
        writeCompactCounter(spark, root,
          CompactCtr(0L, 0L, corpusDocCount(spark, root)))
        true
      } else {
        writeCompactCounter(spark, root,
          CompactCtr(c.appends + 1, admitted, base))
        false
      }
    } else if (compactEvery <= 0) false
    else {
      val c = readCompactCtr(spark, root)
      val n = c.appends + 1
      if (n >= compactEvery) {
        compactAll(spark, root, nFiles)
        writeCompactCounter(spark, root, // reset AFTER the sweep
          CompactCtr(0L, 0L, corpusDocCount(spark, root)))
        true
      } else {
        writeCompactCounter(spark, root,
          CompactCtr(n, c.admittedSince + nAdmitted, c.baseDocs))
        false
      }
    }
  }

  /** The corpus store's current row count — the growth trigger's
    * anchor. A parquet count() is footer-metadata work (no column
    * bytes), paid once per sweep/seed/erasure, never per batch. */
  private def corpusDocCount(spark: SparkSession, root: String): Long =
    if (dirExists(spark, corpusDir(root)))
      spark.read.parquet(corpusDir(root)).count()
    else 0L

  /** METADATA-FILTERED vector search over the composed store — the
    * "filtered ANN" face every production vector store ships: `pred`
    * evaluates against the corpus store's columns (lang, source, the
    * gate's quality/PII signal columns), the keep-set is the
    * column-pruned doc_id projection of the filtered corpus, and the
    * index search post-filters its probed-cell candidates against it
    * BEFORE the top-k rank — every returned neighbor satisfies the
    * predicate, and the k slots are not wasted on filtered-out
    * vectors. Scale: the predicate pushes into the corpus parquet scan
    * (doc_id + predicate columns only), candidates are bounded to the
    * probed cells, and the store/index COHERENCE invariant is what
    * makes the doc_id ≡ vec_id join sound. Semantics and the
    * selective-filter trade are stated on VectorIndex.search. */
  def searchCorpus(spark: SparkSession, root: String, queries: DataFrame,
      pred: org.apache.spark.sql.Column, k: Int = 3,
      nprobe: Int = 2): DataFrame = {
    val corpus = corpusDir(root)
    // resume-before-probe (StagedSwap's contract), same as runScreens;
    // an absent corpus (fresh root, or everything forgotten) keeps
    // nothing — served as the empty result, not a missing-path error
    StagedSwap.resume(spark, corpus, Seq(s"$corpus.stage", s"$corpus.forget"))
    val keep =
      if (dirExists(spark, corpus))
        spark.read.parquet(corpus).filter(pred)
          .select(col("doc_id").as("vec_id"))
      else queries.select(col("vec_id")).limit(0)
    VectorIndex.search(spark, indexDir(root), queries, k,
      restrict = Some(keep), nprobe = nprobe)
  }

  /** KEYED ERASURE across the composition — the right-to-erasure face
    * of the whole pipeline: purge the given doc_ids from the corpus
    * store, the near-dup artifact, and the substring store (staged
    * full rewrites — erasure is a rare, explicit, audited operation,
    * so O(store) is the honest cost; the side blooms are untouched
    * and simply stay supersets, which the exact confirms absorb and
    * compactAll's rebuild sheds),
    * and from the vector index via its own touched-cells-only forget.
    * The governance counters are NOT decremented: they hold additive
    * aggregates, no per-document content — a dataset card counts what
    * was processed, not what is retained.
    *
    * CONSEQUENCE (the standard erasure/dedup trade, stated rather than
    * hidden): erasing a document also erases its dedup evidence, so a
    * future copy of the same text will be ADMITTED as new. Retaining
    * the hashes would retain derived content the erasure is obligated
    * to remove. Each per-store rewrite is individually staged/crash-
    * safe, and the whole call is IDEMPOTENT — a crash between stores
    * leaves a partially-erased (never corrupted) state that re-running
    * with the same ids completes, the VectorIndex.forget convergence
    * argument applied across the composition (r9: the argument is now
    * a MEASURED matrix — IngestPipelineSpec injects a failure after
    * every purge via `afterStage` and asserts the re-run converges to
    * the crash-free stores, searchCorpus face included). Returns the
    * number of corpus rows removed. `afterStage` is the spec's
    * crash-injection hook (stage names: corpus, near_grams,
    * near_postings, substr_grams, index). */
  def forget(spark: SparkSession, root: String, ids: Seq[Long],
      afterStage: String => Unit = _ => ()): Long = {
    if (ids.isEmpty) return 0L
    var removed = 0L
    // `canon` = per-store canonical column order on the rewrite: the
    // corpus store passes CorpusIngest.canonCorpus (every corpus write
    // is canonical — see its scaladoc); the gram/posting stores are
    // write-uniform already (both call sites end in one fixed select,
    // r15 audit) so they keep the identity
    def purge(live: String, alsoCount: Boolean,
        canon: DataFrame => DataFrame = identity): Unit = {
      val stage = s"$live.forget"
      // resume ANY pending swap of this store — its own `.forget` AND
      // the compaction stages (`.stage`, `.tmp`): a probe-first erasure
      // on a mid-compaction store would report 0 removed, and the next
      // batch's resume would resurrect the supposedly-erased rows
      StagedSwap.resume(spark, live,
        Seq(stage, s"$live.stage", s"$live.tmp"))
      if (!dirExists(spark, live)) return
      val cur = spark.read.parquet(live).localCheckpoint(true)
      val kept = cur.filter(!col("doc_id").isin(ids: _*)).localCheckpoint(true)
      val delta = cur.count() - kept.count()
      if (alsoCount) removed += delta
      if (delta == 0L) return
      StagedSwap.clearStale(spark, stage)
      canon(kept).write.parquet(stage)
      StagedSwap.commit(spark, live, stage)
    }
    purge(corpusDir(root), alsoCount = true,
      canon = CorpusIngest.canonCorpus)
    afterStage("corpus")
    purge(s"${nearDir(root)}/grams", alsoCount = false)
    afterStage("near_grams")
    purge(s"${nearDir(root)}/postings", alsoCount = false)
    afterStage("near_postings")
    purge(s"${substrDir(root)}/grams", alsoCount = false)
    afterStage("substr_grams")
    VectorIndex.forget(spark, indexDir(root), ids)
    afterStage("index")
    // growth-cadence re-anchor (r12 verdict #2): the trigger base is
    // the corpus's row count, so erasure must refresh it or the next
    // growth sweep fires late by the erased fraction. Unconditional on
    // an anchored counter (idempotent — a crash anywhere above leaves
    // the old base: sweeps late, never early, and the re-run of this
    // idempotent call re-anchors). A zero base is left for
    // maybeCompact's seed path, which excludes in-epoch admissions.
    val ctr = readCompactCtr(spark, root)
    if (ctr.baseDocs > 0L)
      writeCompactCounter(spark, root,
        ctr.copy(baseDocs = corpusDocCount(spark, root)))
    removed
  }

  /** Streaming entry: JSON documents directory → the five maintained
    * stores under ONE checkpoint. The 1-second default trigger is the
    * spec/demo shape; production deployments should pass a 30-60 s
    * trigger — PipeBench's record (BASELINE.md r8): the DAG's ~8 s
    * fixed cost then amortized to 0.7-1k docs/s per 8 cores at the
    * 12.5-25k-doc batches such a trigger carries. The fixed cost is
    * mostly per Spark job (see the Scale note above). */
  def ingest(spark: SparkSession, srcDir: String, root: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      compactEvery: Int = 0,
      compactGrowth: Double = 0.0,
      compactFiles: Int = 4): DataStreamWriter[org.apache.spark.sql.Row] = {
    // validate HERE, not just in mergeBatch: otherwise a misconfigured
    // stream starts cleanly and only fails inside foreachBatch at the
    // first micro-batch (r14 ADVICE); compactFiles included, else a
    // degenerate target only fails inside the first SWEEP (r15 ADVICE)
    requireCadence(compactEvery, compactGrowth, compactFiles)
    spark.readStream.schema(CorpusIngest.docSchema).json(srcDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergeBatch(batch.sparkSession, batch, root, id,
          compactEvery = compactEvery, compactGrowth = compactGrowth,
          compactFiles = compactFiles)
        ()
      }
  }
}
