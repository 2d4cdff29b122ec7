package graft.operators

import graft.{Pin, Tables}
import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MinHash + LSH near-duplicate detection and SimHash fingerprinting —
  * the scale-path dedup operators of the LLM-data-pipeline tier.
  *
  * MinHash/LSH pipeline: shingle → 64-bit gram id (md5 prefix) → k=12
  * permutation minima (universal hashing mod P) → 4 bands × 3 rows →
  * band-bucket postings → candidate pairs from each bucket (no self-join,
  * same postings-pair pattern as TextOps.ngramJaccardPairs) → exact
  * Jaccard verification on the candidate pairs only. At 100 TB the
  * band-bucket join touches ~s³-probability candidates per band instead
  * of every shingle collision — the standard sub-quadratic near-dup
  * sweep. All arithmetic is integer-only (overflow-safe mod P < 2^31,
  * products < 2^62), so the DuckDB oracle matches exactly.
  *
  * SimHash: sign-aggregated token-hash fingerprint per document —
  * integer-only, oracle-exact. The presentation fingerprint
  * (doc_simhash) is 16-bit; the PAIR SWEEP runs on the 60-bit
  * fingerprint with banded probes so recall survives corpus scale
  * (see simhashPairs).
  */
object MinHashOps {

  val P = 1000000007L
  val K = 12 // minhashes
  val Bands = 4 // × 3 rows each
  val RowsPerBand: Int = K / Bands

  /** deterministic universal-hash parameters (odd multipliers) */
  def hashParams(i: Int): (Long, Long) = (2L * i + 3L, 104729L * (i + 1))

  /** 60-bit integer id of a shingle from its md5 prefix, reduced mod P —
    * identical in the oracle: CAST('0x'||substr(md5(g),1,15) AS BIGINT). */
  private def gramId(g: Column): Column =
    conv(substring(md5(g.cast("binary")), 1, 15), 16, 10).cast("long") % P

  /** integer ids of a shingle array — materialize this as its own column
    * before calling `signature`: the md5-based id is the expensive part,
    * and referencing a local Column would clone its subtree into every
    * one of the K minhash expressions (K× the md5 work). */
  def gramIds(grams: Column): Column = transform(grams, g => gramId(g))

  /** the k-minhash signature over a MATERIALIZED gram-id column */
  def signature(ids: Column): Column =
    array((0 until K).map { i =>
      val (a, b) = hashParams(i)
      array_min(transform(ids, x => (lit(a) * x + lit(b)) % P))
    }: _*)

  /** band hashes: combine each band's rows into one bucket key */
  def bandHashes(sig: Column): Column =
    array((0 until Bands).map { b =>
      (0 until RowsPerBand).foldLeft(lit(0L)) { (acc, r) =>
        (acc * 1009L + element_at(sig, b * RowsPerBand + r + 1)) % P
      }
    }: _*)

  /** Candidate pairs from LSH band buckets, verified with exact Jaccard.
    * Output: top-50 pairs by exact similarity (deterministic).
    * `preflight = true` opts into the composed measure→warn→recommend
    * pre-flight (TextOps.preflightPairSweep) over the sweep's own
    * shared band-postings artifact; output unchanged (PreflightSpec). */
  def minhashLshPairs(spark: SparkSession, dir: String,
      preflight: Boolean = false): DataFrame = {
    if (preflight)
      TextOps.preflightPairSweep(
        bandPostings(spark, Tables.documentsPar(spark, dir))._2,
        Seq("lang", "band_idx", "band_hash"), TextOps.DfCap, "minhash_lsh")
    minhashLshPairsAll(spark, dir).limit(50)
  }

  /** The same pipeline WITHOUT the presentation top-k cut — every
    * LSH-surfaced pair that verification confirms. MinHashRecallSpec
    * measures recall on this stage so the limit can't mask (or fake)
    * a candidate-generation miss. */
  def minhashLshPairsAll(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairsFrame(spark, Tables.documentsPar(spark, dir), TextOps.DfCap)

  /** The shared (grams, band-postings) stage of every MinHash consumer:
    * (doc_id, lang, grams) from the SHARED shingle artifact
    * (TextOps.gramsTable — one cache serves jaccard, clusters,
    * contamination and this pipeline; it feeds candidate generation AND
    * both verify sides; the size filter sits ABOVE the cache so it
    * evaluates against the materialized grams column, not re-deriving
    * the shingle expression inside the scan), plus the exploded
    * (doc_id, lang, band_idx, band_hash) posting rows.
    *
    * The postings explode a LITERAL index array and pick the band by
    * element_at — NOT posexplode(bands): a generator over an array
    * column computed in the same stage re-enters the interpreted
    * expression chain per emitted row (measured 10×: 46 s vs 4 s at
    * sf0.1). The literal generator keeps the computed column as a plain
    * carried attribute. The slim postings frame is itself CACHED: the
    * df-cut's count pass and every pair/join pass read it, and the
    * K-permutation minhash signature behind it is the expensive part. */
  /** `cache = false` for callers in a micro-batch loop (NearDupIngest):
    * each batch is a fresh plan, so registering per-batch caches would
    * accumulate for the session; the batch is consumed once per side
    * anyway. */
  private[graft] def bandPostings(spark: SparkSession, docsIn: DataFrame,
      cache: Boolean = true): (DataFrame, DataFrame) = {
    val docsGrams0 =
      if (cache) TextOps.gramsTable(spark, docsIn)
      else TextOps.gramsFrame(docsIn)
    val docsGrams = docsGrams0.filter(size(col("grams")) > 0)
    val exploded0 = postingsFromGrams(spark, docsGrams)
    val exploded =
      if (cache) graft.Artifacts.face("bandPostings", docsGrams0)(exploded0)
      else exploded0
    (docsGrams, exploded)
  }

  /** Band postings from an ALREADY-SHINGLED (doc_id, lang, grams) frame
    * — the signature derives from the grams column alone, which is what
    * lets NearDupIngest.repairArtifact rebuild postings from the stored
    * grams half of the artifact without re-reading any text. */
  private[graft] def postingsFromGrams(spark: SparkSession,
      docsGrams: DataFrame): DataFrame =
    docsGrams
      .withColumn("sig", GraftFunctions.graftMinhash("grams"))
      .withColumn("bands", bandHashes(col("sig")))
      .select(col("doc_id"), col("lang"),
        explode(array((0 until Bands).map(lit(_)): _*)).as("band_idx"),
        col("bands"))
      .withColumn("band_hash", element_at(col("bands"), col("band_idx") + 1))
      .drop("bands")

  /** Exact-Jaccard verification of a candidate (d1, d2) frame against
    * the grams table(s) — shared tail of the symmetric, incremental and
    * artifact-backed sweeps (candidate counts are LSH-bounded before
    * this join). d1 resolves against `gramsLeft`, d2 against
    * `gramsRight` (the same frame for symmetric callers). */
  private def verifyJaccard(cand: DataFrame, gramsLeft: DataFrame,
      gramsRight: DataFrame): DataFrame = {
    val g1 = gramsLeft.select(col("doc_id").as("d1"), col("grams").as("grams1"))
    val g2 = gramsRight.select(col("doc_id").as("d2"), col("grams").as("grams2"))
    cand.join(g1, "d1").join(g2, "d2")
      .withColumn("common", size(array_intersect(col("grams1"), col("grams2"))).cast("long"))
      .withColumn("n1", size(col("grams1")).cast("long"))
      .withColumn("n2", size(col("grams2")).cast("long"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")))
      .select("d1", "d2", "common", "n1", "n2", "jaccard")
  }

  /** Pre-flight face for [[minhashLshPairs]] — the (lang, band_idx,
    * band_hash) postings df histogram at `dfCap`, completing the
    * winnow/jaccard/minhash trio of r9 verdict #3: one aggregate over
    * the shared postings artifact returning the exact candidate-stage
    * row count BEFORE the sweep runs, WARN + counter past
    * `TextOps.PairMassWarnRatio` (see `TextOps.pairMassPreflight`).
    * A band bucket's df grows with the corpus exactly like winnow's
    * fingerprint df — the same absolute-cap trap applies. */
  def minhashPairMass(spark: SparkSession, dir: String,
      dfCap: Int = TextOps.DfCap): TextOps.PairMass =
    // cache = false (r10 review): a planning call must not register
    // and pin the two corpus-scale shared artifacts (grams + postings)
    // to compute one scalar — the sweep builds its own caches if it
    // then runs
    TextOps.pairMassPreflight(
      bandPostings(spark, Tables.documentsPar(spark, dir),
        cache = false)._2,
      Seq("lang", "band_idx", "band_hash"), dfCap, "minhash_lsh")

  /** The pipeline over any (doc_id, lang, text) frame — the testable
    * core (DfCutSpec drives it with a planted hot bucket + small cap).
    * PRE-FLIGHT at scale: [[minhashPairMass]]. */
  private[graft] def minhashLshPairsFrame(
      spark: SparkSession, docsIn: DataFrame, dfCap: Int): DataFrame = {
    val (docsGrams, exploded) = bandPostings(spark, docsIn)
    // faceKey: the band postings are the shared artifact, so the df-cut
    // hot set faces on them too (r17 session 5) — uniqueness across
    // different corpora comes from the postings reference, not the name
    pairsFromPostings(spark, docsGrams, exploded, dfCap,
      faceKey = "minhash")
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
  }

  /** The symmetric pair sweep over prebuilt (grams, postings) frames —
    * shared by minhashLshPairsFrame and NearDupIngest's within-batch
    * screen. Hot buckets (a degenerate band value shared by >dfCap
    * docs) are DROPPED by the two-pass df-cut before the collect,
    * bounding the aggregation buffer (VERDICT r3 defect #1) — same cut,
    * same cap, and same oracle twin as TextOps.ngramJaccardPairsFrame. */
  private[graft] def pairsFromPostings(spark: SparkSession,
      docsGrams: DataFrame, exploded: DataFrame, dfCap: Int,
      faceKey: String = null): DataFrame = {
    val cand = TextOps.postingsPairs(spark, exploded,
        Seq("lang", "band_idx", "band_hash"), col("doc_id"), dfCap, faceKey)
      .select(col("l").as("d1"), col("r").as("d2"))
      .distinct()
    verifyJaccard(cand, docsGrams, docsGrams)
  }

  /** INCREMENTAL near-dup screening — the continuous-ingestion flow: a
    * NEW batch of documents is checked against the EXISTING corpus
    * without ever re-pairing the corpus against itself. At 100 TB this
    * asymmetry is the whole point: the corpus side's band postings are
    * the artifact a production pipeline keeps materialized (here the
    * shared postings cache), and each arriving batch only pays
    * |batch| × K signature work plus one equi-join on the band-bucket
    * key — candidate pairs exist only where a batch band collides with
    * a corpus band, and the batch side is broadcastable whenever the
    * batch is small (AQE decides; no collect_list at all on this path,
    * so the only buffered state is the corpus df-cut's count pass).
    * The df-cut drops corpus-hot buckets (boilerplate bands) before the
    * join — same cap, same drop semantics, same oracle lockstep as the
    * symmetric sweep.
    *
    * The query face slices the shared corpus deterministically (md5
    * sample bucket < 3 → a 30% "new batch") so the DuckDB oracle can
    * repeat the split; production passes a real batch predicate — or a
    * separate frame unioned in — through `incrementalNearDupFrame`.
    * Output pairs are (d1 = corpus doc, d2 = batch doc); batch-internal
    * duplicates are the NEXT round's corpus problem (the symmetric
    * sweep covers them) and are deliberately not re-found here. */
  def incrementalNearDup(spark: SparkSession, dir: String): DataFrame =
    incrementalNearDupFrame(spark, Tables.documentsPar(spark, dir),
      TextOps.sampleBucket < 3, TextOps.DfCap)
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
      .limit(50)

  /** The incremental pipeline over any (doc_id, lang, text) frame with
    * an explicit batch-membership predicate (must be expressible over
    * the postings columns, i.e. doc_id/lang). */
  private[graft] def incrementalNearDupFrame(
      spark: SparkSession, docsIn: DataFrame, isNew: Column,
      dfCap: Int): DataFrame = {
    val (docsGrams, exploded) = bandPostings(spark, docsIn)
    val tagged = exploded.withColumn("is_new", isNew)
    val corpus = TextOps.dfCut(
      tagged.filter(!col("is_new")), Seq("lang", "band_idx", "band_hash"), dfCap)
    val batch = tagged.filter(col("is_new"))
    val cand = corpus
      .select(col("doc_id").as("d1"), col("lang"), col("band_idx"), col("band_hash"))
      .join(batch.select(
          col("doc_id").as("d2"), col("lang"), col("band_idx"), col("band_hash")),
        Seq("lang", "band_idx", "band_hash"))
      .select("d1", "d2")
      .distinct()
    verifyJaccard(cand, docsGrams, docsGrams)
  }

  /** The near-dup artifact's two stores as every writer has always
    * written them (`bandPostings`' frames: `writeNearDupArtifact`, and the
    * NearDupIngest appends and repairs). The per-batch probes read
    * through these schemas, which skips the footer job that schema
    * inference runs; IngestPipelineSpec pins them to the written files. */
  val GramsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("grams", ArrayType(StringType))))
  val PostingsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("band_idx", IntegerType),
    StructField("band_hash", LongType)))

  /** Persist the corpus-side near-dup artifact — shingle sets + band
    * postings — as parquet: the CROSS-SESSION form of the shared
    * in-memory caches. A production pipeline materializes this once per
    * corpus snapshot (the expensive interpreted shingle + K-permutation
    * signature work happens exactly once), and every arriving batch
    * reads it instead of re-deriving the corpus. The postings table is
    * the natural bucketing candidate (band_hash) for a co-located
    * candidate join; at this surface it ships as plain parquet and the
    * join shuffles on the band key once. */
  def writeNearDupArtifact(spark: SparkSession, docsIn: DataFrame,
      path: String): Unit = {
    val (docsGrams, exploded) = bandPostings(spark, docsIn)
    docsGrams.write.mode("overwrite").parquet(s"$path/grams")
    exploded.write.mode("overwrite").parquet(s"$path/postings")
  }

  /** Incremental near-dup screening of a NEW batch frame against a
    * PERSISTED corpus artifact (writeNearDupArtifact): same candidate
    * and verify shape as `incrementalNearDupFrame`, but the corpus side
    * comes off disk — only the batch pays signature work. Output parity
    * with the in-memory path is pinned by ArtifactDedupSpec.
    *
    * BOUNDED corpus reads (r7, the SubstrIngest probe discipline
    * applied here): a micro-batch's band keys are few (≤ Bands × batch
    * docs), so the postings scan is pre-filtered to them — pushed as a
    * `band_hash IN (...)` literal filter below the threshold (the
    * compacted artifact is range-laid on band_hash → parquet min/max
    * file skipping), a broadcast semi-join above it (one scan, never a
    * corpus-side shuffle). The df-cut then counts only the touched
    * buckets — identical semantics, because an equality filter keeps
    * every retained bucket WHOLE and untouched buckets can produce no
    * candidate. The grams read for exact verification is bounded the
    * same way by the candidate d1 ids (grams range-laid on doc_id). A
    * batch colliding with nothing reads only parquet footers. */
  def incrementalNearDupVsArtifact(spark: SparkSession, artifactPath: String,
      batchDocs: DataFrame, dfCap: Int,
      batchSides: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (batchGrams, batchPostings) =
      batchSides.getOrElse(bandPostings(spark, batchDocs))
    val (keys, nKeys) =
      Pin.counted(batchPostings.select("band_hash").distinct())
    val corpusPostings0 =
      spark.read.schema(PostingsSchema).parquet(s"$artifactPath/postings")
    val corpusPostings =
      if (nKeys <= ProbeIsinThreshold) {
        val hs = keys.collect().map(_.getLong(0))
        corpusPostings0.filter(col("band_hash").isin(hs: _*))
      } else
        corpusPostings0.join(broadcast(keys), Seq("band_hash"), "left_semi")
    val corpusCut = TextOps.dfCut(
      corpusPostings, Seq("lang", "band_idx", "band_hash"), dfCap)
    val cand = corpusCut
      .select(col("doc_id").as("d1"), col("lang"), col("band_idx"), col("band_hash"))
      .join(batchPostings.select(
          col("doc_id").as("d2"), col("lang"), col("band_idx"), col("band_hash")),
        Seq("lang", "band_idx", "band_hash"))
      .select("d1", "d2")
      .distinct()
      .localCheckpoint(true)
    val (d1s, nD1) = Pin.counted(cand.select("d1").distinct())
    val corpusGrams0 =
      spark.read.schema(GramsSchema).parquet(s"$artifactPath/grams")
    val corpusGrams =
      if (nD1 <= ProbeIsinThreshold) {
        val ids = d1s.collect().map(_.getLong(0))
        corpusGrams0.filter(col("doc_id").isin(ids: _*))
      } else
        corpusGrams0.join(
          broadcast(d1s.withColumnRenamed("d1", "doc_id")),
          Seq("doc_id"), "left_semi")
    verifyJaccard(cand, corpusGrams, batchGrams)
  }

  /** Key count up to which a corpus-side probe is pushed as an IN
    * literal filter (file skipping on the range-laid artifact); larger
    * sets fall back to a broadcast semi-join (same as
    * SubstrIngest.IsinThreshold). */
  val ProbeIsinThreshold: Int = 4096

  /** 16-bit SimHash of the token multiset (token hash = 28-bit md5
    * prefix; per-bit ±1 vote over all tokens; bit set when the vote is
    * positive). Integer-only and unrolled per bit — bit b uses plain
    * div/mod by 2^b, no shift operators, so the oracle can repeat it
    * verbatim. */
  def tokenHashes(toks: Column): Column = transform(toks, t =>
    conv(substring(md5(t.cast("binary")), 1, 7), 16, 10).cast("long"))

  /** simhash over a MATERIALIZED token-hash column (same cloning caveat
    * as gramIds: 16 bit-votes would otherwise each re-hash every token) */
  def simhashCol(hashes: Column): Column = {
    (0 until 16).map { b =>
      val pow = 1L << b
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + ((h.cast("long") / lit(pow)).cast("long") % 2L) * 2L - 1L)
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  def simhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsPar(spark, dir)
      .withColumn("toks", TextOps.tokens)
      .withColumn("thashes", tokenHashes(col("toks")))
      .withColumn("simhash16", simhashCol(col("thashes")))
      .select("doc_id", "simhash16")
      .orderBy("doc_id")

  /** Bands of the wide-simhash pair sweep. Hamming distance ≤ Bands-1
    * guarantees at least one EXACT band match (pigeonhole: d differing
    * bits hit at most d bands), so 3 bands cover the distance-2 sweep
    * with 3 probe rows per doc. */
  val SimBands = 3

  /** Width of the wide fingerprint the query face ships. 60 = the md5
    * 15-hex-digit prefix both engines can cast to BIGINT exactly; with
    * 20-bit bands the expected band-bucket population N/2^20 stays
    * under DfCap=1000 to N ≈ 10^9 docs — the fixed width IS the scale
    * path (and keeps the builder action-free for the lazy view face;
    * `defaultSimhashBits` derives a count-based width for pipelines
    * that want the minimum instead). */
  val SimBits = 60

  /** N-derived fingerprint width, the defaultBits analogue: smallest
    * multiple of SimBands whose band population N/2^(bits/SimBands)
    * stays under half the df-cap, clamped to [SimBands·5, 60]. */
  def defaultSimhashBits(n: Long, dfCap: Int = TextOps.DfCap): Int = {
    val bandWidth = math.ceil(
      math.log(math.max(2.0 * n / math.max(dfCap, 1), 2.0)) / math.log(2.0)).toInt
    math.max(SimBands * 5, math.min(60, SimBands * bandWidth))
  }

  /** Wide (up to 60-bit) SimHash per document, computed in ONE
    * codegen'd hash aggregate: tokens explode to (doc_id, h) rows with
    * a 60-bit md5-prefix hash, the aggregate keeps `bits` partial bit
    * sums + the token count (map-side combinable — the shuffle carries
    * one slim row per doc per partition), and the fingerprint assembles
    * from the vote signs. Replaces a per-bit `aggregate()` fold: higher-
    * order functions are interpreted, and `bits` separate folds re-walk
    * every token array `bits` times; the explode+agg shape is whole-
    * stage-codegen end to end. Integer-only (exact bit sums, one
    * compare per bit), so DuckDB repeats it verbatim. */
  private def simhashWideFrame(docsIn: DataFrame, bits: Int): DataFrame = {
    val rows = docsIn
      .select(col("doc_id"), explode(TextOps.tokens).as("t"))
      .withColumn("h",
        conv(substring(md5(col("t").cast("binary")), 1, 15), 16, 10).cast("long"))
    val sums = (0 until bits).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L))).as(s"s$b")
    } :+ count(lit(1)).as("n")
    rows.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map { b =>
          // vote_b = 2*s_b - n > 0  ⇔  2*s_b > n
          when(col(s"s$b") * 2L > col("n"), lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _).as("sh"))
  }

  /** SimHash NEAR-DUP PAIRS — the Hamming≤2 sweep over the WIDE
    * fingerprint: each doc emits `SimBands` probe keys (its band
    * values), candidates are docs agreeing on ANY band (equi-join on
    * the compact (band_idx, probe) key — no doc×doc comparison), and
    * exact `bit_count` of the xor verifies distance ≤ 2. Hot probe
    * buckets (a degenerate band value shared by >dfCap docs) drop via
    * the same two-pass df-cut as every postings source.
    *
    * Scale (VERDICT r4 defect #1 closed): the previous 16-bit
    * fingerprint had 65,536 probe values, so expected bucket df crossed
    * DfCap at N ≈ 3.9M docs and the cut then dropped EVERY bucket —
    * silent total recall loss. The 60-bit/20-bit-band fingerprint keeps
    * expected df = N/2^20 under the cap to N ≈ 10^9, and
    * SimHashScaleSpec pins the regression: at a synthetic N where every
    * narrow bucket is hot the narrow sweep returns empty while this one
    * still finds the planted pair. Probe volume drops 17N → 3N rows. */
  def simhashPairs(spark: SparkSession, dir: String,
      preflight: Boolean = false): DataFrame = {
    val docs = Tables.documentsPar(spark, dir)
    if (preflight)
      // the sweep's exact probe frame off the SAME shared fingerprint
      // artifact the sweep reads (composed opt-in pre-flight,
      // TextOps.preflightPairSweep; output unchanged — PreflightSpec)
      TextOps.preflightPairSweep(
        simhashProbes(simhashShared(docs, SimBits), SimBits),
        Seq("band_idx", "probe"), TextOps.DfCap, "simhash")
    simhashPairsFrame(spark, docs, TextOps.DfCap)
      .orderBy(col("hamming"), col("d1"), col("d2"))
      .limit(100)
  }

  /** The cached (doc_id, sh) fingerprint frame — probes AND both
    * verify sides read it. */
  private[graft] def simhashShared(docsIn: DataFrame, bits: Int): DataFrame = {
    require(bits % SimBands == 0 && bits >= SimBands && bits <= 60,
      s"bits must be a multiple of $SimBands in [$SimBands,60], got $bits")
    graft.Artifacts.face(s"simhash:$bits", docsIn)(
      simhashWideFrame(docsIn, bits))
  }

  /** The banded probe postings of the Hamming≤2 sweep — one
    * (doc_id, band_idx, probe) row per band per doc. Factored out so
    * PairMassProbe / TextOps.pairMass can pre-flight the EXACT frame
    * the sweep pairs on (r9 verdict #2/#3). */
  private[graft] def simhashProbes(sh: DataFrame, bits: Int): DataFrame = {
    val bandWidth = bits / SimBands
    // literal band generator (same pattern as bandPostings): the shifts
    // read the materialized sh column per band
    val bandArr = array((0 until SimBands).map { j =>
      struct(lit(j).as("band_idx"),
        shiftright(col("sh"), j * bandWidth)
          .bitwiseAND(lit((1L << bandWidth) - 1L)).as("probe"))
    }: _*)
    sh.select(col("doc_id"), explode(bandArr).as("bp"))
      .select(col("doc_id"), col("bp.band_idx").as("band_idx"),
        col("bp.probe").as("probe"))
  }

  /** [[TextOps.recallFloor]]'s simhash variant (r11 verdict #4): the
    * banded-probe postings feed the shared-key min-df, then the
    * VERIFY stage's Hamming bound nulls out pairs it would cut —
    * Hamming(sh1, sh2) > `maxHamming` means the pair is outside the
    * sweep's scope at ANY cap (min_df → null), exactly the analytic
    * criterion CapRecallProbe cross-checked end-to-end-equal on every
    * ladder rung. Pairs whose docs lack a fingerprint (absent from
    * `docsIn`) are likewise unreachable. */
  def simhashRecallFloor(docsIn: DataFrame, pairs: DataFrame,
      bits: Int = SimBits, maxHamming: Int = 2): DataFrame = {
    val sh = simhashShared(docsIn, bits)
    val floor = TextOps.recallFloor(simhashProbes(sh, bits),
      Seq("band_idx", "probe"), pairs)
    floor
      .join(sh.select(col("doc_id").as("d1"), col("sh").as("s1")),
        Seq("d1"), "left")
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("s2")),
        Seq("d2"), "left")
      .withColumn("min_df",
        when(bit_count(col("s1").bitwiseXOR(col("s2"))) <= maxHamming,
          col("min_df")))
      .select(floor.columns.map(col): _*)
  }

  private[graft] def simhashPairsFrame(spark: SparkSession, docsIn: DataFrame,
      dfCap: Int, bits: Int = SimBits): DataFrame = {
    val sh = simhashShared(docsIn, bits)
    val probes = simhashProbes(sh, bits)
    val cand = TextOps.postingsPairs(spark, probes,
        Seq("band_idx", "probe"), col("doc_id"), dfCap)
      .select(col("l").as("d1"), col("r").as("d2"))
      .distinct()
    val s1 = sh.select(col("doc_id").as("d1"), col("sh").as("sh1"))
    val s2 = sh.select(col("doc_id").as("d2"), col("sh").as("sh2"))
    cand.join(s1, "d1").join(s2, "d2")
      .withColumn("hamming",
        bit_count(col("sh1").bitwiseXOR(col("sh2"))).cast("long"))
      .filter(col("hamming") <= 2)
      .select("d1", "d2", "sh1", "sh2", "hamming")
      .orderBy("d1", "d2")
  }
}
