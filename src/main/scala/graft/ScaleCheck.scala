package graft

/** Empirical scale check (r7 verdict #2): run the heavy query tier at
  * sf0.1 and at the synthesized sf1 (10× rows, tools/gen_sf1.py) on the
  * SAME fixed local resources and report the runtime ratio per query —
  * an adjudicated-linear plan should land ≲ 10-12×; anything clearly
  * supra-linear is a real finding against the 100 TB plan-shape
  * arguments. Interleaved reps with median + min (the Bench r8
  * protocol) so container load cannot fabricate a ratio.
  *
  * Two regimes, because the suite memoizes corpus-level artifacts
  * (Artifacts.face/memo — the LM table, winnow selections, the
  * cascade frame) per (session, dir):
  *  - AMORTIZED (default): artifacts build once in the cold pass and
  *    reps measure the marginal query — the Bench protocol's regime,
  *    and the steady state of a long-lived session. A query whose work
  *    lives mostly in a memoized artifact (doc_ingest_cascade) reads
  *    near-zero here.
  *  - FULL (SPARK_GRAFT_SCALE_FULL=1): the artifact memo is cleared
  *    before EVERY timed execution, so each sample pays its complete
  *    derivation — artifact build included. This is the honest 10×
  *    check for the builds themselves.
  *
  * Usage: runMain graft.ScaleCheck [sfA sfB [reps [partsA partsB]]]
  *
  * partsA/partsB (r8 verdict #1 — the CLUSTER ANALOGUE): per-dir
  * spark.sql.shuffle.partitions, set at runtime before each sample.
  * On a real cluster shuffle width scales with input while cores scale
  * with width; on fixed local cores, scaling partitions with the data
  * (8 at sf1 → 80 at sf10) holds PER-PARTITION work flat and the 80
  * tasks drain through 8 cores in ~10 waves — so a plan whose only
  * supra-linear term is per-partition n·log n (dedup_winnow_pairs'
  * postings sort at fixed width) should read ≈10× wall per 10× rows
  * here, and anything still supra-linear under scaled width is a real
  * plan defect, not a measurement artifact. Defaults: both 8 (the r8
  * fixed-width regime, unchanged).
  */
object ScaleCheck {
  val DefaultTier: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_winnow_pairs", "dedup_ngram_jaccard",
    "dedup_simhash_pairs", "doc_substring_dedup", "doc_substring_strip",
    "emb_semdedup", "percentiles", "percentiles_dist", "doc_token_budget",
    "doc_ingest_cascade", "sessionize")

  /** SPARK_GRAFT_SCALE_TIER (comma-separated) overrides the tier — the
    * sf10 fixed-width regime makes single entries hour-scale (winnow's
    * 8-partition spill), so the ladder runs are split to keep each
    * invocation bounded and its failures attributable. */
  def Tier: Seq[String] = sys.env.get("SPARK_GRAFT_SCALE_TIER")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .getOrElse(DefaultTier)

  def main(args: Array[String]): Unit = {
    val sfA = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val sfB = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val partsA = if (args.length > 3) args(3).toInt else 8
    val partsB = if (args.length > 4) args(4).toInt else 8
    val parts = Map(sfA -> partsA, sfB -> partsB)
    val spark = Harness.session(8)

    val full = sys.env.get("SPARK_GRAFT_SCALE_FULL").contains("1")
    def run(name: String, dir: String): Double = {
      if (full) Artifacts.unpersistAll()
      // runtime-mutable conf: width follows the data, as on a cluster
      spark.conf.set("spark.sql.shuffle.partitions", parts(dir).toString)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (full) println("[scale] FULL-derivation regime (memo cleared per sample)")
    if (partsA != partsB)
      println(s"[scale] scaled-width regime: $sfA@$partsA parts, $sfB@$partsB parts")
    // cold pass both dirs (codegen + artifact builds, measured apart)
    for (dir <- Seq(sfA, sfB); q <- Tier) {
      val t = run(q, dir)
      println(f"[scale-cold] $q%-22s $dir%-22s $t%8.2f s")
    }
    val samples = collection.mutable.Map.empty[(String, String), List[Double]]
      .withDefaultValue(Nil)
    for (_ <- 1 to reps; q <- Tier; dir <- Seq(sfA, sfB))
      samples((q, dir)) ::= run(q, dir)
    def med(xs: List[Double]) = xs.sorted.apply(xs.size / 2)
    println(f"[scale] ${"query"}%-22s ${"a_med"}%8s ${"a_min"}%8s ${"b_med"}%8s ${"b_min"}%8s ${"ratio_med"}%9s ${"ratio_min"}%9s")
    Tier.foreach { q =>
      val a = samples((q, sfA)); val b = samples((q, sfB))
      println(f"[scale] $q%-22s ${med(a)}%8.2f ${a.min}%8.2f ${med(b)}%8.2f ${b.min}%8.2f ${med(b) / med(a)}%9.1f ${b.min / a.min}%9.1f")
    }
    Artifacts.unpersistAll()
    spark.stop()
  }
}
