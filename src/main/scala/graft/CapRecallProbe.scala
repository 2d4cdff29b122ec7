package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The RECALL face of `suggestDfCap` (round 11, r10 verdict #1). The
  * recommender optimizes COST — the largest df cap within a
  * mass-per-posting target — and r9/r10 measured that planted
  * near-pair keys' df grows with the corpus, so at some ladder rung a
  * cost-driven cap must start shedding true near-dup evidence. This
  * probe measures WHERE, per rung × sweep, against the generator's
  * planted-pair ledger (tools/gen_sf1.py writes planted_pairs.parquet:
  * exact pairs = identical text, near pairs = 80% shared token prefix
  * + fresh tail; sf0.1 is the unplanted source rung, caps/mass only).
  *
  * Per (dir, sweep ∈ {winnow, jaccard, simhash}) it reports:
  *  - the suggested cap at the default 16 pairs/posting target, and
  *    pair mass at {suggested, 50, 200, 1000};
  *  - ANALYTIC near/exact pair-face recall at those caps: a planted
  *    pair is emitted by the candidate stage iff ≥1 key shared by both
  *    docs survives the df-cut, i.e. min-shared-key-df ≤ cap (for
  *    simhash, additionally Hamming(sh1, sh2) ≤ 2 — the verify stage);
  *    winnow/jaccard emit every surviving candidate scored, so the
  *    analytic count IS end-to-end;
  *  - the near-pair min-shared-df distribution (p50/p90/p95/max) — the
  *    FLOOR a quality-target cap must respect at that rung — plus the
  *    count of planted pairs sharing no key at all (unreachable by the
  *    sweep at ANY cap);
  *  - an END-TO-END cross-check: the real sweep frame at the suggested
  *    cap and at 50, counted against the ledger (skipped with a note
  *    when the pre-flight measures mass past the gate — the probe eats
  *    its own cooking instead of wedging on a 3G-pair stage);
  *  - GROUP-FACE coverage: md5-text equality (dedupExact's key) and
  *    simhash-fingerprint equality per planted pair — what the
  *    cap-independent group faces still catch when the pair face sheds.
  *
  * Usage: runMain graft.CapRecallProbe [dirA dirB ...]
  */
object CapRecallProbe {
  private val Caps = Seq(50, 200, 1000)
  private val MassGate = 300000000L // pairs; past this, skip the e2e run

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_sf1", "/tmp/graft_sf10")
    val spark = Harness.session(16, 32)
    import spark.implicits._

    for (dir <- dirs) {
      val docs = Tables.documentsPar(spark, dir)
      val plantedPath = s"$dir/planted_pairs.parquet"
      // Hadoop FS existence (r11 ADVICE #3): java.io.File silently
      // reports "no ledger" for any non-local filesystem dir
      val hp = new org.apache.hadoop.fs.Path(plantedPath)
      val planted: Option[DataFrame] =
        if (hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(hp))
          Some(spark.read.parquet(plantedPath).localCheckpoint(true))
        else None
      planted match {
        case Some(p) =>
          val byKind = p.groupBy("kind").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          println(s"[recall] $dir planted: " +
            s"exact=${byKind.getOrElse("exact", 0L)} " +
            s"near=${byKind.getOrElse("near", 0L)}")
          // group faces are cap-independent: md5(text) (dedupExact's
          // grouping key) and the 60-bit simhash fingerprint
          val md5s = docs.select(col("doc_id"),
            md5(col("text").cast("binary")).as("gfp"))
          val sh = operators.MinHashOps.simhashShared(docs, 60)
            .withColumnRenamed("sh", "gfp")
          for ((face, keys) <- Seq(("md5_text", md5s), ("simhash60", sh))) {
            val cov = p
              .join(keys.select(col("doc_id").as("d1"), col("gfp").as("f1")), "d1")
              .join(keys.select(col("doc_id").as("d2"), col("gfp").as("f2")), "d2")
              .groupBy("kind").agg(
                count(lit(1)).as("n"),
                sum(when(col("f1") === col("f2"), 1L).otherwise(0L)).as("eq"))
              .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
              .sortBy(_._1)
            println(s"[recall] $dir group-face $face: " + cov.map {
              case (k, n, eq) => f"$k $eq/$n (${100.0 * eq / n}%.1f%%)"
            }.mkString("  "))
          }
        case None =>
          println(s"[recall] $dir no planted_pairs.parquet — caps/mass only")
      }

      for (sweep <- Seq("winnow", "jaccard", "simhash")) {
        val (e, keys) = postings(spark, dir, sweep)
        val sugg = operators.TextOps.suggestDfCap(e, keys)
        val capSet = (sugg +: Caps).distinct.sorted
        val masses = capSet.map(c =>
          c -> operators.TextOps.pairMass(e, keys, c)).toMap
        println(f"[recall] $dir%-20s $sweep%-8s sugg_cap=$sugg%-5d " +
          capSet.map { c =>
            val m = masses(c)
            f"mass@$c=${m.mass}%,d (${m.massPerPosting}%.1f/p)"
          }.mkString("  "))

        planted.foreach { p =>
          // analytic min shared-key df per planted pair — the LIBRARY
          // face (r11 verdict #4): TextOps.recallFloor is this probe's
          // former inline computation, promoted; simhash routes
          // through the verify-stage variant
          val scored = (if (sweep == "simhash")
              operators.MinHashOps.simhashRecallFloor(docs,
                p.select("d1", "d2", "kind"))
            else operators.TextOps.recallFloor(e, keys,
              p.select("d1", "d2", "kind")))
            .localCheckpoint(true)
          for (kind <- Seq("near", "exact")) {
            val k = scored.filter(col("kind") === kind)
            // REACHABLE = findable by this sweep with NO cap at all:
            // ≥1 shared key (and Hamming ≤ 2 for simhash's verify).
            // The rest is sweep SCOPE, not cap loss — jaccard keys on
            // (lang, gram) and the ledger plants cross-lang pairs;
            // simhash's "near" is Hamming≤2, tighter than the planted
            // 80% token overlap. Recall vs cap is measured against
            // the reachable set: what the CAP sheds of what the
            // uncapped sweep would have found.
            val st = operators.TextOps.recallFloorStats(k)
            if (st.pairs > 0) {
              val reachable = k.filter(col("min_df").isNotNull)
              val rec = capSet.map { c =>
                val f = reachable.filter(col("min_df") <= c).count()
                val pct = if (st.reachable == 0) 100.0
                  else 100.0 * f / st.reachable
                f"@$c=$f/${st.reachable} ($pct%.0f%%)"
              }.mkString("  ")
              println(f"[recall] $dir $sweep $kind pair-face: " +
                f"reachable=${st.reachable}/${st.pairs} " +
                f"(${100.0 * st.reachable / st.pairs}%.0f%% of " +
                s"planted)  of reachable: $rec")
              if (kind == "near" && st.reachable > 0)
                println(f"[recall] $dir $sweep near min-shared-df: " +
                  f"p50=${st.p50}%.0f p90=${st.p90}%.0f p95=${st.p95}%.0f " +
                  f"max=${st.max}%.0f (the cap for FULL reachable recall)")
            }
          }
          // end-to-end cross-check at the suggested cap and at 50,
          // gated by the pre-flight's own mass measurement
          for (c <- Seq(sugg, 50).distinct.filter(_ > 0)) {
            if (masses.getOrElse(c,
                operators.TextOps.pairMass(e, keys, c)).mass > MassGate)
              println(s"[recall] $dir $sweep e2e@$c SKIPPED (mass gate)")
            else {
              val out = pairFrame(spark, dir, sweep, c)
                .select("d1", "d2").distinct()
              val near = p.filter(col("kind") === "near")
              val found = near.join(out, Seq("d1", "d2"), "left_semi").count()
              println(s"[recall] $dir $sweep e2e@$c near found=" +
                s"$found/${near.count()}")
            }
          }
        }
        Artifacts.unpersistAll()
      }
    }
    spark.stop()
  }

  /** The sweep's exact postings frame: (doc_id, keys…). */
  private def postings(spark: SparkSession, dir: String,
      sweep: String): (DataFrame, Seq[String]) = sweep match {
    case "winnow" =>
      (operators.TextOps.winnowSel(spark, dir)
        .select(col("doc_id"), explode(col("sel")).as("fp")), Seq("fp"))
    case "jaccard" =>
      (operators.TextOps.gramsTable(spark,
          Tables.documentsPar(spark, dir))
        .select(col("doc_id"), col("lang"), explode(col("grams")).as("gram")),
        Seq("lang", "gram"))
    case "simhash" =>
      val docs = Tables.documentsPar(spark, dir)
      (operators.MinHashOps.simhashProbes(
        operators.MinHashOps.simhashShared(docs, 60), 60),
        Seq("band_idx", "probe"))
  }

  /** The sweep's real pair output at a cap (un-truncated). */
  private def pairFrame(spark: SparkSession, dir: String, sweep: String,
      cap: Int): DataFrame = sweep match {
    case "winnow" =>
      val e = operators.TextOps.winnowSel(spark, dir)
        .withColumn("n_sel", size(col("sel")).cast("long"))
        .select(col("doc_id"), col("n_sel"), explode(col("sel")).as("fp"))
      operators.TextOps.postingsPairs(spark, e, Seq("fp"),
          struct(col("doc_id"), col("n_sel")), cap)
        .select(col("l.doc_id").as("d1"), col("r.doc_id").as("d2"))
    case "jaccard" =>
      operators.TextOps.ngramJaccardPairsFrame(spark,
        Tables.documentsPar(spark, dir), cap)
    case "simhash" =>
      operators.MinHashOps.simhashPairsFrame(spark,
        Tables.documentsPar(spark, dir), cap)
  }
}
