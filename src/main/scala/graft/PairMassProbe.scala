package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pair-mass diagnostic for the postings pair sweep (round 9): the
  * pair stage of dedup_winnow_pairs / dedup_ngram_jaccard emits
  * Σ_{groups with df ≤ cap} df·(df−1)/2 rows — pair MASS, the true
  * scale driver. Between scale factors a gram's df grows WITH the
  * corpus, so per-posting pair fanout grows too until the group
  * crosses the cap and is dropped: at a fixed ABSOLUTE cap the pair
  * stage has a QUADRATIC regime in corpus size that ends only when
  * the mid-frequency grams saturate the cut (mass/posting is bounded
  * by (cap−1)/2, so the asymptote is input-linear with a cap-sized
  * constant). This probe measures the mass at several caps per dir,
  * plus the WALL of the full pair queries at the small cap — the
  * demonstration that wall tracks mass: at a cap where mass stays
  * input-linear, so does the wall, at scaled shuffle width.
  *
  * Usage: runMain graft.PairMassProbe [dirA dirB ...]
  *   SPARK_GRAFT_PAIR_WALL=0 skips the wall section (mass only).
  *
  * The LIBRARY face of this measurement is `TextOps.pairMass` /
  * `pairMassPreflight` (r9 verdict #3): one aggregate returning the
  * exact pair-stage row count at a cap, with a WARN + counter past
  * `TextOps.PairMassWarnRatio` — what a production caller runs before
  * a sweep; this main remains the multi-cap histogram diagnostic.
  */
object PairMassProbe {
  private val Caps = Seq(50, 200, 1000)

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_sf1", "/tmp/graft_sf10")
    val spark = Harness.session(8, 16)
    println(s"[pairmass] caps = ${Caps.mkString("/")}; mass(c) = " +
      "Σ_{df≤c} df·(df−1)/2 (groups above c are dropped by the df-cut)")
    println(f"[pairmass] ${"dir"}%-22s ${"kind"}%-7s ${"postings"}%12s " +
      f"${"keys"}%12s ${"df=1"}%10s ${"2-10"}%10s ${"11-100"}%10s " +
      f"${"101-1k"}%10s ${">1k"}%8s ${"mass50"}%12s ${"mass200"}%13s " +
      f"${"mass1000"}%14s")
    for (dir <- dirs) {
      val win = graft.operators.TextOps.winnowSel(spark, dir)
        .select(explode(col("sel")).as("k")).groupBy("k")
        .agg(count(lit(1)).as("df"))
      report(dir, "winnow", win)
      // the n-gram Jaccard postings key is (lang, gram) over ALL
      // shingles — same sweep, denser postings
      val docs = graft.Tables.documentsPar(spark, dir)
      val jac = graft.operators.TextOps.gramsTable(spark, docs)
        .select(col("lang"), explode(col("grams")).as("gram"))
        .groupBy("lang", "gram").agg(count(lit(1)).as("df"))
      report(dir, "jaccard", jac)
      Artifacts.unpersistAll()
    }

    if (!sys.env.get("SPARK_GRAFT_PAIR_WALL").contains("0")) {
      // WALL at the production-lever cap (50): per-dir shuffle width
      // scales with the data (8 at ≤sf1, 80 at sf10 — the cluster
      // analogue), medians of 3 per entry. Mass at cap 50 is
      // input-linear (table above), so an input-linear wall here is
      // the "no supra-linear plan at the production cap" verdict.
      println("[pairwall] cap=50 walls (median of 3; width 8 below 100k " +
        "docs, 80 above — scaled with data)")
      for (dir <- dirs) {
        val nDocs = graft.Tables.documentsPar(spark, dir).count()
        val parts = if (nDocs > 100000L) 80 else 8
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        def medWall(f: => DataFrame): Double = {
          val ts = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            f.write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          ts.sorted.apply(1)
        }
        val wWin = medWall(
          graft.operators.TextOps.winnowPairs(spark, dir, dfCap = 50))
        val wJac = medWall {
          val docs = graft.Tables.documentsPar(spark, dir)
          graft.operators.TextOps
            .ngramJaccardPairsFrame(spark, docs, dfCap = 50)
            .orderBy(col("jaccard").desc, col("d1"), col("d2")).limit(100)
        }
        println(f"[pairwall] $dir%-22s parts=$parts%-3d " +
          f"winnow_pairs=$wWin%7.2f s  ngram_jaccard=$wJac%7.2f s")
        Artifacts.unpersistAll()
      }
    }

    // SIMHASH under its levers (r9 verdict #2): the tier-A ceiling
    // (10.4-10.8× per 10× rows at suite defaults 60-bit/cap-1000) is
    // the same pair-mass mechanism — its band-key df grows with the
    // corpus (the synthetic replicas are token SHUFFLES, and SimHash
    // is bag-of-words, so every replica family shares ONE fingerprint:
    // band df ≈ family size). Three configs per dir at SCALED width:
    // suite default; the production cap (50); and the N-derived width
    // (defaultSimhashBits — the minimum width keeping expected RANDOM
    // band df under cap/2). mass = TextOps.pairMass over the sweep's
    // own probe frame; pairs = Hamming≤2 output rows (the recall face:
    // a config that drops true-dup buckets shows it here).
    if (!sys.env.get("SPARK_GRAFT_SIM_WALL").contains("0")) {
      println("[simwall] config walls (median of 3, amortized; width 8 " +
        "below 100k docs, 80 above)")
      for (dir <- dirs) {
        val docs = graft.Tables.documentsPar(spark, dir)
        val n = docs.count()
        val parts = if (n > 100000L) 80 else 8
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val nBits = graft.operators.MinHashOps.defaultSimhashBits(n)
        // dedupe by (bits, cap): at N large enough that the N-derived
        // width clamps to 60, the third config would repeat the first
        // under an identical label (r10 review)
        val configs = (Seq(
          ("60b_cap1000", 60, graft.operators.TextOps.DfCap),
          ("60b_cap50", 60, 50)) ++
          (if (nBits != 60)
            Seq((s"${nBits}b_cap1000", nBits, graft.operators.TextOps.DfCap))
          else Seq.empty))
        for ((label, bits, cap) <- configs) {
          val sh = graft.operators.MinHashOps.simhashShared(docs, bits)
          val pm = graft.operators.TextOps.pairMass(
            graft.operators.MinHashOps.simhashProbes(sh, bits),
            Seq("band_idx", "probe"), cap)
          def frame = graft.operators.MinHashOps
            .simhashPairsFrame(spark, docs, cap, bits)
          val ts = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            frame.write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          val pairs = frame.count()
          println(f"[simwall] $dir%-22s $label%-14s parts=$parts%-3d " +
            f"mass=${pm.mass}%,14d (${pm.massPerPosting}%8.2f/posting) " +
            f"wall=${ts.sorted.apply(1)}%7.2f s  pairs=$pairs%,12d")
          Artifacts.unpersistAll()
        }
      }
    }
    spark.stop()
  }

  private def report(dir: String, kind: String, dfs: DataFrame): Unit = {
    def massAt(cap: Int) = sum(when(col("df") <= cap,
      graft.operators.TextOps.pairCount(col("df"))).otherwise(0L))
    val r = dfs.agg(
      sum(col("df")).as("postings"),
      count(lit(1)).as("keys"),
      sum(when(col("df") === 1, 1L).otherwise(0L)).as("b1"),
      sum(when(col("df").between(2, 10), 1L).otherwise(0L)).as("b2"),
      sum(when(col("df").between(11, 100), 1L).otherwise(0L)).as("b3"),
      sum(when(col("df").between(101, 1000), 1L).otherwise(0L)).as("b4"),
      sum(when(col("df") > 1000, 1L).otherwise(0L)).as("b5"),
      massAt(Caps(0)).as("m0"), massAt(Caps(1)).as("m1"),
      massAt(Caps(2)).as("m2")).head
    println(f"[pairmass] $dir%-22s $kind%-7s ${r.getLong(0)}%12d " +
      f"${r.getLong(1)}%12d ${r.getLong(2)}%10d ${r.getLong(3)}%10d " +
      f"${r.getLong(4)}%10d ${r.getLong(5)}%10d ${r.getLong(6)}%8d " +
      f"${r.getLong(7)}%12d ${r.getLong(8)}%13d ${r.getLong(9)}%14d")
  }
}
