package graft
import graft.plans.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Throwaway decomposition probe for the doGenCode decision (VERDICT r1
  * next-round #9): how much of dedup_minhash_lsh is the custom-expression
  * stage at all, and of that, how much could codegen possibly reclaim. */
object DecompProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(tag: String)(f: => Unit): Double = {
      f // warm
      val t0 = System.nanoTime(); f; val s = (System.nanoTime() - t0) / 1e9
      println(f"[decomp] $tag%-22s $s%.3f s"); s
    }
    val docs = Tables.documentsPar(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
    time("scan+tokenize") {
      docs.select(col("doc_id"), size(col("toks")).as("n"))
        .write.format("noop").mode("overwrite").save()
    }
    time("trigrams") {
      docs.select(col("doc_id"),
        size(GraftFunctions.graftTrigrams("toks")).as("n"))
        .write.format("noop").mode("overwrite").save()
    }
    time("trigrams+minhash") {
      docs.select(col("doc_id"),
        GraftFunctions.graftTrigrams("toks").as("grams"))
        .select(col("doc_id"),
          size(GraftFunctions.graftMinhash("grams")).as("n"))
        .write.format("noop").mode("overwrite").save()
    }
    time("full dedup_minhash_lsh") {
      SparkEntry.queries("dedup_minhash_lsh")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    // ---- IVF assignment share (VERDICT r4 next-round #8) ----
    // assign − norm isolates the 16-dot top-2 assignment. The composed
    // form (16 interpreted fold-dots + 16-struct sort_array) measured
    // 31%/27% of the full queries — over the r2 doGenCode gate's 20%
    // line — which is why ivfTail now runs the single-pass
    // IvfAssignTop2 expression; both stages stay measured here.
    import graft.operators.EmbeddingOps
    val norm = time("ivf: norm only") {
      EmbeddingOps.ivfNormOnly(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    val composed = time("ivf: assign composed") {
      EmbeddingOps.ivfAssignOnly(spark, sfDir, composed = true)
        .write.format("noop").mode("overwrite").save()
    }
    val custom = time("ivf: assign custom") {
      EmbeddingOps.ivfAssignOnly(spark, sfDir, composed = false)
        .write.format("noop").mode("overwrite").save()
    }
    val ivf = time("full emb_ann_ivf") {
      SparkEntry.queries("emb_ann_ivf")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    val ivf2 = time("full emb_ann_ivf2") {
      SparkEntry.queries("emb_ann_ivf2")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    println(f"[decomp] assign custom/composed ${custom - norm}%.3f/${composed - norm}%.3f s; " +
      f"custom share: ivf ${(custom - norm) / ivf * 100}%.1f%% " +
      f"ivf2 ${(custom - norm) / ivf2 * 100}%.1f%%")
    // ---- hash-embed top-k dot share (round 6 LongDot decision) ----
    // same pair scan, dot = composed aggregate(zip_with) fold vs the
    // LongDot JVM loop — the measurement behind using LongDot in
    // hashEmbedTopK (the r2 doGenCode gate discipline).
    import graft.operators.TextOps
    val dotComposed = time("hashtopk: composed dot") {
      TextOps.hashEmbedTopKProbe(spark, sfDir, composedDot = true)
        .write.format("noop").mode("overwrite").save()
    }
    val dotCustom = time("hashtopk: LongDot") {
      TextOps.hashEmbedTopKProbe(spark, sfDir, composedDot = false)
        .write.format("noop").mode("overwrite").save()
    }
    println(f"[decomp] hashtopk dot composed ${dotComposed}%.3f s vs " +
      f"LongDot ${dotCustom}%.3f s (${dotComposed / dotCustom}%.1fx)")
    // ---- doc_fingerprint fp_roll share (VERDICT r7 next-round #3) ----
    // fp_roll is an interpreted `aggregate` HOF folding a per-token
    // md5-prefix — the heaviest per-row compute in the suite under
    // load. Measure its share of the full query: the r2 doGenCode gate
    // (≥20% of the query) decides whether a RollingHashUnits
    // expression is warranted.
    val fpBase = time("fingerprint: sans roll") {
      Tables.documentsPar(spark, sfDir)
        .withColumn("toks", graft.operators.TextOps.tokens)
        .withColumn("fp_md5", md5(col("text").cast("binary")))
        .withColumn("fp64",
          conv(substring(col("fp_md5"), 1, 15), 16, 10).cast("long"))
        .withColumn("n_shingles",
          size(GraftFunctions.graftTrigrams("toks")).cast("long"))
        .select("doc_id", "fp_md5", "fp64", "n_shingles")
        .write.format("noop").mode("overwrite").save()
    }
    val fpComposed = time("fingerprint: composed") {
      Tables.documentsPar(spark, sfDir)
        .withColumn("toks", graft.operators.TextOps.tokens)
        .withColumn("fp_md5", md5(col("text").cast("binary")))
        .withColumn("fp64",
          conv(substring(col("fp_md5"), 1, 15), 16, 10).cast("long"))
        .withColumn("n_shingles",
          size(GraftFunctions.graftTrigrams("toks")).cast("long"))
        .withColumn("fp_roll",
          graft.operators.TextOps.fpRollComposed(col("toks")))
        .select("doc_id", "fp_md5", "fp64", "n_shingles", "fp_roll")
        .write.format("noop").mode("overwrite").save()
    }
    val fpFull = time("full doc_fingerprint") {
      SparkEntry.queries("doc_fingerprint")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    println(f"[decomp] composed fp_roll ${fpComposed - fpBase}%.3f s = " +
      f"${(fpComposed - fpBase) / fpComposed * 100}%.1f%% of the composed " +
      f"query (gate: >=20%% -> RollingHashUnits; measured 55%% r8, landed); " +
      f"custom-vs-composed ${fpComposed}%.3f -> ${fpFull}%.3f s")
    spark.stop()
  }
}
