package graft

import org.apache.spark.sql.functions._

/** ERASURE AT STORE SCALE (round 12). IngestPipeline.forget is
  * spec-covered (crash matrix, idempotence, searchCorpus coherence)
  * but had only ever run with ≤ 2 ids against ≤ 50-doc stores; the
  * composed-ingest soaks (BASELINE.md §Round 12) left 500k-doc stores
  * behind, so this main measures the path a real right-to-be-forgotten
  * batch takes against one of them — the same run-it-at-10×
  * methodology that flushed out the IsinThreshold broadcast bug:
  *  - a MULTI-THOUSAND-id purge (the `isin` crosses Spark's
  *    InSet-conversion threshold for the first time on this path, and
  *    the staged full rewrites run at real store mass);
  *  - the per-stage wall split (corpus / near grams / near postings /
  *    substr grams / index — the five staged sub-purges);
  *  - idempotence at scale (the timed re-run with the same ids must
  *    remove 0 and not rewrite);
  *  - post-erasure serving: searchCorpus still answers, the next
  *    mergeBatch still screens (a stored dup still rejects; an erased
  *    text's readmission outcome is REPORTED — with surviving replica
  *    near-families the near screen may still catch it, which is the
  *    documented erasure/dedup trade, not a defect);
  *  - compactAll after the purge (sheds the superset bloom slack the
  *    forget leaves behind), timed.
  *
  * Usage: runMain graft.ForgetProbe [root [nForget [docsDir]]]
  */
object ForgetProbe {
  def main(args: Array[String]): Unit = {
    val root = if (args.length > 0) args(0)
      else sys.error("pass the store root (a soak's /tmp/graft-pipebench-*/p)")
    val nForget = if (args.length > 1) args(1).toInt else 10000
    val docsDir = if (args.length > 2) args(2) else "/tmp/graft_sf10"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = Harness.session(cpus)
    import spark.implicits._

    def rows(p: String): Long =
      try spark.read.parquet(p).count() catch { case _: Exception => -1L }
    val corpus = streaming.IngestPipeline.corpusDir(root)
    val near = streaming.IngestPipeline.nearDir(root)
    val substr = streaming.IngestPipeline.substrDir(root)
    val index = streaming.IngestPipeline.indexDir(root)
    println(s"[forget] store sizes: corpus=${rows(corpus)} " +
      s"near_grams=${rows(s"$near/grams")} " +
      s"near_postings=${rows(s"$near/postings")} " +
      s"substr_grams=${rows(s"$substr/grams")}")

    // deterministic sample: the lowest nForget admitted ids (includes
    // the vector index's earliest docs — the retrain-sensitive end)
    val ids = spark.read.parquet(corpus).select("doc_id").as[Long]
      .orderBy(col("doc_id")).limit(nForget).collect().toSeq
    println(s"[forget] erasing ${ids.size} ids " +
      s"(${ids.head}..${ids.last})")

    val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var t0 = System.nanoTime()
    val removed = streaming.IngestPipeline.forget(spark, root, ids,
      afterStage = s => marks(s) = (System.nanoTime() - t0) / 1e9)
    val wall = (System.nanoTime() - t0) / 1e9
    val stages = (marks.toSeq.headOption.map { case (k, t) => k -> t } ++
      marks.toSeq.sliding(2).collect { case Seq((_, a), (k, t)) => k -> (t - a) })
      .map { case (k, v) => f"$k=$v%.1f" }.mkString(" ")
    println(f"[forget] removed=$removed wall=$wall%.1f s  $stages")

    t0 = System.nanoTime()
    val again = streaming.IngestPipeline.forget(spark, root, ids)
    println(f"[forget] idempotent re-run: removed=$again " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.1f s")

    println(s"[forget] post-erasure sizes: corpus=${rows(corpus)} " +
      s"near_grams=${rows(s"$near/grams")} " +
      s"near_postings=${rows(s"$near/postings")} " +
      s"substr_grams=${rows(s"$substr/grams")}")

    // serving face: filtered search over the erased store, queried by
    // the hash-embeds of three SURVIVING docs (the index's own space)
    val q = spark.read.parquet(corpus)
      .orderBy(col("doc_id").desc).limit(3)
      .withColumn("toks", operators.TextOps.tokens)
      .select(col("doc_id").as("vec_id"),
        plans.GraftFunctions.graftHashEmbed("toks")
          .cast("array<double>").as("embedding"))
    t0 = System.nanoTime()
    val hits = streaming.IngestPipeline.searchCorpus(spark, root, q,
      pred = col("lang").isNotNull, k = 3).count()
    println(f"[forget] searchCorpus post-erasure: $hits hits " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // screening faces on the erased store: an erased text re-arrives
    // under a fresh id (outcome reported — near family may survive),
    // and a STORED doc's text must still exact-reject
    val erasedText = spark.read.parquet(s"$docsDir/documents.parquet")
      .filter(col("doc_id") === ids.head).select("lang", "source", "text")
      .collect().head
    val storedId = spark.read.parquet(corpus).select("doc_id").as[Long]
      .orderBy(col("doc_id").desc).limit(1).collect().head
    val storedText = spark.read.parquet(s"$docsDir/documents.parquet")
      .filter(col("doc_id") === storedId).select("lang", "source", "text")
      .collect().head
    val batch = Seq(
      (900000001L, erasedText.getString(2), erasedText.getString(0),
        erasedText.getString(1)),
      (900000002L, storedText.getString(2), storedText.getString(0),
        storedText.getString(1)))
      .toDF("doc_id", "text", "lang", "source")
    t0 = System.nanoTime()
    val r = streaming.IngestPipeline.mergeBatch(spark, batch, root,
      batchId = 990L)
    println(f"[forget] readmission batch (erased text + stored dup): $r " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.1f s " +
      "(stored dup MUST reject; erased text admits unless a surviving " +
      "near/substr family catches it - the documented trade)")

    t0 = System.nanoTime()
    streaming.IngestPipeline.compactAll(spark, root)
    println(f"[forget] compactAll after purge: " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s (bloom slack shed)")
    Artifacts.unpersistAll()
    spark.stop()
  }
}
