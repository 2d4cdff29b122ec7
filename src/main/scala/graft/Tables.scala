package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every reader goes through `spark.read.parquet` so Catalyst's parquet
  * scan gives us column pruning + predicate pushdown for free — at 100 TB
  * the scan must only read the columns/row-groups a query touches.
  *
  * The base relation is MEMOIZED per (session, dir, name):
  * `spark.read.parquet` pays file-listing + footer schema-inference
  * jobs on every call, so un-memoized each of ~70 query builds re-ran
  * that metadata work per referenced table (measured: ~2 jobs per
  * build, 84 jobs for one full view registration). One DataFrame per
  * table is the metastore-catalog behavior production gets from
  * `saveAsTable`; reusing the analyzed relation plan is free — every
  * query still gets its own pruning/pushdown on top. Memos release via
  * Artifacts.unpersistAll (same lifecycle as the cached artifacts).
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Artifacts.memo(s"table:$sfDir/$name", spark) {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }

  /** SCALE-ADAPTIVE source spread (optimization guide §2.5, "input
    * skew: one huge unsplittable file"): spread an under-split source
    * round-robin BEFORE heavy per-row compute, but only when the scan's
    * ACTUAL split count leaves more than half the cores idle — a
    * production table with enough splits passes through UNTOUCHED (the
    * gate reads the real partition count, so at 100 TB no repartition
    * enters the plan). Applied ONLY to the interpreted-HOF corpora
    * (documents/embeddings): an r17 A/B measured the blanket variant on
    * events/orders/lineitem a clear LOSS at bench scale — 41 affected
    * queries' per-query mins moved ×1.70 median while 70 untouched
    * queries moved ×1.07 (ambient) — because those scans are
    * IO-shaped, and the round-robin exchange + extra AQE stage cost
    * more than the single-task scan they relieve. The decision and the
    * spread frame are memoized per (session, table) alongside the base
    * relation. */
  private[graft] def par(s: SparkSession, df: DataFrame, key: String): DataFrame =
    Artifacts.memo(s"par:$key", s) {
      val target = s.sparkContext.defaultParallelism
      val splits = df.rdd.getNumPartitions // resolves splits; runs no job
      if (splits * 2 <= target) df.repartition(target) else df
    }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.parquet's `ts` has shipped in two physical layouts across
    * driver testdata generations: TIMESTAMP(NANOS) — which Spark's
    * parquet reader rejects by default, so it is read as raw nanos longs
    * (runtime SQLConf, set idempotently here so every entry point works
    * under any session) and rebuilt as a micros `ts`, the same ns→µs
    * truncation DuckDB applies casting TIMESTAMP_NS to TIMESTAMP — and
    * plain TIMESTAMP micros without a UTC flag, which Spark surfaces as
    * TIMESTAMP_NTZ and DuckDB as naive TIMESTAMP. Dispatch on the type
    * actually read so both generations keep oracle parity: every graft
    * session pins the UTC session timezone, under which the NTZ→TZ cast
    * is the identity on the wall-clock DuckDB's epoch_ms sees. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // memoized like the raw relation (r17 session 4): ~25 queries build
    // on events, and returning a FRESH withColumn frame per call both
    // re-ran its analysis per rep and defeated reference-keyed artifact
    // faces downstream (Artifacts.face holds the input by identity)
    Artifacts.memo(s"events+ts:$d", s) {
      import org.apache.spark.sql.functions._
      val raw = table(s, d, "events")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** documents/embeddings ship as one small parquet file → one input
    * partition — but their operators run interpreted higher-order
    * functions per row (hashing, folds), so the work is CPU-bound, not
    * IO-bound. Spread it across the cluster up front — through the same
    * adaptive gate as the fact tables (r17): on a real 100 TB table the
    * source has thousands of splits and the repartition now literally
    * disappears from the plan instead of re-shuffling the corpus. */
  def documentsPar(s: SparkSession, d: String): DataFrame =
    par(s, documents(s, d), s"$d/documents")
  def embeddingsPar(s: SparkSession, d: String): DataFrame =
    par(s, embeddings(s, d), s"$d/embeddings")

  /** This build ships Avro INSIDE spark-sql but without the
    * DataSourceRegister service entry for the short name "avro" —
    * address the format by class. */
  val AvroFormat = "org.apache.spark.sql.avro.AvroFileFormat"

  /** FORMAT-AGNOSTIC table loading — the library's operators take
    * DataFrames, so a corpus landed in any of Spark's built-in formats
    * drives the same queries; this is the documented on-ramp.
    *
    *  - `parquet` / `orc`: self-describing columnar — column pruning +
    *    predicate pushdown reach the scan exactly as with the test
    *    tables (SourceFormatsSpec pins PushedFilters on the ORC scan).
    *  - `csv` / `json` / avro (`AvroFormat`): row formats; `schema` is
    *    REQUIRED — for csv/json, inference is an extra full pass over
    *    the data, never acceptable at 100 TB (and inference can
    *    mistype columns); avro self-describes cheaply, but an explicit
    *    schema keeps the read deterministic under schema evolution.
    *
    * Memoized like `table` — the key carries format, path, options AND
    * the schema, so re-reading the same path under an evolved schema
    * (or schemaless, to hit the require) can never serve the stale
    * relation. */
  def tableAs(spark: SparkSession, path: String, format: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      options: Map[String, String] = Map.empty): DataFrame =
    Artifacts.memo(
      s"tableAs:$format:$path:" + options.toSeq.sorted.mkString(",") + ":" +
        schema.map(_.catalogString).getOrElse("<none>"), spark) {
      val reader = spark.read.format(format).options(options)
      schema match {
        case Some(sc) => reader.schema(sc).load(path)
        case None =>
          require(format == "parquet" || format == "orc",
            s"$format needs an explicit schema: inference is a second " +
              "full scan and mistypes columns")
          reader.load(path)
      }
    }
}
