package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the harness mains (Bench, Verify, Smoke
  * and the record mains): the settings every measurement of this repo
  * runs under, held once. */
object Harness {
  /** `local[cores]` with `partitions` shuffle partitions, the UTC
    * session timezone every oracle compare assumes, no UI, WARN logs,
    * and the two r17 settings:
    *  - a 4096-entry codegen class cache (guide §1.2 step 3): the
    *    112-query suite compiles several hundred DISTINCT generated
    *    classes per interleaved rep round, so the default 100-entry LRU
    *    evicted nearly every entry before its query's next rep and
    *    non-WSCG projections recompiled INSIDE tasks — a fixed Janino
    *    tax on every stage. A JVM compile cache, not a data/core
    *    setting; production multi-query sessions size it to their plan
    *    count the same way.
    *  - the SERIALIZED SORT shuffle writer (`bypassMergeThreshold=1`,
    *    r17 session 4, guide §2.1-2.2) — the path every production
    *    shuffle takes, since bypass only triggers at ≤ 200 partitions
    *    and a 100 TB job runs thousands. At 32 partitions the
    *    bypass-merge writer opened numPartitions DiskBlockObjectWriters
    *    PER MAP TASK (JFR: the top allocation sites of a warm rep).
    *    Same-hour A/B at driver settings: 37.29/33.91 → 31.18/28.24 s
    *    (median/min-sum). Results are shuffle-layer-identical. */
  def session(cores: Int, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `session` with one shuffle partition per core. */
  def session(cores: Int): SparkSession = session(cores, cores)
}
