package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** `Pin.counted` ≡ `localCheckpoint(true)` then `count()`: the same rows,
  * the same count, and no job beyond the checkpoint's own. */
class PinSpec extends SparkSpec {

  import spark.implicits._

  /** Pin.counted under a deadline (a lost Observation would block). A
    * thread started here inherits the caller's job group. */
  private def counted(df: DataFrame): (DataFrame, Long) = {
    @volatile var out: Either[Throwable, (DataFrame, Long)] = null
    val t = new Thread(() =>
      out = try Right(Pin.counted(df)) catch { case e: Throwable => Left(e) })
    t.setDaemon(true)
    t.start()
    t.join(120000L)
    assert(out != null, "Pin.counted did not return within 120 s")
    out.fold(e => throw e, identity)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Rows, count and job count against the two-action form; returns
    * the checkpoint's job count. */
  private def checkParity(df: () => DataFrame, expected: Long): Int = {
    val (ref, refJobs) = JobCount(spark)(df().localCheckpoint(true))
    val ((pinned, n), jobs) = JobCount(spark)(counted(df()))
    assert(n == expected && ref.count() == expected, s"count $n vs $expected")
    assert(rows(pinned) == rows(ref))
    assert(jobs.size == refJobs.size,
      s"Pin.counted ran ${jobs.size} jobs, the checkpoint alone " +
        s"${refJobs.size}: $jobs vs $refJobs")
    refJobs.size
  }

  test("a plan with AQE shuffles: same rows, same count, no extra job") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val jobs = checkParity(() => spark.range(0, 2000).repartition(7)
      .groupBy((col("id") % 13).as("k")).agg(sum("id").as("s"))
      .join(spark.range(0, 13).withColumnRenamed("id", "k"), "k"), 13L)
    assert(jobs >= 2, s"expected AQE stage jobs, got $jobs")
  }

  test("an empty input and plans the optimizer reduces to an empty " +
    "relation complete their Observation with 0") {
    checkParity(() => Seq.empty[(Long, String)].toDF("doc_id", "text"), 0L)
    checkParity(() => spark.range(0, 50).toDF().limit(0), 0L)
    checkParity(() => spark.range(0, 50).toDF().filter(lit(false)), 0L)
    checkParity(() => spark.range(0, 50).repartition(3)
      .filter(lit(false)).groupBy("id").count(), 0L)
  }

  test("a nondeterministic bloom-UDF filter: the count is the pinned " +
    "row count") {
    val bloom = BloomFilter.create(1000, 0.3)
    (0L until 1000L by 2L).foreach(bloom.putLong)
    val bc = spark.sparkContext.broadcast(bloom)
    val might = udf((x: Long) => bc.value.mightContainLong(x))
      .asNondeterministic()
    val (pinned, n) = counted(spark.range(0, 1000).toDF().filter(might(col("id"))))
    assert(n == pinned.count() && n >= 500L, s"bloom: $n")
    // a filter whose every evaluation differs: only the pinning job's
    // own evaluation can agree with the stored rows
    val coin = udf((_: Long) => scala.util.Random.nextBoolean())
      .asNondeterministic()
    val (flipped, m) = counted(spark.range(0, 4000).toDF().repartition(4)
      .filter(coin(col("id"))))
    assert(m == flipped.count() && m > 0L && m < 4000L, s"coin: $m")
    bc.destroy()
  }
}
