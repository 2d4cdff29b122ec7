package graft

/** Mirrors the driver's flagship smoke check: SparkEntry.entry must
  * return >0 rows on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n " + (if (n > 0) "PASS" else "FAIL"))
    spark.stop()
  }
}
