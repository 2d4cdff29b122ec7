package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Throwaway A/B: RollingHashUnits vs the composed fold, interleaved
  * reps, median + min. */
object RollAb {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def base = Tables.documentsPar(spark, sfDir)
      .withColumn("toks", operators.TextOps.tokens)
    def composed = base
      .select(col("doc_id"),
        operators.TextOps.fpRollComposed(col("toks")).as("fp_roll"))
    def custom = base
      .select(col("doc_id"),
        plans.GraftFunctions.graftRollHash("toks").as("fp_roll"))
    def run(df: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    run(composed); run(custom) // warm
    val cs = collection.mutable.ArrayBuffer.empty[Double]
    val xs = collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to 7) { cs += run(composed); xs += run(custom) }
    def st(b: Seq[Double]) = f"median ${b.sorted.apply(b.size / 2)}%.3f min ${b.min}%.3f"
    println(s"[ab] composed ${st(cs.toSeq)}")
    println(s"[ab] custom   ${st(xs.toSeq)}")
    spark.stop()
  }
}
