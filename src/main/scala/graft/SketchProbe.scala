package graft

import org.apache.spark.sql.functions._

/** Throwaway dev probe: does each no-oracle sketch query sit in an
  * EXACT regime at the test SFs? (round 8, verdict #4) */
object SketchProbe {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(8)
    import spark.implicits._
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      println(s"=== $sf ===")

      // 1. approx_top_tokens vs exact salted top-k
      val approx = operators.TextOps.approxTopTokens(spark, dir)
        .select("token", "est", "lb", "ub").as[(String, Long, Long, Long)]
        .collect().sortBy(_._1)
      val exact = operators.TextOps.topTokensSalted(spark, dir)
        .as[(String, Long)].collect().sortBy(_._1)
      val tokEq = approx.map(r => (r._1, r._2)).sameElements(exact) &&
        approx.forall(r => r._2 == r._3 && r._2 == r._4)
      println(s"[tok] rows=${approx.length} exactRows=${exact.length} EXACT=$tokEq")

      // 2. hll_daily_merge vs exact distinct
      val hll = operators.Relational.hllDailyMerge(spark, dir).collect()(0)
      val hllExact = Tables.events(spark, dir)
        .agg(countDistinct(col("user_id"))).collect()(0).getLong(0)
      println(s"[hll] schema=${operators.Relational.hllDailyMerge(spark, dir).schema.simpleString}")
      println(s"[hll] merged=${hll.get(1)} exact=$hllExact n_days=${hll.get(0)}")

      // 3. approx_distinct vs exact
      val ad = operators.Relational.approxDistinct(spark, dir)
        .as[(String, Long)].collect().toSeq
      val adx = Tables.lineitem(spark, dir).groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n")).orderBy("l_returnflag")
        .as[(String, Long)].collect().toSeq
      println(s"[apd] approx=$ad exact=$adx match=${ad == adx}")

      // 4. approx_percentiles: spark values + group sizes
      val ap = operators.Relational.approxPercentiles(spark, dir).collect().toSeq
      println(s"[apct] $ap")

      // 4b. accuracy 1e5 — rank error < 1 at every test SF; compare
      // raw cents so the DuckDB rule can be matched exactly
      val ap5 = Tables.orders(spark, dir)
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .groupBy("o_orderstatus")
        .agg(expr("approx_percentile(cents, 0.5, 100000)").as("m"),
          expr("approx_percentile(cents, 0.9, 100000)").as("p90"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus").collect().toSeq
      println(s"[apct5] $ap5")

      // 2b. hll at higher lgConfigK — where does coupon mode end?
      for (lgk <- Seq(13, 14)) {
        val d2 = Tables.events(spark, dir)
          .withColumn("day", expr("unix_millis(ts) div 86400000"))
          .groupBy("day").agg(hll_sketch_agg(col("user_id"), lit(lgk)).as("sk"))
        val m2 = d2.agg(hll_sketch_estimate(hll_union_agg(col("sk")))).collect()(0)
        println(s"[hll$lgk] merged=${m2.get(0)} exact=$hllExact")
      }

      // 5. kll: retained vs n (exact iff no compaction)
      import org.apache.datasketches.kll.KllDoublesSketch
      val vals = Tables.events(spark, dir).select(col("value")).as[Double].collect()
      val sk = KllDoublesSketch.newHeapInstance(200)
      vals.foreach(sk.update)
      println(s"[kll] n=${sk.getN} retained=${sk.getNumRetained} estimationMode=${sk.isEstimationMode}")
      val kll = operators.Relational.kllDailyMerge(spark, dir).collect()(0)
      println(s"[kll] query=$kll")
    }
    spark.stop()
  }
}
