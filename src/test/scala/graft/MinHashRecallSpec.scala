package graft

import graft.operators.{MinHashOps, TextOps}
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

/** RECALL of the LSH candidate stage against exact ground truth.
  *
  * The candidate generation (bands of minhashes) is the one lossy step
  * in the near-dup sweep — everything after it is exact verification.
  * With k=12, b=4, r=3 the detection probability is 1-(1-s³)⁴ (s = true
  * Jaccard): ≥0.98 at s=0.8, so near-identical documents are
  * essentially never missed. This spec computes exact all-pairs Jaccard
  * (affordable at sf0.001 only) and checks every truly-similar pair
  * (s ≥ 0.8) was surfaced by the LSH path — the determinism of the
  * seeded hash family makes this exact, not flaky. */
class MinHashRecallSpec extends SparkSpec {

  test("LSH surfaces every pair with true Jaccard >= 0.8") {
    val docs = Tables.documents(spark, sf())
      .withColumn("toks", TextOps.tokens)
      .select(col("doc_id"), col("lang"),
        GraftFunctions.graftTrigrams("toks").as("grams"))
      .filter(size(col("grams")) > 0)

    // exact ground truth: all same-lang pairs (test-scale only)
    val a = docs.select(col("lang"), col("doc_id").as("d1"), col("grams").as("g1"))
    val b = docs.select(col("lang"), col("doc_id").as("d2"), col("grams").as("g2"))
    val truth = a.join(b, "lang").filter(col("d1") < col("d2"))
      .withColumn("common", size(array_intersect(col("g1"), col("g2"))).cast("double"))
      .withColumn("jac", col("common") /
        (size(col("g1")) + size(col("g2")) - col("common")))
      .filter(col("jac") >= 0.8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "corpus must contain near-dup pairs for this spec to bite")

    // the UNLIMITED verified stage — the presentation top-50 of
    // minhashLshPairs must not be able to mask a candidate miss
    val found = MinHashOps.minhashLshPairsAll(spark, sf())
      .filter(col("jaccard") >= 0.8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val missed = truth -- found
    assert(missed.isEmpty, s"LSH missed truly-similar pairs: $missed")
  }
}
