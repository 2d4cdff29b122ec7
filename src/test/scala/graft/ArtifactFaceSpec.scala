package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Artifacts — the one (name, owner)-keyed artifact map.
  *
  * The map exists so repeated callers (bench reps, composed queries)
  * don't rebuild and re-analyze an artifact's construction tree. Its
  * correctness burden is the key: (name + parameters, owner REFERENCE).
  * The first three pins falsify, for both `face` (checkpointed frames)
  * and `memo` (plain values), the failure modes that key discipline must
  * exclude:
  *  - a second call with the same (name, owner) must return the SAME
  *    artifact without re-evaluating the build thunk;
  *  - a different owner OBJECT under the same name must get its own
  *    artifact (no cross-frame contamination — the reference leg);
  *  - a different name/parameter leg under the same owner must get its
  *    own artifact (no cross-parameter contamination);
  *  - the artifact's rows equal the uncached build's rows.
  * The rest pin the lifecycle: what `unpersistAll` releases, the
  * staleness rule, and the accepted lost-block failure.
  */
class ArtifactFaceSpec extends SparkSpec {

  import spark.implicits._

  /** The two stores the key pins run over. */
  private val stores = Seq[(String, (String, AnyRef, () => DataFrame) => DataFrame)](
    "face" -> ((name, owner, build) => Artifacts.face(name, owner)(build())),
    "memo" -> ((name, owner, build) => Artifacts.memo(name, owner)(build())))

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("same (key, input) memoizes: one build, same artifact object") {
    for ((kind, store) <- stores) {
      val in = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      var builds = 0
      def build() = { builds += 1; in.select(col("id"), upper(col("s")).as("u")) }
      val a1 = store(s"spec-memo-$kind", in, () => build())
      val a2 = store(s"spec-memo-$kind", in, () => build())
      assert(a1 eq a2, s"$kind: expected the memoized artifact object on the 2nd call")
      assert(builds == 1, s"$kind: build thunk ran $builds times, expected once")
      assert(a1.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("A", "B"))
    }
  }

  test("different input object, same name: distinct artifacts, each correct") {
    for ((kind, store) <- stores) {
      val inA = Seq((1L, "x")).toDF("id", "s")
      val inB = Seq((9L, "y")).toDF("id", "s")
      val aA = store(s"spec-ref-$kind", inA, () => inA.select(col("id") * 2))
      val aB = store(s"spec-ref-$kind", inB, () => inB.select(col("id") * 2))
      assert(!(aA eq aB), s"$kind: two input frames must not share an entry")
      assert(aA.collect().map(_.getLong(0)).toSeq == Seq(2L))
      assert(aB.collect().map(_.getLong(0)).toSeq == Seq(18L))
    }
  }

  test("parameter leg separates artifacts for the same input") {
    for ((kind, store) <- stores) {
      val in = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      val k2 = store(s"spec-param-$kind:2", in, () => in.select(col("v") * 2))
      val k3 = store(s"spec-param-$kind:3", in, () => in.select(col("v") * 3))
      assert(k2.collect().map(_.getLong(0)).sorted.toSeq == Seq(20L, 40L))
      assert(k3.collect().map(_.getLong(0)).sorted.toSeq == Seq(30L, 60L))
    }
  }

  test("unpersistAll releases a built face's RDDs; the next call builds again") {
    val in = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    var builds = 0
    def face() = Artifacts.face("spec-release", in) {
      builds += 1; in.select(col("id"), upper(col("s")).as("u"))
    }
    val before = persisted
    val a1 = face()
    a1.collect()
    val held = persisted -- before
    // the checkpoint rows and the columnar cache on top
    assert(held.size == 2, s"expected 2 persisted RDDs for the face, got $held")
    Artifacts.unpersistAll()
    assert((persisted & held).isEmpty, s"still persisted after unpersistAll: ${persisted & held}")
    val a2 = face()
    assert(builds == 2, s"build thunk ran $builds times, expected a rebuild")
    assert(!(a1 eq a2))
    assert(a2.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("A", "B"))
  }

  test("staleness: a rewritten source path serves the old artifact until unpersistAll") {
    val path = java.nio.file.Files.createTempDirectory("graft-stale").resolve("t").toString
    def face() = Artifacts.face(s"spec-stale:$path", spark)(
      Tables.tableAs(spark, path, "parquet").select((col("id") * 10).as("x")))
    def rows(df: DataFrame) = df.collect().map(_.getLong(0)).sorted.toSeq
    spark.range(1, 4).write.parquet(path)
    val a1 = face()
    assert(rows(a1) == Seq(10L, 20L, 30L))
    spark.range(7, 9).write.mode("overwrite").parquet(path)
    val a2 = face()
    assert(a2 eq a1, "same key within the session must serve the same artifact")
    assert(rows(a2) == Seq(10L, 20L, 30L), "the artifact must keep the rows it was built from")
    Artifacts.unpersistAll()
    assert(rows(face()) == Seq(70L, 80L), "after unpersistAll the rebuild reads the new files")
  }

  test("a lost checkpoint block fails the consuming job; unpersistAll then " +
    "rebuilds the uncached rows") {
    val in = (1L to 40L).map(i => (i, s"s$i")).toDF("id", "s").repartition(4)
    def build() = in.select(col("id"), concat(col("s"), lit("!")).as("t"))
    def face() = Artifacts.face("spec-lost-block", in)(build())
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val uncached = rows(build())
    val before = persisted
    val a = face()
    assert(rows(a) == uncached)
    // drop every block the face holds, as a lost executor would
    val held = persisted -- before
    assert(held.nonEmpty)
    held.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
    val e = intercept[SparkException](a.collect())
    assert(e.getMessage.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"), e.getMessage)
    Artifacts.unpersistAll()
    assert(rows(face()) == uncached)
  }
}
