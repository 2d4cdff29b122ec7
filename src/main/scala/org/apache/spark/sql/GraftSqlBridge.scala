package org.apache.spark.sql

import org.apache.spark.{Dependency, OneToOneDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** Bridge into `private[sql]` seams: two for graft.Artifacts' faces
  * (r17 optimization round; see the Artifacts scaladoc for the measured
  * rationale) and one for graft.plans' column faces.
  *
  * Why it exists: an artifact face wants BOTH
  *  (a) lineage truncation — `.cache()` keeps the artifact's entire
  *      build plan in every consumer task's closure, and JFR showed the
  *      suite spending >30% of warm executor samples Java-deserializing
  *      those catalyst trees — and
  *  (b) zero work at plan-CONSTRUCTION time — the library contract
  *      (GraftCatalogSpec pins zero-job view registration), which
  *      `Dataset.localCheckpoint(eager = false)` cannot satisfy: it
  *      calls `queryExecution.toRdd` immediately, and an adaptive plan's
  *      `execute()` materializes every intermediate stage, while even a
  *      non-adaptive plan runs its broadcast-build jobs.
  *
  * [[DeferredCheckpointRDD]] defers `toRdd` to the first DAG submission
  * (inside a real action, where jobs belong) and local-checkpoints the
  * result so lineage truncates after first materialization;
  * [[GraftSqlBridge.deferredDataset]] wraps it as a leaf Dataset without
  * touching the RDD (the `internalCreateDataFrame` seam — the public
  * `createDataFrame` faces force row conversion or partition
  * resolution). The Artifacts map keeps each face's checkpoint RDD in
  * the face's own entry, so `unpersistAll` releases it directly.
  *
  * [[GraftSqlBridge.column]] wraps a Catalyst expression as a Column
  * (`classic.ExpressionUtils`), so a face needs no function registry
  * and no SQL parser.
  */
object GraftSqlBridge {
  /** A leaf DataFrame over `rdd` with `schema` — no jobs, no partition
    * resolution at construction. */
  def deferredDataset(spark: SparkSession, rdd: RDD[InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** A Column over a Catalyst expression (graft's function faces). */
  def column(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
}

/** Lazily builds (and local-checkpoints) the target RDD of a shared
  * artifact at first DAG submission. Construction is free; the build
  * function runs on the driver inside the first consumer action (where
  * an adaptive plan may legitimately run its stage jobs); the
  * checkpointed rows persist MEMORY_AND_DISK_SER and the lineage
  * truncates after the first job, so later task closures carry this
  * wrapper + a leaf checkpoint instead of the build plan. */
final class DeferredCheckpointRDD(
    @transient private val session: SparkSession,
    @transient private val build: () => RDD[InternalRow])
  extends RDD[InternalRow](
    session.asInstanceOf[classic.SparkSession].sparkContext, Nil) {

  @transient @volatile private var targetRef: RDD[InternalRow] = _

  private def target: RDD[InternalRow] = {
    if (targetRef == null) synchronized {
      if (targetRef == null) {
        // copy: toRdd yields reused UnsafeRow buffers (the same reason
        // Dataset.checkpoint maps _.copy() before persisting)
        val r = build().map(_.copy())
        r.persist(StorageLevel.MEMORY_AND_DISK_SER)
        r.localCheckpoint()
        targetRef = r
      }
    }
    targetRef
  }

  /** Release the persisted checkpoint rows (no-op if never built). */
  def releaseTarget(): Unit = {
    val t = targetRef
    if (t != null) t.unpersist(blocking = false)
  }

  override protected def getDependencies: Seq[Dependency[_]] =
    Seq(new OneToOneDependency(target))

  override protected def getPartitions: Array[Partition] = target.partitions

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    firstParent[InternalRow].iterator(split, context)
}
