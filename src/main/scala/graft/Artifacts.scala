package graft

import org.apache.spark.sql.{DataFrame, DeferredCheckpointRDD, GraftSqlBridge}

/** The session's shared artifacts — built once, reused by every query
  * and bench rep that asks again, released together by `unpersistAll`
  * (the "materialized artifact" pattern, see BASELINE.md). ONE map,
  * keyed by (name, owner):
  *  - `memo` stores driver values (a trained vocabulary, a bloom
  *    filter's broadcast) and plain frames (the memoized table
  *    relations);
  *  - `face` stores a frame materialized as a deferred local checkpoint
  *    with a columnar cache on top.
  *
  * KEY RULE. The name carries every build parameter that changes the
  * result for the same owner (`s"bpe-merges:$dir:$k"`). The owner is
  * the input frame the artifact derives from, or the `SparkSession` for
  * artifacts derived from a table directory. The owner leg compares by
  * object identity (Dataset and SparkSession do not override equals), so
  * two live inputs never collide, and the query path keeps its inputs
  * stable because the table relations are themselves memoized per
  * (dir, session). A new input object gets a new artifact.
  *
  * OWNER LIFETIME. The map holds every owner strongly until
  * `unpersistAll`: the session, or an input frame and its plan, lives as
  * long as the artifacts built on it. Harness mains (Bench, Verify) call
  * `unpersistAll` when the run ends. Mid-run the entries stay resident
  * on purpose — sharing them is the point — and the persisted rows are
  * MEMORY_AND_DISK, so memory pressure spills blocks instead of OOM-ing.
  *
  * STALENESS. Keys name input paths, not file versions: rewriting the
  * files under a path within one session keeps serving the artifact
  * built from the old files until `unpersistAll` (ArtifactFaceSpec pins
  * it).
  *
  * LOST BLOCKS. A face truncates its lineage (r17, guide §5): `.cache()`
  * alone kept the whole build plan in every consumer task's closure,
  * and JFR showed >30% of warm executor samples Java-deserializing those
  * catalyst trees. The local checkpoint makes the closure a leaf
  * reference; the columnar cache on top restores column pruning for the
  * fat array payloads (doc_curate 1.11 → 1.63 s without it) and stores
  * the rows serialized. The trade: a lost checkpoint block fails the
  * consuming job instead of recomputing it (ArtifactFaceSpec pins the
  * failure and the rebuild after `unpersistAll`) — for a session-scoped
  * derivative a production pipeline would materialize to storage, the
  * right side of the trade.
  *
  * Building a face runs no job: `DeferredCheckpointRDD` defers the
  * build plan's `toRdd` to the first consuming action (GraftSqlBridge;
  * GraftCatalogSpec pins zero-job view registration). A cached face
  * also skips its build thunk entirely, which is what took driver plan
  * construction from 5.6 to 3.2 s per bench pass (r17 session 4). */
object Artifacts {
  /** A face entry: the frame consumers read and the checkpoint under
    * its cache — the two layers `unpersistAll` releases. */
  private final case class Face(df: DataFrame, ckpt: DeferredCheckpointRDD) {
    def release(): Unit = {
      df.unpersist(blocking = false)
      ckpt.releaseTarget()
    }
  }

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(String, AnyRef), Any]

  /** The value stored under (name, owner), built by `build` on the first
    * call. Concurrent first calls may both build; one value is kept. */
  def memo[T](name: String, owner: AnyRef)(build: => T): T =
    entries.getOrElseUpdate((name, owner), build).asInstanceOf[T]

  /** `build`'s rows as a shared artifact under (name, owner): a deferred
    * local checkpoint with a columnar cache on top. */
  def face(name: String, owner: AnyRef)(build: => DataFrame): DataFrame = {
    var mine: Face = null
    val kept = memo(name, owner) { mine = checkpointed(build); mine }
    if (mine != null && (mine ne kept)) mine.release() // lost a race
    kept.df
  }

  private def checkpointed(df: DataFrame): Face = {
    val ckpt = new DeferredCheckpointRDD(
      df.sparkSession, () => df.queryExecution.toRdd)
    Face(GraftSqlBridge.deferredDataset(df.sparkSession, ckpt, df.schema)
      .cache(), ckpt)
  }

  /** Release every face's cache and checkpoint and forget every entry
    * (idempotent; safe on dead sessions). */
  def unpersistAll(): Unit = {
    entries.values.foreach {
      case f: Face => try f.release() catch { case _: Throwable => () }
      case _ => ()
    }
    entries.clear()
  }
}
