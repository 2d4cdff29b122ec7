package graft

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Pin a frame and count its rows in ONE Spark job.
  *
  * `df.localCheckpoint(true)` runs the job that materializes the rows;
  * a `count()` or `isEmpty` after it is a second action over the pinned
  * blocks (under AQE two jobs and a plan build). Here the count rides
  * along as an `Observation` on the frame being pinned, so the
  * checkpoint's own job counts the rows it stores: the count is exactly
  * the pinned row count, even when the plan holds a nondeterministic
  * filter whose re-evaluation could differ. `Observation.get` waits for
  * the query-end event of the checkpoint action; a plan the optimizer
  * reduces to an empty relation keeps its metrics node and reports 0
  * (PinSpec pins both). */
object Pin {

  /** `df.localCheckpoint(true)` and its row count, from one job. */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val rows = Observation()
    val pinned = df.observe(rows, count(lit(1)).as("n")).localCheckpoint(true)
    (pinned, rows.get("n").asInstanceOf[Long])
  }
}
