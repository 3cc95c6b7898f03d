package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Sessionization: group a user's events into sessions separated by gaps
  * longer than `gap`.
  *
  * The classic lag + cumulative-sum-of-boundaries window pair — one
  * shuffle on user_id, two ordered passes, no state.
  */
object Sessionize {

  /** Batch: assign session ids (1-based per user, in time order).
    * `gap` is in the units of `tsCol` (ms, ns, whatever the column holds).
    */
  def assignSessions(events: DataFrame, userCol: String, tsCol: String,
      gap: Long): DataFrame = {
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol))
    events
      .withColumn("__prev", lag(col(tsCol), 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev").isNull || col(tsCol) - col("__prev") > gap, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("__new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev", "__new_session")
  }

  /** Batch: one row per session with span + size. */
  def sessionStats(events: DataFrame, userCol: String, tsCol: String,
      gap: Long): DataFrame =
    assignSessions(events, userCol, tsCol, gap)
      .groupBy(col(userCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
}
