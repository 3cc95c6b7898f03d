package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-series resampling: per key, a regular time grid with the last
  * observation carried forward (LOCF) onto each grid point — the standard
  * gap-filling primitive (hourly sensor rollups, feature-store
  * point-in-time reads).
  *
  * Shape: one agg to get each key's [min, max] span, one explode to lay
  * the grid (metadata only — observations are never replicated), then the
  * streaming-merge [[AsOfJoin]], which holds one observation per key
  * rather than a window over the key. Grid density is `span/step` rows
  * per key; everything shuffles on the key column only.
  */
object Resample {

  /** @param obs      observations (keyCol, tsCol, valueCol)
    * @param step     grid step in tsCol units
    * Grid points are aligned to multiples of `step` (floor of the key's
    * min ts) through the key's max ts, so bucket boundaries are stable
    * regardless of when observations arrive.
    */
  def locf(obs: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      step: Long): DataFrame = {
    val spans = obs.groupBy(col(keyCol))
      .agg(min(col(tsCol)).as("__min_ts"), max(col(tsCol)).as("__max_ts"))
    // floor-to-step via pmod: exact integer arithmetic (a double division
    // would corrupt >2^53 epoch-nano timestamps) and true floor semantics
    // for negative timestamps (integer `div` truncates toward zero)
    val gridStart = col("__min_ts") - pmod(col("__min_ts"), lit(step))
    val grid = spans.select(
      col(keyCol),
      explode(sequence(gridStart, col("__max_ts"), lit(step))).as("grid_ts"))
    AsOfJoin.asOf(
      left = grid, right = obs.select(col(keyCol), col(tsCol), col(valueCol)),
      keys = Seq(keyCol), leftTs = "grid_ts", rightTs = tsCol,
      rightPayload = Seq((valueCol, s"${valueCol}_locf")))
  }

  /** OHLC bars: per (key, fixed time bucket), the open (value at the
    * earliest (µs, id)), high, low, close (value at the latest
    * (µs, id)), event count and exact-DECIMAL total — the candlestick
    * resample every metrics store offers.
    *
    * Deterministic: open/close ride min/max over (µs, id, value)
    * structs — (µs, id) is a total order, so the struct ordering never
    * reaches the value; high/low are plain min/max (value ties don't
    * matter); the total is an exact DECIMAL(18,6) sum converted once.
    * One shuffle on (key, bucket); no windows at all.
    */
  def ohlcBars(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, bucketUs: Long): DataFrame = {
    val e = events.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("id"), col(valueCol).cast("double").as("v"))
      .withColumn("b", expr(s"us div ${bucketUs}L"))
    e.groupBy(col("k"), col("b"))
      .agg(
        min(struct(col("us"), col("id"), col("v"))).getField("v").as("open"),
        max(col("v")).as("high"), min(col("v")).as("low"),
        max(struct(col("us"), col("id"), col("v"))).getField("v")
          .as("close"),
        count(lit(1)).as("n_events"),
        sum(col("v").cast("decimal(18,6)")).cast("decimal(18,6)")
          .cast("double").as("total"))
      .select(col("k").as(keyCol), col("b").as("bucket"), col("open"),
        col("high"), col("low"), col("close"), col("n_events"),
        col("total"))
  }
}
