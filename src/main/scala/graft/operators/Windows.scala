package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time windowing over batch data. */
object Windows {

  /** Tumbling event-time window aggregation: one hash shuffle on
    * (window, keys); partial aggregation happens map-side.
    */
  def tumbling(
      events: DataFrame,
      tsCol: String,
      width: String,
      keys: Seq[String],
      aggs: Seq[Column]): DataFrame =
    events
      .groupBy((window(col(tsCol), width).getField("start").as("window_start") +:
        keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Sliding event-time windows (width, slide). Each event lands in
    * width/slide windows — the fan-out happens before the shuffle, which is
    * the right trade at scale (no post-shuffle explosion).
    */
  def sliding(
      events: DataFrame,
      tsCol: String,
      width: String,
      slide: String,
      keys: Seq[String],
      aggs: Seq[Column]): DataFrame =
    events
      .groupBy((window(col(tsCol), width, slide).getField("start").as("window_start") +:
        keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Gap-based sessionization in batch: a session breaks after `gap`
    * seconds of inactivity per key. Classic two-window plan: lag → break
    * flag → running sum = session id. One shuffle on the key; ordering
    * inside the key is a within-partition sort.
    */
  def sessionize(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      orderTieBreak: String,
      gapSeconds: Long): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(orderTieBreak))
    events
      .withColumn("__prev_ts", lag(col(tsCol), 1).over(byKey))
      .withColumn(
        "__new_session",
        when(
          col("__prev_ts").isNull ||
            unix_timestamp(col(tsCol)) - unix_timestamp(col("__prev_ts")) > gapSeconds,
          1).otherwise(0))
      .withColumn("session_seq", sum(col("__new_session")).over(
        byKey.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__prev_ts", "__new_session")
  }
}
