package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-sink aggregate metrics (SURVEY.md §2.4; north rule: "per-sink
  * aggregate counts — turns per role/tool/hour windows").
  *
  * The reference has no aggregations — event counts exist only as test
  * oracles (spec:325-339). Here they are first-class outputs. All three
  * metric tables come from ONE pass shape: hash aggregate with map-side
  * partial aggregation (Spark does partial+final automatically), no
  * window functions needed — `window($"ts", "1 hour")` is a tumbling
  * bucket projection, i.e. still a plain groupBy.
  */
object Aggregate {

  /** turns per (sink, role). */
  def bySinkRole(routed: DataFrame): DataFrame =
    routed.groupBy(col("sink"), col("role"))
      .agg(count(lit(1)).as("n_turns"))

  /** turns per (sink, tool_category) — null category = unmapped tool. */
  def bySinkToolCategory(routed: DataFrame): DataFrame =
    routed.groupBy(col("sink"), col("tool_category"))
      .agg(count(lit(1)).as("n_turns"))

  /** turns per (sink, hour window). */
  def bySinkHour(routed: DataFrame): DataFrame =
    routed.groupBy(col("sink"),
        window(col("ts"), "1 hour").getField("start").as("hour_start"))
      .agg(count(lit(1)).as("n_turns"))

  /** All metric tables, written under `<root>/_metrics/<batchId>/`.
    * Writes are parallel — no coalesce(1): the (sink, hour) table grows
    * with the time range and at 100x scale a single-task funnel would be
    * the batch's straggler. AQE already coalesces the post-agg shuffle
    * to the few partitions the data needs.
    */
  def writeAll(routed: DataFrame, root: String, batchId: String): Unit = {
    val base = s"$root/_metrics/$batchId"
    bySinkRole(routed).write.mode("overwrite")
      .parquet(s"$base/by_sink_role")
    bySinkToolCategory(routed).write.mode("overwrite")
      .parquet(s"$base/by_sink_tool_category")
    bySinkHour(routed).write.mode("overwrite")
      .parquet(s"$base/by_sink_hour")
  }
}
