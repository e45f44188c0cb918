package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-sink aggregate metrics (SURVEY.md §2.4; north rule: "per-sink
  * aggregate counts — turns per role/tool/hour windows").
  *
  * The reference has no aggregations — event counts exist only as test
  * oracles (spec:325-339). Here they are first-class outputs, written
  * under `<root>/_metrics/<batchId>/` as `by_sink_role`,
  * `by_sink_tool_category` and `by_sink_hour`.
  *
  * A committing cycle gets them from [[ofStaged]]: ONE grouping-sets
  * aggregate over a narrow read-back of the batch's staged sink files,
  * which also yields the per-day (max ts, count) the lineage commit
  * needs. The result is a few rows per day, sink and role, tool
  * category or hour, so it is collected, and [[writeTables]] writes
  * each table as one file. The per-table `bySink*` functions are the
  * DataFrame forms; [[writeAll]] writes all three from a routed frame.
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
    routed.groupBy(col("sink"), hourStart.as("hour_start"))
      .agg(count(lit(1)).as("n_turns"))

  /** All metric tables of a routed frame, written under
    * `<root>/_metrics/<batchId>/` by three distributed aggregates.
    * The cycle writes the same tables from [[ofStaged]]'s rows.
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

  /** The tumbling hour bucket of `ts`. `window` aligns to the epoch,
    * not to the session time zone as `date_trunc` does, so the bucket
    * is the same under any zone offset.
    */
  private def hourStart = window(col("ts"), "1 hour").getField("start")

  /** One staged batch's aggregates: per day (day, max ts, rows), and
    * each metric table's name, schema and rows.
    */
  final case class BatchMetrics(days: Seq[(String, Timestamp, Long)],
      tables: Seq[(String, StructType, Seq[Row])])

  /** Each metric table and the key it counts turns of per sink; its
    * columns are (sink, key, n_turns), as [[writeAll]] writes them.
    */
  private val tableKeys = Seq("by_sink_role" -> "role",
    "by_sink_tool_category" -> "tool_category", "by_sink_hour" -> "hour_start")

  /** The grouping columns, in `grouping_id()` bit order (first = most
    * significant), and the read-back schema of the staged files (`sink`
    * comes from the `sink=` dir names).
    */
  private val keys = Seq("day", "sink", "role", "tool_category", "hour_start")
  private val stagedSchema = StructType(Seq(StructField("day", StringType),
    StructField("ts", TimestampType), StructField("role", StringType),
    StructField("tool_category", StringType), StructField("sink", StringType)))

  /** `grouping_id()` of the grouping set holding exactly `set`: a 1 bit
    * for each key the set rolls up. It tells a null `tool_category`
    * (an unmapped tool) apart from a column another set rolled up.
    */
  private def gid(set: String*): Long = keys.zipWithIndex.collect {
    case (k, i) if !set.contains(k) => 1L << (keys.size - 1 - i)
  }.sum

  /** The ONE aggregate over a staged batch dir (`dir/sink=<sink>/`):
    * grouping sets (day), (sink, role), (sink, tool_category) and
    * (sink, hour_start), collected. The staged rows never carry a null
    * ts (Discover.designGuards), so the hour bucket drops no row.
    */
  def ofStaged(spark: SparkSession, dir: String): BatchMetrics = {
    val agg = stagedAggregate(spark, dir)
    val rows = agg.collect()
    def of(set: String*): Seq[Row] = rows.toSeq
      .filter(_.getAs[Long]("gid") == gid(set: _*))
    val days = of("day").map(r =>
      (r.getAs[String]("day"), r.getAs[Timestamp]("mx"), r.getAs[Long]("n")))
    val tables = tableKeys.map { case (name, key) =>
      (name, StructType(Seq(agg.schema("sink"), agg.schema(key),
        StructField("n_turns", LongType, nullable = false))),
        of("sink", key).map(r =>
          Row(r.getAs[String]("sink"), r.getAs[Any](key), r.getAs[Long]("n"))))
    }
    BatchMetrics(days, tables)
  }

  /** [[ofStaged]]'s aggregate, before the collect. */
  private[graft] def stagedAggregate(spark: SparkSession,
      dir: String): DataFrame =
    spark.read.schema(stagedSchema).parquet(dir)
      .select(keys.init.map(col) :+ col("ts") :+ hourStart.as("hour_start"): _*)
      .groupingSets(Seq(col("day")) +: tableKeys.map(t =>
        Seq(col("sink"), col(t._2))), keys.map(col): _*)
      .agg(grouping_id().as("gid"), max(col("ts")).as("mx"),
        count(lit(1)).as("n"))

  /** Write [[ofStaged]]'s tables under `<root>/_metrics/<batchId>/`,
    * each as ONE file: the rows are already on the driver, and a
    * parallel write of a few rows would only add files.
    */
  def writeTables(spark: SparkSession, m: BatchMetrics, root: String,
      batchId: String): Unit = {
    m.tables.foreach { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$root/_metrics/$batchId/$name")
    }
  }
}
