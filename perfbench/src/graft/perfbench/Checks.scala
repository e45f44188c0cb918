package graft.perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Lineage

/** Output checks and on-disk sizes, read from the committed state only
  * (sink batches whose id is in the lineage table), the way any reader
  * of the engine's outputs sees it.
  */
object Checks {

  /** Sink directories of a sink root: every child not starting with `_`. */
  def sinkNames(root: String): Seq[String] =
    Option(new File(root).listFiles).toSeq.flatten
      .filter(d => d.isDirectory && !d.getName.startsWith("_") &&
        !d.getName.startsWith("."))
      .map(_.getName).sorted

  /** Bytes of the data files below `f` (checksum and marker files excluded). */
  def dataBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dataBytes).sum
    else if (f.getName.endsWith(".crc") || f.getName == "_SUCCESS") 0L
    else f.length()

  def dataBytes(path: String): Long = dataBytes(new File(path))

  /** Committed sink batch dirs of a root, given its committed batch ids. */
  def committedDirs(root: String, committed: Set[String]): Seq[String] =
    for {
      s <- sinkNames(root); b <- committed.toSeq.sorted
      d = s"$root/$s/batch=$b" if new File(d).isDirectory
    } yield d

  /** Committed sink batches + their metric tables + the lineage table. */
  def committedBytes(root: String, committed: Set[String]): Long =
    committedDirs(root, committed).map(dataBytes).sum +
      committed.toSeq.map(b => dataBytes(s"$root/_metrics/$b")).sum +
      dataBytes(Lineage.path(root))

  /** Number of data files in a published batch, over all sinks. */
  def batchFiles(root: String, batchId: String): Int =
    sinkNames(root).map { s =>
      Option(new File(s"$root/$s/batch=$batchId").listFiles).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
    }.sum

  def lineageFiles(root: String): Int =
    Option(new File(Lineage.path(root)).listFiles).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))

  /** `(conv_id, turn_idx)` of every committed row, over all sinks. */
  def committedKeys(spark: SparkSession, root: String,
      committed: Set[String]): Option[DataFrame] = {
    val dirs = committedDirs(root, committed)
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs: _*).select(col("conv_id"), col("turn_idx")))
  }

  /** Rows over every sink's committed batches. */
  def committedRows(spark: SparkSession, root: String, committed: Set[String]): Long =
    committedKeys(spark, root, committed).map(_.count()).getOrElse(0L)

  /** Σ n_turns of a batch's `_metrics/<batch>/by_sink_role` table. */
  def metricTurns(spark: SparkSession, root: String, batchId: String): Long =
    spark.read.parquet(s"$root/_metrics/$batchId/by_sink_role")
      .agg(coalesce(sum(col("n_turns")), lit(0L))).first().getLong(0)

  /** `(conv_id, turn_idx)` keys present more than once across all
    * committed batches of all sinks.
    */
  def duplicateKeys(spark: SparkSession, root: String, committed: Set[String]): Long =
    committedKeys(spark, root, committed)
      .map(_.groupBy(col("conv_id"), col("turn_idx")).count()
        .filter(col("count") > 1).count())
      .getOrElse(0L)

  /** Order-independent content digest of one batch: per sink and per
    * metric table, (rows, Σ of the low 32 bits of xxhash64 of the row's
    * JSON form).
    */
  def batchDigest(spark: SparkSession, root: String,
      batchId: String): Map[String, (Long, Long)] = {
    val sinkDirs = sinkNames(root).map(s => s -> s"$root/$s/batch=$batchId")
    val metricDirs = Option(new File(s"$root/_metrics/$batchId").listFiles)
      .toSeq.flatten.filter(_.isDirectory)
      .map(d => s"_metrics/${d.getName}" -> d.getPath)
    (sinkDirs ++ metricDirs).filter(p => new File(p._2).isDirectory).map {
      case (name, dir) =>
        val r = spark.read.parquet(dir)
          .agg(count(lit(1)),
            coalesce(sum(xxhash64(to_json(struct(col("*")))).bitwiseAND(0xFFFFFFFFL)),
              lit(0L)))
          .first()
        name -> (r.getLong(0), r.getLong(1))
    }.toMap
  }
}
