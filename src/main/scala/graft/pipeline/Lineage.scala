package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition watermark checkpoint — the sincedb analog.
  *
  * The reference persists a single `Time` scalar, read once per listing
  * cycle and advanced after each fully-processed file
  * (s3.rb:446-468, 142, 388). A scalar only works because the reference
  * is strictly serial (files processed oldest-first, one at a time,
  * s3.rb:166, 188-193). Our engine processes partitions in parallel, so
  * the checkpoint is a **lineage table**: one row per
  * (batch_id, partition day) recording the high watermark committed for
  * that partition, appended only after every sink publish for the batch
  * succeeded (the commit-after-publish ordering mirrors the reference's
  * temp-file -> finalize -> sincedb.write sequence, s3.rb:380-388).
  *
  * [[stateAt]] is called once per cycle — the reference's 3.8.2 fix
  * ("read sincedb once per cycle, not per object", CHANGELOG.md:8).
  */
object Lineage {

  val epoch = new Timestamp(0L)

  case class Commit(batch_id: String, day: String, last_ts: Timestamp,
      rows: Long, committed_at: Timestamp)

  def path(sinkRoot: String): String = s"$sinkRoot/_lineage"

  /** Checkpoint IDENTITY: MD5 of the discovery-shaping config — the
    * reference keys its sincedb file by `MD5(bucket+prefix)` so two
    * plugin instances watching different prefixes never share (and
    * cross-advance) a watermark (s3.rb:337-344). Ours hashes exactly the
    * fields that determine WHICH rows a pipeline discovers: input path,
    * archive prefix (S7c), and the S6 storage-eligibility columns.
    * Routing-only config (excludePattern, codec) is deliberately
    * EXCLUDED: it changes where rows go, not whether they are consumed,
    * so changing it must not orphan the existing watermark.
    */
  def checkpointId(cfg: PipelineConfig): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val ident = Seq(cfg.inputPath, cfg.archivePrefix,
      cfg.storageClassCol, cfg.restoreHeaderCol).map(String.valueOf)
      .mkString("|")
    md.digest(ident.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Resolve the lineage table directory for a config: the default keeps
    * the historical `<sinkRoot>/_lineage` location; an explicit
    * `lineagePath` namespaces by [[checkpointId]] (the `sincedb_path`
    * analog), so pipelines sharing a sinkRoot advance independently.
    */
  def dirFor(cfg: PipelineConfig): String =
    if (cfg.lineagePath == null || cfg.lineagePath.isEmpty)
      path(cfg.sinkRoot)
    else s"${cfg.lineagePath}/${checkpointId(cfg)}"

  /** All committed lineage rows; empty DataFrame if no checkpoint exists
    * yet (the "empty sincedb file reads as epoch, no exception" semantic,
    * sincedb_spec.rb:14-16, s3.rb:455-459).
    */
  def read(spark: SparkSession, sinkRoot: String): DataFrame =
    readAt(spark, path(sinkRoot))

  /** Reads with the [[Commit]] encoder's schema: every commit file is
    * written from it, so inferring the schema from the footers would
    * cost each cycle a Spark job for a known answer.
    */
  def readAt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    if (exists(spark, dir))
      spark.read.schema(Encoders.product[Commit].schema).parquet(dir)
    else spark.emptyDataset[Commit].toDF()
  }

  /** Per-day high watermarks, collected to a driver map (small: one entry
    * per partition day ever committed).
    */
  def watermarks(spark: SparkSession, sinkRoot: String): Map[String, Timestamp] =
    watermarksAt(spark, path(sinkRoot))

  def watermarksAt(spark: SparkSession, dir: String): Map[String, Timestamp] =
    stateAt(spark, dir)._1 // one definition incl. the corrupt-row check

  /** Watermarks, observation stamps AND the committed-batch set from
    * ONE lineage read — the per-cycle lookup (the reference's 3.8.2
    * "read sincedb once per cycle" discipline, CHANGELOG.md:8, applies
    * to all three; the seal audit's census/manifest/published checks
    * all consume the same cycle-start set).
    *
    * Observation stamps: the max `committed_at` over each day's commit
    * rows, in epoch millis. `committed_at` is stamped at CYCLE START
    * (before any listing), so it lower-bounds every file the cycle's
    * listings and seal audits covered — the sealed-day reopen check
    * (Discover.listInputFilesDetecting) compares the day directory's
    * mtime against this: a file landing at-or-after the stamp may
    * postdate the last audit and reopens the day. Redrive commits
    * carry `epoch` here precisely so they never advance a day's stamp
    * (they observe manifest keys, not the day directory).
    *
    * MIGRATION NOTE: lineage rows committed by pre-seal-audit builds
    * stamped `committed_at` at cycle END (after the listing), so a file
    * that landed mid-cycle under the old code can carry an mtime below
    * the stamp and would not trigger a reopen. When upgrading a live
    * checkpoint where that sub-cycle window matters, run one cycle with
    * `PipelineConfig.reauditDays` covering the sealed days — the forced
    * audit manifests anything the old stamps would hide.
    */
  def stateAt(spark: SparkSession, dir: String):
      (Map[String, Timestamp], Map[String, Long], Set[String]) = {
    // aggregation stays SPARK-SIDE: the driver receives one row per
    // day (plus the batch-id set), never the full commit history —
    // compaction bounds the file count, not the row count, so a
    // driver-side fold would grow O(total commits) over the
    // checkpoint's lifetime. Spark's max also keeps full microsecond
    // timestamp precision and ignores stray NULLs when non-null
    // values exist for the day.
    val rows = readAt(spark, dir)
      .groupBy(col("day"))
      .agg(max(col("last_ts")).as("wm"), max(col("committed_at")).as("obs"),
        collect_set(col("batch_id")).as("bs"))
      .collect()
    // a day whose EVERY commit row lost its WATERMARK is corrupt state
    // the engine never writes, and the watermark is consumed on every
    // path — fail LOUDLY (all offending days in one message; a silent
    // skip would re-publish the day's rows). A day with only-null
    // committed_at merely drops out of the OBSERVATION map: the stamp
    // is consumed only by sealing-enabled cycles, and Main fails
    // closed there (a completed day without a stamp aborts the cycle)
    // while a sealing-disabled pipeline keeps running — the column has
    // no effect on it.
    val corrupt = rows.filter(_.getTimestamp(1) == null)
    if (corrupt.nonEmpty)
      throw new IllegalStateException(
        s"corrupt lineage at $dir: day(s) " +
          corrupt.map(_.getString(0)).sorted.mkString(", ") +
          " have only NULL last_ts commit rows; repair or remove the " +
          "offending commit files before running")
    (rows.map(r => r.getString(0) -> r.getTimestamp(1)).toMap,
      rows.flatMap(r =>
        Option(r.getTimestamp(2)).map(t => r.getString(0) -> t.getTime))
        .toMap,
      rows.flatMap(_.getSeq[String](3)).toSet)
  }

  /** Set of committed batch ids — published sink batches not in this set
    * are orphans from a crashed run and must be ignored by readers
    * (snapshot-isolation analog of the reference's mtime-recheck guard,
    * s3.rb:383-390).
    */
  def committedBatches(spark: SparkSession, sinkRoot: String): Set[String] =
    committedBatchesAt(spark, path(sinkRoot))

  def committedBatchesAt(spark: SparkSession, dir: String): Set[String] =
    readAt(spark, dir).select("batch_id").distinct()
      .collect().map(_.getString(0)).toSet

  /** Append commit rows for a published batch. */
  def commit(spark: SparkSession, sinkRoot: String, rows: Seq[Commit]): Unit =
    commitAt(spark, path(sinkRoot), rows)

  def commitAt(spark: SparkSession, dir: String, rows: Seq[Commit]): Unit = {
    import spark.implicits._
    // coalesce(1) is CORRECT here, not a scale smell: a commit is a
    // handful of rows (one per partition day) and the O(1)-read
    // compaction bounds the file count — do not copy this to data tables
    if (rows.nonEmpty)
      rows.toDS().toDF().coalesce(1).write.mode(SaveMode.Append)
        .parquet(dir)
  }

  /** Compact the lineage table when it has accumulated more than
    * `maxFiles` commit files (one tiny parquet per batch): rewrite the
    * listed history into ONE new file placed ALONGSIDE the old files,
    * then delete exactly the superseded files. The sincedb analog stays
    * O(1) to read forever — the reference's single-scalar file has the
    * same property by construction (s3.rb:446-468).
    *
    * Crash-safety (no directory swap, no window where history is gone):
    *  - the compacted file is written to a SIBLING staging dir (readers
    *    scan only `_lineage/`, so it is invisible until moved);
    *  - the single move-in is one HDFS/local rename, checked — on
    *    failure we abort with the old files fully intact;
    *  - a crash between the move-in and the deletes leaves the compacted
    *    file AND some old files: duplicate commit rows, which every
    *    lineage read tolerates by construction ([[watermarks]] takes
    *    max per day, [[committedBatches]] a distinct set — both
    *    idempotent under row duplication), and the next compaction
    *    removes;
    *  - only files listed BEFORE the rewrite are deleted — commits
    *    appended concurrently are never touched.
    */
  def compact(spark: SparkSession, sinkRoot: String, maxFiles: Int = 64): Boolean =
    compactAt(spark, path(sinkRoot), maxFiles)

  def compactAt(spark: SparkSession, dir: String, maxFiles: Int = 64): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val oldFiles = fs.listStatus(p).toSeq
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath)
    if (oldFiles.length <= maxFiles) return false
    // read EXACTLY the listed files (pinned), rewrite into one file
    val staging = new Path(dir + "_compacting")
    if (fs.exists(staging)) fs.delete(staging, true)
    spark.read.parquet(oldFiles.map(_.toString): _*)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val partOpt = fs.listStatus(staging)
      .find(_.getPath.getName.endsWith(".parquet")).map(_.getPath)
    val moved = partOpt.exists { part =>
      fs.rename(part, new Path(p, s"${BatchDirs.survivorName()}.parquet"))
    }
    if (!moved) {
      // no part produced, or move-in failed: abort with the old history
      // fully intact; never leave the staging dir behind
      fs.delete(staging, true)
      false
    } else {
      oldFiles.foreach(f => fs.delete(f, false))
      fs.delete(staging, true)
      true
    }
  }

  /** Deterministic batch identity: a pure function of the checkpoint
    * state and the injected clock, so a crashed run re-executed on the
    * same state reproduces the same batch_id and its publish is
    * idempotent. Mirrors the reference's sincedb identity
    * `MD5(bucket+prefix)` (s3.rb:340).
    */
  def batchId(asOf: Timestamp, wms: Map[String, Timestamp],
      ident: String = ""): String = {
    val state = wms.toSeq.sortBy(_._1)
      .map { case (d, t) => s"$d=${t.getTime}" }.mkString(",")
    val md = java.security.MessageDigest.getInstance("MD5")
    // `ident` (the checkpoint identity) keeps batch ids DISJOINT between
    // two pipelines publishing into one sinkRoot: without it, identical
    // (asOf, state) pairs would collide and the second publish would
    // replace the first's batch directory
    md.digest(s"$ident|${asOf.getTime}|$state".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  def exists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(hp) && fs.listStatus(hp).exists(s =>
      s.getPath.getName.endsWith(".parquet"))
  }
}
