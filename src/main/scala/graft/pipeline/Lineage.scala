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
  * A commit and a compaction are the same write, one appended file
  * ([[append]]), so the table has one crash-safety argument.
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
  def checkpointId(cfg: PipelineConfig): String =
    md5Hex(Seq(cfg.inputPath, cfg.archivePrefix,
      cfg.storageClassCol, cfg.restoreHeaderCol).map(String.valueOf)
      .mkString("|"))

  /** Lower-case hex MD5 of `s`'s UTF-8 bytes: the one hash behind every
    * checkpoint and batch identity.
    */
  private[pipeline] def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

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
    // the per-day maxima are folded SPARK-SIDE, one row per day, but
    // `collect_set(batch_id)` ships every committed batch id: the
    // driver receives O(days + commits) per cycle, growing over the
    // checkpoint's lifetime (compaction bounds the file count, not
    // the row count). Spark's max keeps full microsecond timestamp
    // precision and ignores stray NULLs when non-null values exist
    // for the day.
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

  /** Append commit rows for a published batch ([[append]]). */
  def commit(spark: SparkSession, sinkRoot: String, rows: Seq[Commit]): Unit =
    commitAt(spark, path(sinkRoot), rows)

  def commitAt(spark: SparkSession, dir: String, rows: Seq[Commit]): Unit = {
    import spark.implicits._
    if (rows.nonEmpty) append(rows.toDS().toDF(), dir)
  }

  /** The commit path: one parquet file appended to `dir`. The committer
    * lands the whole file or none, and readers skip its `_temporary`
    * staging. coalesce(1) is CORRECT here, not a scale smell: a commit
    * is a handful of rows (one per partition day) and [[compactAt]]
    * bounds the file count — do not copy this to data tables.
    */
  private def append(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Append).parquet(dir)

  /** Compact the lineage table when it has accumulated more than
    * `maxFiles` commit files (one tiny parquet per batch): re-commit the
    * listed history as ONE file through the commit path, then delete
    * exactly the listed files. The sincedb analog stays O(1) to read
    * forever — the reference's single-scalar file has the same property
    * by construction (s3.rb:446-468).
    *
    * A crash behaves as for any commit: the append lands one whole file
    * or none, and a crash before the deletes leaves the compacted file
    * AND some listed files — duplicate commit rows, which every lineage
    * read tolerates ([[stateAt]] takes max per day and a batch-id set),
    * and which the next compaction folds. Only files listed BEFORE the
    * append are deleted, so a concurrent commit is never touched.
    */
  def compact(spark: SparkSession, sinkRoot: String, maxFiles: Int = 64): Boolean =
    compactAt(spark, path(sinkRoot), maxFiles)

  def compactAt(spark: SparkSession, dir: String, maxFiles: Int = 64): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val listed = fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    if (listed.length <= maxFiles) return false
    append(spark.read.schema(Encoders.product[Commit].schema)
      .parquet(listed.map(_.toString): _*), dir)
    listed.foreach(fs.delete(_, false))
    true
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
    // `ident` (the checkpoint identity) keeps batch ids DISJOINT between
    // two pipelines publishing into one sinkRoot: without it, identical
    // (asOf, state) pairs would collide and the second publish would
    // replace the first's batch directory
    md5Hex(s"$ident|${asOf.getTime}|$state")
  }

  def exists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(hp) && fs.listStatus(hp).exists(s =>
      s.getPath.getName.endsWith(".parquet"))
  }
}
