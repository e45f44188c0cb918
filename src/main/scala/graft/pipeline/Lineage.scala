package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils

/** Per-partition watermark checkpoint — the sincedb analog.
  *
  * The reference persists a single `Time` scalar, read once per listing
  * cycle and advanced after each fully-processed file
  * (s3.rb:446-468, 142, 388). A scalar only works because the reference
  * is strictly serial (files processed oldest-first, one at a time,
  * s3.rb:166, 188-193). Our engine processes partitions in parallel, so
  * the checkpoint is a **lineage**: one row per
  * (batch_id, partition day) recording the high watermark committed for
  * that partition, appended only after every sink publish for the batch
  * succeeded (the commit-after-publish ordering mirrors the reference's
  * temp-file -> finalize -> sincedb.write sequence, s3.rb:380-388).
  *
  * The rows are lines in the driver-side [[CheckpointStore]], beside
  * the file ledger: every read, commit and compaction runs on the
  * driver, with no Spark job, and a commit and a compaction are the
  * same write, so there is one crash-safety argument. [[stateAt]] is
  * called once per cycle — the reference's 3.8.2 fix ("read sincedb
  * once per cycle, not per object", CHANGELOG.md:8). A dir written by
  * earlier builds holds Parquet commit files, converted on first read.
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

  /** Hex MD5 of `s`: the one hash behind checkpoint and batch ids. */
  private[pipeline] def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The lineage directory for a config: `<sinkRoot>/_lineage` by
    * default; an explicit `lineagePath` namespaces by [[checkpointId]]
    * (the `sincedb_path` analog), so pipelines sharing a sinkRoot
    * advance independently.
    */
  def dirFor(cfg: PipelineConfig): String =
    if (cfg.lineagePath == null || cfg.lineagePath.isEmpty)
      path(cfg.sinkRoot)
    else s"${cfg.lineagePath}/${checkpointId(cfg)}"

  /** All committed lineage rows; empty if no checkpoint exists yet (the
    * "empty sincedb file reads as epoch, no exception" semantic,
    * sincedb_spec.rb:14-16, s3.rb:455-459).
    */
  def readAt(spark: SparkSession, dir: String): Seq[Commit] = {
    val st = store(spark, dir)
    convertParquet(spark, st)
    st.read().map(parse(dir))
  }

  /** Per-day high watermarks ([[stateAt]]'s first map). */
  def watermarks(spark: SparkSession, sinkRoot: String): Map[String, Timestamp] =
    stateAt(spark, path(sinkRoot))._1

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
    */
  def stateAt(spark: SparkSession, dir: String):
      (Map[String, Timestamp], Map[String, Long], Set[String]) = {
    // the maxima ignore NULLs; the batch-id set grows with the
    // checkpoint's age (compaction bounds files, not rows)
    val rows = readAt(spark, dir)
    val latest = Ordering.fromLessThan[Timestamp](_.before(_))
    val byDay = rows.groupBy(_.day).map { case (d, cs) =>
      (d, cs.flatMap(c => Option(c.last_ts)).maxOption(latest),
        cs.flatMap(c => Option(c.committed_at)).maxOption(latest))
    }.toSeq
    // a day whose EVERY commit row lost its WATERMARK is corrupt state
    // the engine never writes, consumed on every path — fail LOUDLY, all
    // days in one message (a silent skip would re-publish the day). A
    // day with only-null committed_at just drops out of the OBSERVATION
    // map: only sealing cycles consume it, and Main fails closed there.
    val corrupt = byDay.collect { case (d, None, _) => d }
    if (corrupt.nonEmpty)
      throw new IllegalStateException(
        s"corrupt lineage at $dir: day(s) " + corrupt.sorted.mkString(", ") +
          " have only NULL last_ts commit rows; repair or remove the " +
          "offending commit files before running")
    (byDay.collect { case (d, Some(wm), _) => d -> wm }.toMap,
      byDay.collect { case (d, _, Some(obs)) => d -> obs.getTime }.toMap,
      rows.flatMap(c => Option(c.batch_id)).toSet)
  }

  /** Set of committed batch ids — published sink batches not in this set
    * are orphans from a crashed run and must be ignored by readers
    * (snapshot-isolation analog of the reference's mtime-recheck guard,
    * s3.rb:383-390).
    */
  def committedBatches(spark: SparkSession, sinkRoot: String): Set[String] =
    committedBatchesAt(spark, path(sinkRoot))

  def committedBatchesAt(spark: SparkSession, dir: String): Set[String] =
    readAt(spark, dir).map(_.batch_id).toSet

  /** Append commit rows as one store file. */
  def commitAt(spark: SparkSession, dir: String, rows: Seq[Commit]): Unit =
    store(spark, dir).append(rows.map(line))

  /** Past `maxFiles` commit files, the store's fold re-commits the
    * history as ONE file, so the sincedb analog stays O(1) files to read
    * (s3.rb:446-468); [[stateAt]] absorbs a crashed fold's duplicates.
    */
  def compactAt(spark: SparkSession, dir: String, maxFiles: Int = 64): Boolean =
    store(spark, dir).fold(maxFiles)(identity)

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
    // `ident` (the checkpoint identity) keeps two pipelines publishing
    // into one sinkRoot from colliding on one (asOf, state) batch dir
    md5Hex(s"$ident|${asOf.getTime}|$state")
  }

  /** Strict: a damaged file is commit state no read may skip. */
  private def store(spark: SparkSession, dir: String) =
    new CheckpointStore(spark, dir, ".commits", strict = true)

  /** A commit's line: `<batch_id> <day> <last_ts> <rows> <committed_at>`,
    * timestamps as epoch microseconds (the precision the watermark
    * filter compares at).
    */
  private def line(c: Commit): String = CheckpointStore.line(c.batch_id,
    c.day, micros(c.last_ts), c.rows.toString, micros(c.committed_at))

  private def parse(dir: String)(l: String): Commit =
    scala.util.Try(CheckpointStore.fields(l) match {
      case Seq(b, d, wm, n, at) => Commit(b, d, ts(wm), n.toLong, ts(at))
    }).getOrElse(throw new IllegalStateException(
      s"corrupt lineage at $dir: unreadable commit line '$l'"))

  private def micros(t: Timestamp): String =
    if (t == null) null else DateTimeUtils.fromJavaTimestamp(t).toString
  private def ts(s: String): Timestamp =
    if (s == null) null else DateTimeUtils.toJavaTimestamp(s.toLong)

  /** The one Spark read left: the rows of a dir's Parquet commit files
    * (earlier builds' format) are appended as one store file, then
    * exactly those files are deleted; a crash in between leaves
    * duplicate rows, which every read tolerates.
    */
  private def convertParquet(spark: SparkSession, st: CheckpointStore): Unit = {
    val parquet = st.list(".parquet")
    if (parquet.nonEmpty) {
      st.append(spark.read.schema(Encoders.product[Commit].schema)
        .parquet(parquet.map(_.toString): _*)
        .as(Encoders.product[Commit]).collect().toSeq.map(line))
      st.delete(parquet)
    }
  }
}
