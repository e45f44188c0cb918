package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Staged, idempotent multi-sink publish (S13-S17).
  *
  * The reference's finalize sequence is: write to a temp file, process,
  * back up, delete, then advance sincedb — checkpoint strictly AFTER the
  * outputs are safe (s3.rb:376-396). A mid-run crash leaves the
  * checkpoint untouched and the whole file re-runs (at-least-once,
  * s3.rb:219-222). We upgrade that to effectively-once per batch:
  *
  *   1. write every sink's delta under `_staging/<batchId>/<sink>/`;
  *   2. atomically rename each to `<sink>/batch=<batchId>/` (local/HDFS
  *      rename is atomic per directory);
  *   3. append the lineage commit rows (Lineage.commit) LAST.
  *
  * `batchId` is a pure function of (asOf, checkpoint state), so a crashed
  * run re-executed on the same state republishes the SAME batch
  * directories (idempotent), and readers ([[readSink]]) only see batches
  * recorded in lineage — an orphaned publish from a crash between (2)
  * and (3) is invisible until its re-run commits.
  *
  * The physical write is salted-repartitioned on conv_id then
  * secondary-sorted on (conv_id, turn_idx): hot conversations spread
  * across `saltBuckets` writers (skew defense) while per-conversation
  * turn order within each output file stays stable (the north star's
  * "salted repartitioning ... secondary sort on turn_idx").
  */
object Sinks {

  def stagingDir(root: String, batchId: String): String =
    s"$root/_staging/$batchId"

  /** Write the routed delta to per-sink staging dirs ([[writeBySink]]). */
  def writeStaged(routed: DataFrame, root: String, batchId: String,
      saltBuckets: Int = 16): Unit =
    writeBySink(routed, stagingDir(root, batchId), saltBuckets)

  /** THE sink layout, shared by the cycle's staged write and the
    * stream's per-micro-batch dir: `dest/sink=<sink>/`, overwritten
    * wholesale. One pass over the data: partitionBy(sink) splits the
    * fan-out at write time instead of N filtered jobs re-reading the
    * delta N times; the salted repartition + secondary sort is the
    * skew defense described on [[Sinks]].
    */
  def writeBySink(routed: DataFrame, dest: String, saltBuckets: Int): Unit =
    sinkLayout(routed, saltBuckets).write.mode("overwrite")
      .partitionBy("sink")
      .parquet(dest)

  /** The frame [[writeBySink]] writes: salted repartition + secondary sort. */
  private[graft] def sinkLayout(routed: DataFrame, saltBuckets: Int): DataFrame =
    routed
      .repartition(col("conv_id"),
        pmod(hash(col("turn_idx")), lit(saltBuckets)))
      .sortWithinPartitions(col("sink"), col("conv_id"), col("turn_idx"))

  /** Publish staged sink dirs as `<sink>/batch=<batchId>`. Idempotent:
    * an existing destination (crashed previous attempt) is replaced
    * wholesale, never merged.
    *
    * COMMIT-PROTOCOL NOTE (explicit design decision): the rename here
    * is NOT the atomicity mechanism — lineage-gating is. Readers
    * ([[readSink]], redrive, the seal audit) only ever look at batch
    * dirs whose id appears in the committed lineage table, so a
    * half-moved or orphaned publish is invisible regardless of rename
    * semantics. That matters on the real 100 TB target: object stores
    * have no atomic directory rename (it is a per-object copy+delete),
    * and this protocol does not care. The staging round-trip is KEPT
    * anyway, for hygiene rather than atomicity: (a) `_staging` is
    * hidden from every listing by the `_` prefix, so debris from a
    * crashed write can never be mistaken for data by ANY tool, not just
    * lineage-aware ones; (b) the delete+rename gives wholesale
    * dir-replacement idempotence without enumerating stale files. On an
    * object store the copy cost is one extra PUT per object of the
    * batch — if that ever dominates, writing batch dirs directly and
    * relying purely on the lineage gate is the documented alternative;
    * no reader would change.
    */
  def publish(spark: SparkSession, root: String, batchId: String): Seq[String] = {
    val staging = new Path(stagingDir(root, batchId))
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val published = stagedSinks(spark, root, batchId).map { sink =>
      val destDir = new Path(s"$root/$sink")
      fs.mkdirs(destDir)
      val dest = new Path(destDir, s"batch=$batchId")
      if (fs.exists(dest)) fs.delete(dest, true)
      fs.rename(new Path(staging, s"sink=$sink"), dest)
      sink
    }
    fs.delete(staging, true)
    published
  }

  /** The sinks a staged write produced, from its `sink=` dir names — a
    * driver-side listing, no Spark job. Empty when the staged delta had
    * no rows (the write leaves only its `_SUCCESS` marker) or no staged
    * dir exists.
    */
  def stagedSinks(spark: SparkSession, root: String,
      batchId: String): Seq[String] = {
    val staging = new Path(stagingDir(root, batchId))
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(staging)) Seq.empty
    else fs.listStatus(staging).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("sink="))
      .map(_.getPath.getName.stripPrefix("sink="))
  }

  /** Delete a batch's staging dir (an empty staged write's leftovers). */
  def dropStaged(spark: SparkSession, root: String, batchId: String): Unit = {
    val staging = new Path(stagingDir(root, batchId))
    staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(staging, true)
  }

  /** A published batch's rows over `sinks`, read back from the
    * `<sink>/batch=<batchId>` files with `sink` re-attached from each
    * dir name. `schema` is the written files' schema (the routed frame's
    * minus `sink`), so the read infers nothing.
    */
  def readPublished(spark: SparkSession, root: String, batchId: String,
      sinks: Seq[String], schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    sinks.map(s => spark.read.schema(schema)
      .parquet(s"$root/$s/batch=$batchId").withColumn("sink", lit(s)))
      .reduce(_ unionByName _)

  /** The EXPLICIT archive-write op — the `backup_to_bucket` +
    * `backup_add_prefix` action (s3.rb:169-183; spec:274-322 asserts the
    * copy target carries the prefix). The reference copies each processed
    * object to the backup bucket under `"#{backup_add_prefix}#{key}"`;
    * our row analog copies the batch's ORIGINAL input columns to the
    * archive namespace with the prefix stamped onto the object key
    * (conv_id). Re-ingesting the archive dir with
    * `PipelineConfig.archivePrefix = addPrefix` closes the S7c
    * self-exclusion loop: discovery drops the prefixed keys.
    *
    * Per-batch dir + overwrite = idempotent under re-runs, same
    * discipline as the staged sink publish. Returns the archive dir.
    *
    * `extraCols` rides configured INPUT metadata columns (the S6
    * storage_class / restore header) into the copy: the reference's
    * backup is a faithful object copy incl. all object metadata
    * (s3.rb:169-183), so an audit or re-ingest of the archive must see
    * the same cold/restore state the source row carried — dropping them
    * would silently re-classify every archived row as warm.
    */
  def archive(routed: DataFrame, root: String, batchId: String,
      addPrefix: String, extraCols: Seq[String] = Nil): String = {
    require(addPrefix != null && addPrefix.nonEmpty,
      "backup_add_prefix must be non-empty: an empty prefix would make " +
        "archived keys indistinguishable from source keys and defeat " +
        "the self-exclusion guard (Discover S7c)")
    val dest = s"$root/archive/batch=$batchId"
    val base = Seq(concat(lit(addPrefix), col("conv_id")).as("conv_id"),
      col("turn_idx"), col("role"), col("text"), col("tool"), col("ts"),
      col("day"))
    val extras = extraCols.filter(routed.columns.contains).map(col)
    routed
      .select(base ++ extras: _*)
      .write.mode("overwrite").parquet(dest)
    dest
  }

  /** The deferred/redriven namespaces are keyed by CHECKPOINT IDENTITY,
    * exactly like the identity-keyed lineage: two pipelines sharing a
    * sinkRoot (or one pipeline whose discovery config changes) must
    * never read — or, worse, orphan-clean — each other's backlog.
    *
    * Identity-change property (symmetric with the lineage): changing
    * any checkpointId input (inputPath / archivePrefix / storage
    * columns) parks the OLD identity's backlog under its old subdir —
    * untouched, re-drivable by reverting the config (or running a
    * one-off cycle with the old config), never cleaned by the new
    * identity. Deliberate: cross-identity deletion is the data-loss
    * mode this keying exists to prevent.
    */
  def deferredDir(root: String, checkpointId: String): String =
    s"$root/_deferred/$checkpointId"
  def redrivenDir(root: String, checkpointId: String): String =
    s"$root/_redriven/$checkpointId"

  /** Contract-violation census (null event times found by the seal
    * audit) — operator-facing, never consulted by the engine itself.
    * Per-batch dirs like every namespace; a reader wanting
    * exactly-once rows should filter to committed batch ids (readSink
    * discipline) — an orphan dir from a crashed cycle is overwritten
    * by the idempotent re-run but is not otherwise cleaned.
    */
  def violationsDir(root: String, checkpointId: String): String =
    s"$root/_violations/$checkpointId"

  /** Fingerprint store for cross-cycle dedup
    * (PipelineConfig.dedupAcrossCycles): per-batch dirs of the DISTINCT
    * normalized-text fingerprints each committed batch delivered to a
    * content sink. The cycle's namespace is this identity-keyed dir;
    * the stream keeps its own at `<sinkRoot>/stream/_fingerprints`
    * (Streaming.runForeachBatch). The read, write and fold below take
    * the namespace dir, so both surfaces share one store: readers gate
    * on the caller's committed-batch set, so an orphan dir from a
    * crashed batch is invisible and the idempotent re-run overwrites
    * it.
    */
  def fingerprintsDir(root: String, checkpointId: String): String =
    s"$root/_fingerprints/$checkpointId"

  /** Record the batch's content-sink fingerprints (the dedup write
    * side) as `<nsDir>/batch=<batchId>`. Distinct per batch —
    * within-batch multiplicity is not the store's business; one row per
    * fp bounds the store by corpus cardinality, not delivery count.
    * Rows the dedup stage re-routed to `duplicate` are in an earlier
    * batch's dir by construction, so each write is O(batch) rows. When
    * the dedup stage already computed the fingerprint column
    * (Dedup.fpColName, kept by reRouteSeen(keepFp=true)), it is REUSED
    * — no second md5+normalization pass over the batch's text.
    */
  def writeFingerprints(routed: DataFrame, nsDir: String,
      batchId: String): String = {
    val dest = s"$nsDir/batch=$batchId"
    val fp =
      if (routed.columns.contains(graft.ops.Dedup.fpColName))
        col(graft.ops.Dedup.fpColName)
      else graft.ops.TextAnalysis.fingerprint(col("text"))
    routed.filter(col("sink").isin(Route.contentSinks: _*))
      .select(fp.as("fp"))
      .distinct()
      .write.mode("overwrite").parquet(dest)
    dest
  }

  /** The committed seen-set (None when no committed batch has recorded
    * fingerprints yet — first batch, or the feature just turned on).
    * May hold duplicate fps after a crashed compaction; the reader's
    * distinct (Dedup.reRouteSeen) absorbs them.
    */
  def readFingerprints(spark: SparkSession, nsDir: String,
      committed: Set[String]): Option[DataFrame] = {
    val dirs = partitionCommitted(batchDirs(spark, nsDir), committed)._1
    if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
  }

  /** Fold fingerprint history into one distinct snapshot once the
    * namespace exceeds `maxDirs` dirs — [[compactNamespace]]'s
    * discipline (compacted-survivor naming, orphans deleted as crash
    * debris, only pre-listed dirs touched). Keeps the seen-set read
    * O(1) dirs and O(distinct fps) rows, not O(batches).
    */
  def compactFingerprints(spark: SparkSession, nsDir: String,
      committedBatches: => Set[String], maxDirs: Int = 64): Boolean =
    compactNamespace(spark, nsDir, committedBatches, maxDirs,
      mergeSchema = false)

  /** THE fold-committed-dirs-into-one-snapshot discipline shared by the
    * violations and fingerprint namespaces (compactDeferred keeps its
    * own body — its ledger interplay is genuinely different): compacted
    * snapshot written FIRST (coexistence with the inputs only
    * duplicates rows, which every reader's distinct/anti-join absorbs),
    * only pre-listed dirs deleted, orphans deleted as crash debris
    * (single writer per checkpoint identity; every call runs when no
    * write to the namespace is in flight — the cycle's post-commit, the
    * stream's batch start). One body so a future fix to the
    * ordering/orphan rules cannot silently diverge the namespaces.
    */
  private[graft] def compactNamespace(spark: SparkSession, nsDir: String,
      committedBatches: => Set[String], maxDirs: Int,
      mergeSchema: Boolean): Boolean = {
    val all = batchDirs(spark, nsDir)
    if (all.length <= maxDirs) return false
    val committed = committedBatches
    val (dirs, orphans) = partitionCommitted(all, committed)
    if (dirs.nonEmpty)
      spark.read.option("mergeSchema", mergeSchema.toString)
        .parquet(dirs: _*).distinct()
        .write.mode("overwrite")
        .parquet(s"$nsDir/batch=compacted-${System.nanoTime()}")
    val conf = spark.sparkContext.hadoopConfiguration
    (dirs ++ orphans).foreach { d =>
      val p = new Path(d)
      p.getFileSystem(conf).delete(p, true)
    }
    true
  }

  /** Per-batch manifest of skipped-cold rows (S6): the reference loses
    * an unrestored object forever once sincedb passes its mtime
    * (s3.rb:152-156); we advance the watermark identically but keep the
    * skipped rows re-drivable. Idempotent per-batch overwrite; schema =
    * full input row incl. the storage columns, so a backfill pipeline
    * can re-evaluate eligibility directly from the manifest.
    */
  def writeDeferred(deferred: DataFrame, root: String, checkpointId: String,
      batchId: String): String = {
    val dest = s"${deferredDir(root, checkpointId)}/batch=$batchId"
    deferred.write.mode("overwrite").parquet(dest)
    dest
  }

  /** List `batch=*` child dirs of a namespace root (empty if absent). */
  def batchDirs(spark: SparkSession, root: String): Seq[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("batch=")).map(_.toString)
  }

  /** THE definition of a recognized (vs orphan) batch dir: its batch id
    * committed, or it is a compaction survivor. Shared by redrive's
    * reads and [[compactDeferred]]'s folding/cleanup so the two can
    * never disagree about which dirs count.
    */
  def partitionCommitted(dirs: Seq[String],
      committed: Set[String]): (Seq[String], Seq[String]) =
    dirs.partition { d =>
      val b = d.split("batch=").last
      b.startsWith("compacted-") || committed.contains(b)
    }

  /** Retire resolved deferred/redriven history: when the `_deferred`
    * namespace exceeds `maxDirs` per-batch dirs, fold every manifest
    * MINUS the committed-ledger keys into one compacted dir and delete
    * the folded inputs (manifests AND the ledger dirs they absorbed).
    * Keeps both namespaces O(pending backlog), not O(cycles) — the
    * `_lineage` compaction discipline applied here.
    *
    * Crash-safe by ordering, tolerant of duplicates like every reader:
    * compacted dir first (old + new coexisting only duplicates keys,
    * which redrive's distinct/anti-join absorb), then the listed
    * manifest dirs, then the folded ledger dirs (a leftover ledger
    * entry merely anti-joins against nothing). Only dirs LISTED before
    * the rewrite are deleted — concurrent appends are never touched.
    */
  def compactDeferred(spark: SparkSession, root: String, checkpointId: String,
      committedBatches: => Set[String], maxDirs: Int = 64): Boolean = {
    val allManifest = batchDirs(spark, deferredDir(root, checkpointId))
    // cheap listing guard FIRST — the committed set (a lineage read +
    // driver collect) is by-name and only evaluated past the threshold
    if (allManifest.length <= maxDirs) return false
    val committed = committedBatches
    val (manifestDirs, manifestOrphans) =
      partitionCommitted(allManifest, committed)
    val (ledgerDirs, ledgerOrphans) = partitionCommitted(
      batchDirs(spark, redrivenDir(root, checkpointId)), committed)
    if (manifestDirs.nonEmpty) {
      val all = spark.read.parquet(manifestDirs: _*).distinct()
      val remaining =
        if (ledgerDirs.isEmpty) all
        else all.join(spark.read.parquet(ledgerDirs: _*),
          Seq("conv_id", "turn_idx"), "left_anti")
      remaining.write.mode("overwrite").parquet(
        s"${deferredDir(root, checkpointId)}/batch=compacted-${System.nanoTime()}")
    }
    // orphans (dirs whose batch never committed) are crash leftovers —
    // this engine is single-writer PER CHECKPOINT IDENTITY (the same
    // assumption behind the staged publish's delete+rename), and the
    // namespace is identity-scoped, so nothing in-flight and no OTHER
    // pipeline can own them. An orphan manifest describes a stranding
    // whose commit never happened (its rows are still normally
    // discoverable); an orphan ledger is ignored by every reader. Both
    // are deleted here so crash debris cannot accumulate forever.
    val conf = spark.sparkContext.hadoopConfiguration
    (manifestDirs ++ ledgerDirs ++ manifestOrphans ++ ledgerOrphans)
      .foreach { d =>
        val p = new Path(d)
        p.getFileSystem(conf).delete(p, true)
      }
    true
  }

  /** Retire violation-census history: when `_violations/<cid>` exceeds
    * `maxDirs` per-batch dirs, fold every COMMITTED batch's rows into
    * one compacted snapshot and delete the folded inputs plus orphan
    * dirs — [[compactDeferred]]'s discipline applied to the census, so
    * a standing `reauditDays` config with a misbehaving producer
    * cannot grow the dir count (and the census's prior-batch read
    * fan-in, Main.quarantineViolations) without bound.
    *
    * The fold reads with mergeSchema: census batches store RAW rows
    * whose schema may evolve across engine versions, and the compacted
    * snapshot must lose no column of any era (absent columns pad to
    * null — whole-row distinct treats them null-safely). The frozen
    * census identity columns exist in every batch ever written, so the
    * census's fixed-schema dedup read works on the compacted dir
    * unchanged. Crash-safety and orphan reasoning are compactDeferred's
    * verbatim: compacted dir written first (coexistence only duplicates
    * rows, which the census's whole-row anti-join absorbs), only
    * pre-listed dirs deleted, orphans are crash debris whose rows were
    * re-quarantined under the successor batch id (single writer per
    * checkpoint identity; this runs post-commit, so nothing is
    * in-flight).
    */
  def compactViolations(spark: SparkSession, root: String,
      checkpointId: String, committedBatches: => Set[String],
      maxDirs: Int = 64): Boolean =
    compactNamespace(spark, violationsDir(root, checkpointId),
      committedBatches, maxDirs, mergeSchema = true)

  /** S16 `delete` analog (s3.rb:181-183): after a successful commit, the
    * batch's consumed (conv_id, day) set is recorded in a per-batch
    * manifest. Our engine NEVER destroys source data — the manifest IS
    * the deletion mark, replayable by a janitor that owns the input
    * (exactly how the reference separates "processed" from the
    * irreversible delete behind its `delete` flag).
    */
  def markConsumed(routed: DataFrame, root: String, batchId: String): String = {
    val dest = s"$root/_consumed/batch=$batchId"
    routed.select(col("conv_id"), col("day")).distinct()
      .write.mode("overwrite").parquet(dest)
    dest
  }

  /** (conv_id, turn_idx, day) keys published across ALL sinks for the
    * given days — the seal audit's "already delivered" side.
    * `committed` is the recognized batch-id set (the caller's ONE
    * cycle-start lineage read, plus the in-flight batch whose staged
    * publish has happened but whose commit has not: its delta rows ARE
    * delivered, and the audit runs pre-commit). The day filter is a
    * pushed data-column predicate, so row-group stats skip batches
    * that contain none of the audited days.
    *
    * Cost note (100 TB): this reads each audited day's published rows
    * once — paid once per day LIFETIME (at seal), plus once per reopen.
    * If seal audits dominate, publish sinks partitioned by (sink, day)
    * would turn this into a partition-pruned read; not done here
    * because batches are day-skewed anyway (a batch holds recent days),
    * so the row-group skip already prunes most files.
    */
  def publishedKeys(spark: SparkSession, root: String,
      days: Set[String], committed: Set[String]): DataFrame = {
    import org.apache.spark.sql.types.{StringType, IntegerType, StructType, StructField}
    val keySchema = StructType(Seq(
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("day", StringType)))
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sinkDirs =
      if (!fs.exists(rootPath)) Seq.empty
      else fs.listStatus(rootPath).toSeq
        .filter(_.isDirectory) // the listing already carries the bit
        .map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") ||
          p.getName.startsWith(".") ||
          p.getName == "archive" || // prefixed COPIES, not deliveries
          p.getName == "stream") // the streaming surface commits its own
    val batches = sinkDirs.flatMap(sd => batchDirs(spark, sd.toString))
      .filter(d => committed.contains(d.split("batch=").last))
    if (batches.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], keySchema)
    else spark.read.parquet(batches: _*)
      .filter(col("day").isin(days.toSeq: _*))
      .select(col("conv_id"), col("turn_idx"), col("day"))
  }

  /** Read a sink's COMMITTED contents: only batch dirs present in the
    * lineage table (snapshot isolation for readers).
    */
  def readSink(spark: SparkSession, root: String, sink: String): DataFrame =
    readSink(spark, root, sink, Lineage.path(root))

  /** As [[readSink]], with the lineage table at an explicit location
    * (configurable `lineagePath` pipelines, Lineage.dirFor).
    */
  def readSink(spark: SparkSession, root: String, sink: String,
      lineageDir: String): DataFrame = {
    val committed = Lineage.committedBatchesAt(spark, lineageDir)
    val dir = new Path(s"$root/$sink")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches =
      if (!fs.exists(dir)) Seq.empty[String]
      else fs.listStatus(dir).toSeq
        .map(_.getPath)
        .filter(p => p.getName.startsWith("batch=") &&
          committed.contains(p.getName.stripPrefix("batch=")))
        .map(_.toString)
    if (batches.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schema.turnSchema)
    } else spark.read.parquet(batches: _*)
  }
}
