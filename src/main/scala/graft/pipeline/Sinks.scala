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
  *   3. append the lineage commit rows LAST: one driver-side file of
  *      the checkpoint store, renamed into place (Lineage.commitAt).
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
  *
  * Every per-batch namespace here — each `<sink>`, `archive`,
  * `_consumed`, `_deferred`, `_redriven`, `_violations` and
  * `_fingerprints` — is a [[BatchDirs]] store, which owns the
  * `batch=<id>` layout, the committed-or-survivor gate and the growth
  * bounds. This object names the namespaces and decides what each
  * batch writes into them.
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
      fs.mkdirs(new Path(s"$root/$sink"))
      val dest = new Path(BatchDirs(s"$root/$sink").path(batchId))
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
      .parquet(BatchDirs(s"$root/$s").path(batchId))
      .withColumn("sink", lit(s)))
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
    val base = Seq(concat(lit(addPrefix), col("conv_id")).as("conv_id"),
      col("turn_idx"), col("role"), col("text"), col("tool"), col("ts"),
      col("day"))
    val extras = extraCols.filter(routed.columns.contains).map(col)
    BatchDirs(s"$root/archive").write(routed.select(base ++ extras: _*),
      batchId)
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
    * A [[BatchDirs]] store like every namespace; a reader wanting
    * exactly-once rows should read through the store's committed gate
    * (readSink discipline) — an orphan dir from a crashed cycle is
    * overwritten by the idempotent re-run and deleted by the next fold
    * (`Main.commitTail`).
    */
  def violationsDir(root: String, checkpointId: String): String =
    s"$root/_violations/$checkpointId"

  /** Fingerprint store for cross-cycle dedup
    * (PipelineConfig.dedupAcrossCycles): per-batch dirs of the DISTINCT
    * normalized-text fingerprints each committed batch delivered to a
    * content sink. The cycle's namespace is this identity-keyed dir;
    * the stream keeps its own at `<sinkRoot>/stream/_fingerprints`
    * (Streaming.runForeachBatch). Both are [[BatchDirs]] stores: readers
    * gate on the caller's committed-batch set, so an orphan dir from a
    * crashed batch is invisible and the idempotent re-run overwrites
    * it, and [[BatchDirs.fold]] keeps the seen-set read O(1) dirs and
    * O(distinct fps) rows. The seen-set may hold duplicate fps after a
    * crashed fold; the reader's distinct (Dedup.reRouteSeen) absorbs
    * them.
    */
  def fingerprintsDir(root: String, checkpointId: String): String =
    s"$root/_fingerprints/$checkpointId"

  /** Record the batch's content-sink fingerprints (the dedup write
    * side) as batch `batchId` of the namespace `nsDir`. Distinct per
    * batch — within-batch multiplicity is not the store's business; one
    * row per fp bounds the store by corpus cardinality, not delivery
    * count. Rows the dedup stage re-routed to `duplicate` are in an
    * earlier batch's dir by construction, so each write is O(batch)
    * rows. When the dedup stage already computed the fingerprint column
    * (Dedup.fpColName, kept by reRouteSeen(keepFp=true)), it is REUSED
    * — no second md5+normalization pass over the batch's text.
    */
  def writeFingerprints(routed: DataFrame, nsDir: String,
      batchId: String): String = {
    val fp =
      if (routed.columns.contains(graft.ops.Dedup.fpColName))
        col(graft.ops.Dedup.fpColName)
      else graft.ops.TextAnalysis.fingerprint(col("text"))
    BatchDirs(nsDir).write(
      routed.filter(col("sink").isin(Route.contentSinks: _*))
        .select(fp.as("fp"))
        .distinct(),
      batchId)
  }

  /** Retire resolved deferred/redriven history: when the `_deferred`
    * namespace exceeds `maxDirs` per-batch dirs, fold every manifest
    * MINUS the committed-ledger keys into one compacted survivor and
    * delete the folded inputs (manifests AND the ledger dirs they
    * absorbed). Keeps both namespaces O(pending backlog), not O(cycles)
    * — the `_lineage` compaction discipline applied here. The ledger
    * anti-join is what sets it apart from [[BatchDirs.fold]]; the
    * listing, gate, survivor and delete are the store's.
    *
    * Crash-safe by ordering, tolerant of duplicates like every reader:
    * survivor first (old + new coexisting only duplicates keys, which
    * redrive's distinct/anti-join absorb), then the listed manifest
    * dirs, then the listed ledger dirs (a leftover ledger entry merely
    * anti-joins against nothing). Only dirs LISTED before the rewrite
    * are deleted — concurrent appends are never touched.
    */
  def compactDeferred(spark: SparkSession, root: String, checkpointId: String,
      committed: Set[String], maxDirs: Int = 64): Boolean = {
    val manifests = BatchDirs(deferredDir(root, checkpointId))
    val ledger = BatchDirs(redrivenDir(root, checkpointId))
    val manifestDirs = manifests.dirs(spark)
    if (manifestDirs.length <= maxDirs) return false
    val ledgerDirs = ledger.dirs(spark)
    BatchDirs.readDirs(spark, manifests.admitted(manifestDirs, committed))
      .foreach { m =>
        val all = m.distinct()
        manifests.writeSurvivor(
          BatchDirs.readDirs(spark, ledger.admitted(ledgerDirs, committed))
            .fold(all)(l => all.join(l, Seq("conv_id", "turn_idx"), "left_anti")))
      }
    // orphans (dirs whose batch never committed) are crash leftovers —
    // this engine is single-writer PER CHECKPOINT IDENTITY (the same
    // assumption behind the staged publish's delete+rename), and the
    // namespace is identity-scoped, so nothing in-flight and no OTHER
    // pipeline can own them. An orphan manifest describes a stranding
    // whose commit never happened (its rows are still normally
    // discoverable); an orphan ledger is ignored by every reader. Both
    // are deleted here so crash debris cannot accumulate forever.
    BatchDirs.delete(spark, manifestDirs ++ ledgerDirs)
    true
  }

  /** S16 `delete` analog (s3.rb:181-183): after a successful commit, the
    * batch's consumed (conv_id, day) set is recorded in a per-batch
    * manifest. Our engine NEVER destroys source data — the manifest IS
    * the deletion mark, replayable by a janitor that owns the input
    * (exactly how the reference separates "processed" from the
    * irreversible delete behind its `delete` flag).
    */
  def markConsumed(routed: DataFrame, root: String, batchId: String): String =
    BatchDirs(s"$root/_consumed")
      .write(routed.select(col("conv_id"), col("day")).distinct(), batchId)

  /** (conv_id, turn_idx, day) keys published across ALL sinks for the
    * given days — the seal audit's "already delivered" side.
    * `committed` is the recognized batch-id set (the caller's ONE
    * cycle-start lineage read, plus the in-flight batch whose staged
    * publish has happened but whose commit has not: its delta rows ARE
    * delivered, and the audit runs pre-commit). Each sink's batch dirs
    * are read with the key schema, so nothing is inferred; the day
    * filter is a pushed data-column predicate, so row-group stats skip
    * batches that contain none of the audited days.
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
    sinkDirs.flatMap(d =>
      BatchDirs(d.toString).read(spark, committed, Some(keySchema)))
      .reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], keySchema))
      .filter(col("day").isin(days.toSeq: _*))
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
      lineageDir: String): DataFrame =
    BatchDirs(s"$root/$sink")
      .read(spark, Lineage.committedBatchesAt(spark, lineageDir))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schema.turnSchema))
}
