package graft.pipeline

import java.sql.Timestamp

/** Core data model for the transcript pipeline.
  *
  * Input schema is authoritative from BASELINE.json `input_hint`:
  * `(conv_id:string, turn_idx:int, role:string, text:string,
  * tool:string, ts:timestamp)`. The reference's unit of data is an
  * untyped row-oriented event (reference: lib/logstash/inputs/s3.rb:17-19,
  * 224-239); ours is a typed row of `Dataset[Turn]` with a fixed
  * Catalyst schema so pruning/pushdown work.
  */
case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String, // null when the turn is not a tool turn
    ts: Timestamp)

/** Pipeline configuration — the analog of the reference plugin's config
  * block (s3.rb:38-91). All time logic takes an injected `asOf` clock:
  * tests must never read the wall clock (spec:123-139 controls Time.now
  * via doubles; we do the same with a parameter).
  *
  * @param inputPath       root of the partitioned transcript table
  * @param sinkRoot        root dir under which per-sink tables are published
  * @param excludePattern  Java-dialect regex; turns whose text matches are
  *                        routed to the `excluded` sink rather than dropped
  *                        (exclude_pattern analog, s3.rb:76, 360-374)
  * @param archivePrefix   prefix marking rows already archived — discovery
  *                        must not re-ingest them (backup_add_prefix
  *                        self-exclusion analog, s3.rb:365)
  * @param cutoffSeconds   freshness guard: turns with ts within `cutoff`
  *                        of `asOf` are deferred to the next run
  *                        (CUTOFF_SECOND analog, s3.rb:91, 153-154)
  * @param saltBuckets     salt fan-out for hot-conversation skew
  * @param chunkSize       rows per chunk for the distributed prefix scan
  *                        (header propagation / sessionization at scale)
  * @param storageClassCol name of an input column carrying the row's
  *                        storage tier (STANDARD/GLACIER/DEEP_ARCHIVE) —
  *                        the S6 Glacier-eligibility surface
  *                        (s3.rb:155-156); null (default) = every row
  *                        eligible
  * @param restoreHeaderCol name of an input column carrying the restore
  *                        header in the reference's exact format
  *                        (`ongoing-request="false", expiry-date="..."`,
  *                        s3.rb:428-444); consulted only for cold rows
  * @param lineagePath     base directory for the lineage checkpoint. null
  *                        (default) = `<sinkRoot>/_lineage`. When set,
  *                        the actual table lives under
  *                        `<lineagePath>/<checkpointId>` where
  *                        checkpointId = MD5 of the discovery identity —
  *                        the reference's `sincedb_path` +
  *                        `MD5(bucket+prefix)` naming (s3.rb:337-344), so
  *                        two differently-configured pipelines sharing a
  *                        sinkRoot advance INDEPENDENT watermarks
  * @param backupAddPrefix when non-null, every processed batch is also
  *                        copied to the archive namespace with this
  *                        prefix stamped onto conv_id — the
  *                        backup_to_bucket/backup_add_prefix analog
  *                        (s3.rb:169-183); pair with `archivePrefix` to
  *                        close the self-exclusion loop
  * @param deleteAfterProcess record consumed conv-days in a per-batch
  *                        consumption manifest after a successful commit
  *                        — the `delete` analog (s3.rb:181-183); our
  *                        engine never destroys source data, the manifest
  *                        IS the deletion mark
  * @param sealDaysGraceSeconds opt-in day-sealing: once the injected
  *                        clock is this far past a day's end, its
  *                        committed watermark is rounded up to
  *                        end-of-day, so the whole partition drops out
  *                        of the driver LISTING (Discover.completedDays;
  *                        the server-side-prefix discipline, s3.rb:144).
  *                        -1 (default) disables. Backfills into a
  *                        sealed day are watermark-skipped like the
  *                        reference skips objects behind sincedb — but
  *                        never lost: the seal-time audit manifests
  *                        every unpublished row, and a post-seal
  *                        landing reopens the day for one audit cycle
  *                        (Main.runCycle), so everything stranded
  *                        stays redrivable. Automatic reopen DETECTION
  *                        relies on the day directory's mtime
  *                        advancing, which holds when new files land
  *                        as direct children of the day dir or in
  *                        newly created subdirs (any POSIX/HDFS
  *                        filesystem); for writers appending into
  *                        pre-existing nested subdirs, or object
  *                        stores without directory mtimes, use
  *                        `reauditDays`
  * @param reauditDays     operational escape hatch: sealed days to
  *                        force-audit THIS cycle regardless of the
  *                        mtime check — covers backfill landings the
  *                        automatic detection cannot see (see
  *                        `sealDaysGraceSeconds`) and pre-upgrade
  *                        lineage stamps (Lineage.stateAt
  *                        migration note). Idempotent and exactly-once
  *                        like every audit; non-sealed days in the
  *                        list are ignored (normal discovery still
  *                        covers them)
  */
case class PipelineConfig(
    inputPath: String,
    sinkRoot: String,
    excludePattern: String = "",
    archivePrefix: String = "archived/",
    cutoffSeconds: Int = 3,
    saltBuckets: Int = 16,
    chunkSize: Int = 4096,
    // codec config — the reference's pluggable `codec` (s3.rb:35):
    // grok (plain analog) | json | multiline
    codec: String = "grok",
    jsonFields: Seq[String] = Seq("message", "level"),
    multilinePattern: String = "^\\s+",
    multilineNegate: Boolean = false,
    multilineWhat: String = "previous",
    storageClassCol: String = null,
    restoreHeaderCol: String = null,
    lineagePath: String = null,
    backupAddPrefix: String = null,
    deleteAfterProcess: Boolean = false,
    sealDaysGraceSeconds: Int = -1,
    reauditDays: Seq[String] = Nil,
    // opt-in cross-cycle dedup: rows whose normalized-text fingerprint
    // was already published to a content sink by an EARLIER committed
    // batch re-route to the `duplicate` sink (never silently dropped).
    // The fingerprint store lives under _fingerprints/<checkpointId>,
    // maintained with the engine's committed-batch discipline.
    dedupAcrossCycles: Boolean = false,
    // opt-in multimodal column: names a BINARY input column of media
    // blobs. When set, the cycle decodes each blob's container header
    // once (narrow map, blobs never shuffled), merges the decoded
    // metadata into the P7 meta map, and re-routes content-sink rows
    // whose NON-NULL blob decodes to nothing to the dead-letter sink.
    mediaCol: String = null,
    // opt-in media FEATURE columns (requires mediaCol): the same
    // narrow map additionally runs the fused sample decode + feature
    // extraction (real for PNG pixels / 16-bit PCM; NULL for blobs
    // only a lossy codec could open — the null-flag contract, rows
    // keep riding) and publishes media_checksum + media_feat columns
    // beside meta.
    mediaFeatures: Boolean = false,
    // opt-in thumbnails (requires mediaCol; 0 = off): adds a
    // media_thumb binary column (side x side x channels nearest-
    // neighbor bytes) for decodable PNGs, NULL otherwise.
    mediaThumbSide: Int = 0) {

  /** The ONE definition of "S6 is configured" (empty string == null ==
    * disabled) — gates the eligibility predicate, the schema extension,
    * the stranded-manifest write, and the deferred-namespace compaction,
    * which must never disagree.
    */
  def s6Configured: Boolean =
    storageClassCol != null && storageClassCol.nonEmpty

  /** Whether ANY deferral surface is active — S6 cold-row stranding or
    * day-sealing's stranded-backfill audit. Gates the `_deferred`
    * namespace machinery (manifest writes, compaction) so a pipeline
    * with neither feature pays nothing.
    */
  def deferralConfigured: Boolean =
    s6Configured || sealDaysGraceSeconds >= 0

  /** The ONE definition of "the multimodal stage is configured" —
    * gates the read-schema extension and the media routing stage.
    */
  def mediaConfigured: Boolean = mediaCol != null && mediaCol.nonEmpty
}

object Schema {
  import org.apache.spark.sql.types._

  /** StructType mirror of [[Turn]] for schema-on-read. */
  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("tool", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = false)
  ))

  /** Roles cycled by the generator; weights per FIXTURES.md §A. */
  val roles: Seq[String] = Seq("user", "assistant", "tool", "system")

  /** Broadcast dim: role -> actor_class (SURVEY.md §2.3). */
  val roleDim: Seq[(String, String)] = Seq(
    "user" -> "human",
    "assistant" -> "model",
    "tool" -> "machine",
    "system" -> "orchestrator")

  /** Broadcast dim: tool -> category. One tool name that appears in the
    * data ("mystery_tool") is deliberately absent so the left-join null
    * path is exercised (FIXTURES.md §A lookup dims).
    */
  val toolDim: Seq[(String, String)] = Seq(
    "search" -> "retrieval",
    "browser" -> "retrieval",
    "python" -> "code",
    "bash" -> "code",
    "calculator" -> "math",
    "sql" -> "code",
    "email" -> "comms",
    "calendar" -> "comms",
    "weather" -> "api",
    "translate" -> "nlp")

  val toolNames: Seq[String] = toolDim.map(_._1) :+ "mystery_tool"

  /** Levels embedded in generated text lines. */
  val levels: Seq[String] = Seq("TRACE", "DEBUG", "INFO", "WARN", "ERROR")
}
