package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One batch-incremental cycle — the `run(queue)` analog (s3.rb:130-136)
  * with `watch_for_new_files=false` semantics: one discovery, one
  * process pass, then stop (s3.rb:125-127). The reference's 60s polling
  * loop becomes repeated invocations of [[runCycle]] (or a Structured
  * Streaming trigger; see graft.streaming).
  *
  * Lifecycle per cycle (SURVEY.md §3.1):
  *   read lineage once (driver-side, no Spark job) -> discover delta
  *   (file ledger + watermark + cutoff predicates, partition-pruned
  *   scan) -> parse (grok columns + header propagation +
  *   sessionization) -> route -> enrich (constant-map lookups) -> staged
  *   sink write -> one aggregate over the staged files (per-day
  *   watermarks + metric rows) -> atomic publish -> metric tables ->
  *   lineage commit.
  *
  * The staged write is the ONLY run of the pipeline plan: nothing is
  * cached, and every later consumer (the aggregate, archive,
  * fingerprints, the consumption mark) reads the files that write
  * produced — one read -> decode -> write pass per batch, as the
  * reference does per object (s3.rb:376-396).
  *
  * Re-running with no new data is a no-op: the file ledger shows every
  * listed file covered by the watermark, so discovery pins no file and
  * the cycle runs no Spark job (no staged write, no publish, no commit;
  * the lineage and the ledger are read on the driver). A delta empty
  * for other reasons (every row cutoff-deferred or cold) writes an
  * empty staged batch, which is deleted. A crash before the lineage
  * commit leaves the checkpoint untouched; the re-run reproduces the
  * same batch id and republishes idempotently.
  */
object Main {

  case class CycleResult(batchId: String, rowsProcessed: Long,
      publishedSinks: Seq[String])

  def runCycle(spark: SparkSession, cfg: PipelineConfig,
      asOf: Timestamp): CycleResult = {
    // 1. checkpoint state — read ONCE per cycle (CHANGELOG.md:8), from
    // the config's lineage location (identity-keyed when lineagePath is
    // set — the sincedb_path analog). The one read serves every
    // per-cycle lookup: watermarks, observation stamps and the
    // committed-batch set every later exactly-once check consumes
    val lineageDir = Lineage.dirFor(cfg)
    val (wms, obsMs, committedAtStart) = Lineage.stateAt(spark, lineageDir)
    val batchId = Lineage.batchId(asOf, wms, Lineage.checkpointId(cfg))
    // the cycle's observation stamp, taken BEFORE any listing: every
    // file this cycle's listings/audits cover has mtime >= nothing the
    // stamp postdates, so the sealed-day reopen check (dir mtime >=
    // stamp) can never skip a landing the audits missed. Stamped into
    // every commit row as `committed_at` (Lineage.stateAt).
    val observedAt = new Timestamp(System.currentTimeMillis())

    // 2. discovery: the unprocessed, cutoff-eligible delta plus the
    // skipped-cold complement — ONE pinned listing for both sides —
    // plus any sealed days REOPENED by a post-seal landing (detected
    // from the dir mtimes the walk already fetched; such days are not
    // listed — all their rows are behind the end-of-day watermark —
    // but owe a seal audit + refresh commit below). The operator can
    // force the same audit for days the mtime check cannot see
    // (reauditDays — nested-subdir appends, object stores, pre-upgrade
    // stamps); non-sealed entries are ignored, normal discovery covers
    // them.
    val completed = Discover.completedDays(wms)
    val sealedAtMs: Map[String, Long] =
      if (cfg.sealDaysGraceSeconds < 0) Map.empty
      else {
        // fail CLOSED: a completed day with no observation stamp (its
        // committed_at rows corrupted to null) would default to
        // "never reopen" in the skip map — post-seal landings would be
        // silently lost. Abort with the repair scope, UNLESS the
        // operator already routed the day through --reaudit-days: the
        // forced audit re-stamps it with a fresh refresh commit, so
        // that flag doubles as the self-healing path here.
        val missing = completed.filterNot(obsMs.contains) -- cfg.reauditDays
        if (missing.nonEmpty)
          throw new IllegalStateException(
            s"corrupt lineage at $lineageDir: sealed day(s) " +
              missing.toSeq.sorted.mkString(", ") +
              " have no committed_at observation stamp; repair the " +
              "commit rows or run one cycle with --reaudit-days " +
              "covering them")
        obsMs
      }
    val disc = Discover.discover(spark, cfg, asOf, wms, sealedAtMs)
    val (delta, deferredCold) = (disc.delta, disc.deferredCold)
    val reopened = disc.reopenedSealedDays ++
      cfg.reauditDays.toSet.intersect(completed)

    // 3-5. parse -> route -> enrich -> prefix scan (one wide step, last,
    // so consumers that drop columns shuffle less — see Pipeline) ->
    // optional cross-cycle dedup re-route (reads the committed
    // fingerprint store from the same cycle-start committed set as
    // every other exactly-once check, so a crash re-run reproduces
    // identical routing) -> the staged write, the plan's one run
    // no pinned file: the delta is empty, known on the driver
    import spark.implicits._
    val staged =
      if (disc.files.isEmpty) None
      else stage(spark, cfg, batchId,
        stages(spark, cfg, delta.as[Turn](
          org.apache.spark.sql.Encoders.product[Turn]),
          fingerprints(cfg), committedAtStart))

    // new per-day watermarks, from the staged files' one aggregate
    val newWms = staged.toSeq.flatMap(_.metrics.days)
    val total = newWms.map(_._3).sum

    // day-sealing policy (opt-in): once a day is `sealDaysGraceSeconds`
    // past its end at the injected clock, round its committed watermark
    // up to end-of-day. Sealed days drop out of the driver LISTING
    // entirely (Discover.completedDays) — the server-side-prefix
    // discipline at 100x file counts. Rows backfilled into a sealed day
    // are watermark-skipped like the reference skips objects behind
    // sincedb — but never LOST: the seal audit below manifests every
    // unpublished behind-watermark row at seal time, and a post-seal
    // landing reopens the day for one audit cycle (`reopened`).
    // the effective grace is clamped to >= cutoffSeconds: a seal firing
    // inside the cutoff window would round the watermark past rows the
    // S5 cutoff deliberately deferred to the NEXT cycle — on-time data,
    // not backfill — and silently lose them at every day boundary
    val graceEff = math.max(cfg.sealDaysGraceSeconds.toLong,
      cfg.cutoffSeconds.toLong)
    def sealableEnd(d: String): Option[Timestamp] =
      if (cfg.sealDaysGraceSeconds < 0) None
      else Discover.endOfDayTs(d).filter(e =>
        !asOf.toInstant.isBefore(e.toInstant.plusSeconds(graceEff)))
    def sealed_(d: String, mx: Timestamp): Timestamp =
      sealableEnd(d).filter(_.after(mx)).getOrElse(mx)
    // retroactive seals: days committed in EARLIER cycles whose grace
    // has now elapsed get a zero-row seal commit, so they stop being
    // listed even when no new data arrives
    val sealCommits = wms.toSeq.collect {
      case (d, wm) if sealableEnd(d).exists(_.after(wm)) =>
        Lineage.Commit(batchId, d, sealableEnd(d).get, 0L, observedAt)
    }
    // reopened sealed days get a zero-row REFRESH commit: the new
    // observation stamp (committed_at = observedAt) is what closes the
    // day again — without it the dir-mtime check would re-audit every
    // cycle forever
    val reopenCommits = reopened.toSeq.sorted.map(d =>
      Lineage.Commit(batchId, d, wms(d), 0L, observedAt))

    // the manifest records exactly the rows THIS CYCLE'S COMMIT STRANDS,
    // from two sources:
    //  - S6: deferred-cold rows at or below the watermark the commit is
    //    about to write (incl. seals);
    //  - sealing: the seal AUDIT — for each day sealing now (with a
    //    prior watermark) or reopened by a post-seal landing, every
    //    behind-watermark source row that was never published and never
    //    manifested (a warm backfill behind the watermark; a cold row
    //    that landed after its day sealed). This closes the one loss
    //    path the reference keeps (s3.rb:151-156): backfill behind
    //    sincedb is gone there, redrivable here.
    // A stranded row is invisible to normal discovery from this moment
    // on — the watermark never retreats — so the manifest and the
    // normal path can NEVER both deliver a row (redrive exactly-once is
    // structural, not best-effort). Deferred rows still ABOVE the new
    // watermark are deliberately NOT manifested: normal discovery
    // re-evaluates them next cycle, and a later cycle manifests them if
    // and when it strands them — EXCEPT in a day being sealed or
    // reopened, where "next cycle" no longer exists (the partition
    // drops out of the listing): there the audit manifests EVERY
    // unpublished row regardless of ts (including day/ts-mismatch rows
    // with ts past end-of-day) and the commit ABSORBS their max ts into
    // the day's watermark, so "manifested => behind the committed
    // watermark" — the invariant redrive's exactly-once rests on —
    // holds unconditionally.
    val effWms: Map[String, Timestamp] = wms ++
      newWms.map { case (d, mx, _) => d -> sealed_(d, mx) } ++
      sealCommits.map(c => c.day -> c.last_ts)
    // audit scope: every day whose committed watermark TRANSITIONS to
    // end-of-day this cycle — INCLUDING a day first seen and sealed in
    // one cycle: with the uncapped audit its cutoff-deferred rows
    // (possible exactly when they carry ts past end-of-day, the
    // day/ts-mismatch class) are unpublished and about to be hidden,
    // so "no prior watermark" is not "nothing to audit". Plus
    // reopened/force-reaudited days (wm already at end-of-day). A
    // quietly-sealed day (wm already at end-of-day, unchanged) is not
    // re-audited.
    val auditDays: Set[String] =
      effWms.keySet.filter { d =>
        Discover.endOfDayTs(d).exists(e => !effWms(d).before(e)) &&
          wms.get(d).forall(old => old.before(effWms(d)))
      } ++ reopened
    // returns the per-day max ts of the rows it manifested, for the
    // commit to absorb
    def writeStranded(): Map[String, Timestamp] = {
      val cold =
        if (cfg.s6Configured && effWms.nonEmpty) {
          val effDf = effWms.toSeq.toDF("day", "_effwm")
          Some(deferredCold.join(broadcast(effDf), Seq("day"))
            .filter(col("ts") <= col("_effwm")).drop("_effwm"))
        } else None
      val audit =
        if (auditDays.isEmpty) None
        else {
          // ONE pinned FILE LIST serves both the violation census and
          // the stranded audit — two separately-pinned walks could
          // disagree on the file set within a cycle. Two UNCACHED
          // reads of that list, though: sharing a cached frame would
          // materialize the full unfiltered partitions; separate scans
          // keep each side's filters parquet-pushable.
          val files = Discover.listDayFiles(spark, cfg.inputPath, auditDays)
          quarantineViolations(spark, cfg, batchId, auditDays,
            committedAtStart, Discover.readFiles(spark, cfg, files))
          Some(auditStranded(spark, cfg, batchId, auditDays,
            committedAtStart,
            Discover.designGuards(cfg)(Discover.readFiles(spark, cfg, files))))
        }
      val stranded = (cold, audit) match {
        case (Some(c), Some(a)) => Some(c.unionByName(a).distinct())
        case (c, a) => c.orElse(a)
      }
      stranded match {
        case None => Map.empty[String, Timestamp]
        case Some(df) =>
          val cached = df.cache()
          // aggregate FIRST: an audit that strands nothing must not
          // write an empty manifest dir — under a standing reauditDays
          // config that would grow the namespace by one dir per cycle
          // for no information (the groupBy result doubles as the
          // emptiness check, like the routed-delta one)
          val dayMax = cached.groupBy(col("day"))
            .agg(max(col("ts")).as("mx")).collect()
          if (dayMax.nonEmpty)
            BatchDirs(Sinks.deferredDir(cfg.sinkRoot,
              Lineage.checkpointId(cfg))).write(cached, batchId)
          // max ignores null ts; a day whose manifested rows are ALL
          // null-ts yields a null max and is skipped (belt-and-braces:
          // the design guards already exclude null-ts rows everywhere)
          val m = dayMax
            .flatMap(r => Option(r.getTimestamp(1)).map(r.getString(0) -> _))
            .toMap
          cached.unpersist()
          m
      }
    }

    if (staged.isEmpty) {
      // progress without data: sealing/refresh-only commit (no publish
      // happened under this batchId, so the id's presence in lineage is
      // inert for sink readers). The stranded manifest is STILL written
      // — rows a seal is about to hide (cold-deferred or audit-found)
      // must be recorded BEFORE the seal makes them undiscoverable, or
      // the "nothing silently lost" invariant breaks exactly when it
      // matters
      if (sealCommits.nonEmpty || reopenCommits.nonEmpty)
        commitTail(spark, cfg, lineageDir, batchId, committedAtStart,
          absorbInto(sealCommits ++ reopenCommits, writeStranded()))
      return CycleResult(batchId, 0L, Seq.empty)
    }

    // steps 6-12 are the shared publish discipline ([[publishBatch]]);
    // the cycle's beforeCommit hook persists the stranded manifest
    // (S6: a row whose restore completes after the watermark has passed
    // it stays re-drivable — the reference silently loses it,
    // s3.rb:152-156; same pinned snapshot as the delta, one extra
    // pushed-filter scan paid only when storage columns are configured.
    // The seal audit runs there too: post-publish, so the current
    // batch's own deliveries are visible to its anti-join)
    val newDays = newWms.map(_._1).toSet
    val commits = newWms.map { case (d, mx, n) =>
      Lineage.Commit(batchId, d, sealed_(d, mx), n, observedAt)
    }.toSeq ++ sealCommits.filterNot(c => newDays.contains(c.day)) ++
      reopenCommits
    val published = publishBatch(spark, cfg, lineageDir, batchId,
      committedAtStart, staged.get, commits, _ => writeStranded())
    CycleResult(batchId, total, published)
  }

  /** What a batch's staged write left: the sink files' schema (the
    * routed frame's minus `sink`) and the one aggregate over them.
    */
  private final case class Staged(
      schema: org.apache.spark.sql.types.StructType,
      metrics: Aggregate.BatchMetrics)

  /** Write the routed batch to `_staging/<batchId>` — the one run of its
    * plan — then check on the driver whether the write produced any
    * `sink=` dir. None (staging dir deleted, no further Spark job) for
    * an empty batch; otherwise the one aggregate over the staged files
    * ([[Aggregate.ofStaged]]).
    */
  private def stage(spark: SparkSession, cfg: PipelineConfig,
      batchId: String, routed: org.apache.spark.sql.DataFrame): Option[Staged] = {
    // the dedup stage's internal fp column never reaches a sink file
    val out = routed.drop(graft.ops.Dedup.fpColName)
    Sinks.writeStaged(out, cfg.sinkRoot, batchId, cfg.saltBuckets)
    if (Sinks.stagedSinks(spark, cfg.sinkRoot, batchId).isEmpty) {
      Sinks.dropStaged(spark, cfg.sinkRoot, batchId)
      None
    } else Some(Staged(
      org.apache.spark.sql.types.StructType(out.schema.filter(_.name != "sink")),
      Aggregate.ofStaged(spark, Sinks.stagingDir(cfg.sinkRoot, batchId))))
  }

  /** The seal audit: for each audited day, EVERY source row (no ts
    * cap) that was neither published (any sink, committed batches plus
    * the in-flight one) nor already manifested — i.e. rows the engine
    * has NO record of, which the sealed listing prune is about to make
    * permanently undiscoverable. The uncapped scope covers a file
    * landing between the cycle's delta pin and this audit's own pin,
    * rows the cutoff deferred past the seal, AND day/ts-mismatch rows
    * whose ts lies beyond the partition's end-of-day (a data-contract
    * violation nothing in the engine can prevent a producer from
    * committing): all of them manifest here instead of vanishing into
    * the seal. The caller absorbs the manifested max ts into the day's
    * commit, keeping "manifested => behind the committed watermark"
    * unconditional.
    *
    * Plan shape: `rows` is a pushdown-friendly read of the cycle's ONE
    * pinned audit file list (Discover.listDayFiles -> readFiles
    * through the design guards; the violation census reads the same
    * list, so the two cannot see different file sets); the
    * published-keys side is day-filtered with pushed predicates;
    * the anti-joins run on (conv_id, turn_idx, day) with strategy left
    * to the planner — both sides are day-partition-sized, paid once
    * per day lifetime (at seal) plus once per post-seal landing or
    * forced re-audit.
    */
  private def auditStranded(spark: SparkSession, cfg: PipelineConfig,
      batchId: String, auditDays: Set[String], committed: Set[String],
      rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val keys = Seq("conv_id", "turn_idx", "day")
    val published = Sinks.publishedKeys(spark, cfg.sinkRoot, auditDays,
      committed + batchId)
    val unpub = rows.join(published, keys, "left_anti")
    BatchDirs(Sinks.deferredDir(cfg.sinkRoot, Lineage.checkpointId(cfg)))
      .read(spark, committed)
      .fold(unpub)(m =>
        unpub.join(m.select(keys.map(col): _*), keys, "left_anti"))
  }

  /** Opt-in multimodal stage (cfg.mediaCol): decode every blob's
    * container header ONCE with the native codegen'd
    * [[graft.functions.MediaHeader]] — in the same narrow map as
    * routing, so payload bytes are classified where they already sit
    * and never shuffle for it — then (a) merge the decoded metadata
    * into the P7 `meta` map (only the fields the format defines), and
    * (b) re-route content-sink rows whose NON-NULL blob decodes to
    * nothing to the dead-letter sink — the corrupt-JSON discipline:
    * visible, never dropped, and the row's text/meta ride along for
    * diagnosis. Rows with no blob, and non-content sinks (routing
    * metadata), pass through untouched. Runs BEFORE the dedup stage so
    * an undecodable-media row never reaches the fingerprint store.
    * One body for the cycle, the redrive and the stream, through
    * [[stages]].
    */
  private[graft] def mediaStage(cfg: PipelineConfig,
      routed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // the column-presence guard covers frames that predate the media
    // config (a redrive of manifests written before --media-col was
    // turned on): nothing to decode there, pass through
    if (!cfg.mediaConfigured || !routed.columns.contains(cfg.mediaCol))
      routed
    else {
      val hdrCol = graft.functions.MediaHeader.mediaHeader(
        col(cfg.mediaCol))
      val undecodable =
        col(cfg.mediaCol).isNotNull && col("_media_hdr").isNull
      routed.withColumn("_media_hdr", hdrCol)
        .withColumn("sink",
          when(undecodable && col("sink").isin(Route.contentSinks: _*),
            lit("deadletter")).otherwise(col("sink")))
        .withColumn("meta",
          when(col("_media_hdr").isNull, col("meta"))
            // strip any pre-existing media_* keys first: map_concat
            // THROWS on duplicate keys under the default
            // spark.sql.mapKeyDedupPolicy=EXCEPTION, so re-applying the
            // stage to an already-staged frame (or an input-derived
            // meta that happens to carry a media_* key) must not be an
            // executor-crash trap — last write (this stage) wins.
            .otherwise(map_concat(
              map_filter(col("meta"), (k, _) => !k.startsWith("media_")),
              map_filter(map(
              lit("media_kind"), col("_media_hdr.kind"),
              lit("media_width"), col("_media_hdr.width").cast("string"),
              lit("media_height"), col("_media_hdr.height").cast("string"),
              lit("media_channels"),
              col("_media_hdr.channels").cast("string"),
              lit("media_sample_rate"),
              col("_media_hdr.sample_rate").cast("string"),
              lit("media_bits"), col("_media_hdr.bits").cast("string"),
              lit("media_duration_ms"),
              col("_media_hdr.duration_ms").cast("string"),
              lit("media_n_frames"),
              col("_media_hdr.n_frames").cast("string"),
              lit("media_bitrate_bps"),
              col("_media_hdr.bitrate_bps").cast("string"),
              lit("media_keyframe_density_x1000"),
              col("_media_hdr.keyframe_density_x1000").cast("string")),
              (_, v) => v.isNotNull))))
        .drop("_media_hdr")
        // opt-in FEATURE columns, fused into the same narrow map: real
        // sample decode (PNG pixels / 16-bit PCM) -> checksum + feature
        // vector; NULL where only a lossy codec could decode (the
        // null-flag contract — the row keeps riding, the header stage
        // above has already dead-lettered corrupt containers). The
        // struct is materialized ONCE, then fields are projected in a
        // SECOND select (the chunkPlan discipline: CollapseProject will
        // not re-inline a non-cheap expression referenced twice).
        .transform { df =>
          if (!cfg.mediaFeatures) df
          else df
            .withColumn("_media_featstruct",
              graft.functions.MediaFeatureExprs.mediaFeatures(
                col(cfg.mediaCol)))
            .select(df.columns.toIndexedSeq.map(col) :+
              col("_media_featstruct.checksum").as("media_checksum") :+
              col("_media_featstruct.feat").as("media_feat"): _*)
        }
        // opt-in thumbnail bytes (decodable PNGs only), same narrow map
        .transform { df =>
          if (cfg.mediaThumbSide <= 0) df
          else df.withColumn("media_thumb",
            graft.functions.MediaFeatureExprs.mediaThumb(
              col(cfg.mediaCol), cfg.mediaThumbSide))
        }
    }

  /** The opt-in cross-cycle dedup stage (cfg.dedupAcrossCycles): rows
    * whose fingerprint an EARLIER committed batch delivered to a
    * content sink re-route to the `duplicate` sink
    * (Dedup.reRouteSeen — visible and counted, never dropped). The
    * seen-set is the fingerprint namespace `fpDir` gated on
    * `committed` — for the cycle, the caller's ONE cycle-start lineage
    * read — so an orphan fingerprint dir from a crashed batch is
    * invisible and a crash re-run (same committed set, same batch id)
    * reproduces byte-identical routing: exactly-once holds across
    * every crash window for the SAME reason it does for publishes.
    * Within-batch duplicates are intentionally NOT screened (neither
    * fp is committed yet): the invariant is "no content row whose
    * fingerprint a PRIOR batch published", and within-corpus dedup is
    * the explicit d01-operator surface.
    */
  private def dedupStage(spark: SparkSession, cfg: PipelineConfig,
      fingerprints: BatchDirs, committed: Set[String],
      routed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (!cfg.dedupAcrossCycles) routed
    else fingerprints.read(spark, committed)
      // keepFp: the computed hash column rides along (hidden from every
      // user-facing write — the staged write and the stream drop it
      // before the sink write) so the stream's fingerprint-store write
      // reuses it; the cycle's write hashes the published text with the
      // same function (Sinks.writeFingerprints)
      .map(graft.ops.Dedup.reRouteSeen(routed, _,
        Route.contentSinks, Route.duplicateSink, keepFp = true))
      .getOrElse(routed)

  /** The one stage chain of the cycle, the redrive and the stream
    * ([[graft.streaming.Streaming.runForeachBatch]]): `Pipeline` (parse,
    * route, enrich and the prefix scan, continuing from `carryIn` when
    * given) -> [[mediaStage]] -> [[dedupStage]] over the `fingerprints`
    * namespace gated on `committed`.
    */
  private[graft] def stages(spark: SparkSession, cfg: PipelineConfig,
      turns: org.apache.spark.sql.Dataset[Turn], fingerprints: BatchDirs,
      committed: Set[String],
      carryIn: Option[DataFrame] = None): DataFrame =
    dedupStage(spark, cfg, fingerprints, committed,
      mediaStage(cfg, Pipeline(turns, cfg.excludePattern, cfg.chunkSize,
        codec = Pipeline.codecFor(cfg), carryIn = carryIn)))

  /** The batch engine's fingerprint namespace (the stream keeps its own
    * under `stream/`, see [[graft.streaming.Streaming.runForeachBatch]]).
    */
  private def fingerprints(cfg: PipelineConfig): BatchDirs =
    BatchDirs(Sinks.fingerprintsDir(cfg.sinkRoot, Lineage.checkpointId(cfg)))

  /** The publish discipline every staged batch (normal or re-driven)
    * follows: atomic publish -> archive copy (iff configured; BEFORE the
    * commit, like the reference's backup-then-sincedb ordering
    * s3.rb:169-183, 380-388) -> the caller's pre-commit hook (stranded
    * manifest / redrive ledger; handed the published rows by name, so
    * a hook that ignores them reads nothing) ->
    * fingerprints (iff configured) -> metric tables -> [[commitTail]]
    * -> consumption mark (the `delete` analog, only after the commit
    * succeeded — the reference likewise deletes last). ONE definition
    * so the two callers cannot drift (the redrive path re-converging on
    * this sequence is how it got archive/metrics/consumption in the
    * first place).
    * Archive, the hook, fingerprints and the consumption mark read the
    * batch's published files ([[Sinks.readPublished]]); none re-runs the
    * pipeline plan.
    */
  private def publishBatch(spark: SparkSession, cfg: PipelineConfig,
      lineageDir: String, batchId: String, committed: Set[String],
      staged: Staged, commits: Seq[Lineage.Commit],
      beforeCommit: (=> DataFrame) => Map[String, Timestamp]): Seq[String] = {
    val published = Sinks.publish(spark, cfg.sinkRoot, batchId)
    def rows = Sinks.readPublished(spark, cfg.sinkRoot, batchId, published,
      staged.schema)
    if (cfg.backupAddPrefix != null && cfg.backupAddPrefix.nonEmpty)
      Sinks.archive(rows, cfg.sinkRoot, batchId, cfg.backupAddPrefix,
        // faithful copy incl. the configured S6 metadata columns
        Seq(cfg.storageClassCol, cfg.restoreHeaderCol)
          .filter(c => c != null && c.nonEmpty))
    val absorb = beforeCommit(rows)
    // the dedup write side rides the same pre-commit window as the
    // manifests/ledger: the fp dir only counts once its batch commits,
    // and the idempotent re-run overwrites it wholesale
    if (cfg.dedupAcrossCycles)
      Sinks.writeFingerprints(rows, fingerprints(cfg).dir, batchId)
    Aggregate.writeTables(spark, staged.metrics, cfg.sinkRoot, batchId)
    commitTail(spark, cfg, lineageDir, batchId, committed,
      absorbInto(commits, absorb))
    if (cfg.deleteAfterProcess)
      Sinks.markConsumed(rows, cfg.sinkRoot, batchId)
    published
  }

  /** The one commit tail of every lineage commit (a published batch,
    * cycle or redrive, and the cycle's seal/refresh-only commit):
    * append `rows` to the lineage, compact it, then run the config-gated
    * growth bounds — the `_deferred` fold with its ledger anti-join, the
    * `_violations` fold and the fingerprint fold. The bounds gate on
    * `committed + batchId`, the run's one cycle-start lineage read plus
    * its own commit: each of those namespaces is keyed by checkpoint
    * identity and has one writer, so no other identity's batch ever
    * names a dir in them.
    */
  private def commitTail(spark: SparkSession, cfg: PipelineConfig,
      lineageDir: String, batchId: String, committed: Set[String],
      rows: Seq[Lineage.Commit]): Unit = {
    Lineage.commitAt(spark, lineageDir, rows)
    Lineage.compactAt(spark, lineageDir) // no-op until history accumulates
    val now = committed + batchId
    val cid = Lineage.checkpointId(cfg)
    if (cfg.deferralConfigured) {
      Sinks.compactDeferred(spark, cfg.sinkRoot, cid, now)
      // the census's fold drops orphans as crash debris: their rows
      // were re-quarantined under the successor batch id
      BatchDirs(Sinks.violationsDir(cfg.sinkRoot, cid)).fold(spark, now)
    }
    if (cfg.dedupAcrossCycles) fingerprints(cfg).fold(spark, now)
  }

  /** Contract-violation census: rows violating the row contract — null
    * ts OR a null identity key (Discover.contractViolation, the ONE
    * shared definition with the design guards) — are structurally
    * unprocessable but must not vanish without a trace when the seal
    * hides their partition — quarantine them RAW to
    * `_violations/<cid>/batch=<id>`, the batch analog of the
    * streaming path's stream/_violations. (A null-KEY row is exactly
    * as unprocessable as a null-ts one: no equi-join in the
    * audit/redrive machinery can ever match it, so without this
    * exclusion+capture it would be re-manifested on every re-audit
    * and never released.) Re-audits do NOT re-count: rows already in
    * a COMMITTED violations batch are anti-joined away (whole-row,
    * null-safe), so a standing `reauditDays` config cannot grow the
    * census unboundedly. The scan is ~free when the contract holds —
    * each IsNull leaf pushes to parquet null-count stats.
    */
  private def quarantineViolations(spark: SparkSession, cfg: PipelineConfig,
      batchId: String, auditDays: Set[String], committed: Set[String],
      raw: org.apache.spark.sql.DataFrame): Unit = {
    val violAll = raw.filter(Discover.contractViolation)
    val census = BatchDirs(
      Sinks.violationsDir(cfg.sinkRoot, Lineage.checkpointId(cfg)))
    val fresh = census.read(spark, committed, Some(censusIdentitySchema))
      .fold(violAll) { priorAll =>
        // day-filtered (the right side stays bounded by the audited
        // days, not the census's lifetime) and deduped on the FULL ROW,
        // null-safely: a producer that smuggles a null ts can smuggle
        // null key columns too — an equi-join on keys would re-count
        // such a row every re-audit (null never equals null), while a
        // null-safe join on keys ALONE would collapse two DIFFERENT
        // null-keyed rows and silently drop the newer one. Whole-row
        // identity re-counts nothing and loses nothing.
        // the dedup identity is FROZEN as a literal column list (the
        // v1 row contract) and prior batches are read with exactly
        // that schema: these columns exist in every census batch ever
        // written, so old and new builds always dedup identically.
        // Deliberately NOT the full current row or the live
        // turnSchema — a later schema addition would read as null
        // from older batches and re-count every historical violation
        // once per new column; and NOT a dynamic column intersection
        // — a mixed-schema census dir makes that nondeterministic.
        // NEVER extend this list.
        val prior = priorAll.filter(col("day").isin(auditDays.toSeq: _*))
        violAll.join(prior,
          censusIdentitySchema.fieldNames.toSeq
            .map(c => violAll(c) <=> prior(c)).reduce(_ && _),
          "left_anti")
      }
    val cached = fresh.cache()
    val n = cached.count()
    if (n > 0) {
      System.err.println(s"[audit] $n contract-violation rows (null ts " +
        s"or null identity key) quarantined to ${census.path(batchId)}")
      census.write(cached, batchId)
    }
    cached.unpersist()
  }

  /** The violation census's dedup identity — a LITERAL pinned list, by
    * design independent of the evolving read schema (see the comment
    * at the join site). Never extend it.
    */
  private val censusIdentitySchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("role", StringType), StructField("text", StringType),
      StructField("tool", StringType), StructField("ts", TimestampType),
      StructField("day", StringType)))
  }

  /** Raise commit watermarks to cover rows the stranded manifest just
    * absorbed (day -> max manifested ts): a manifested row must sit at
    * or below its day's committed watermark, or redrive's
    * behind-the-watermark guard would never release it.
    */
  private def absorbInto(commits: Seq[Lineage.Commit],
      absorb: Map[String, Timestamp]): Seq[Lineage.Commit] =
    commits.map(c => absorb.get(c.day).filter(_.after(c.last_ts))
      .map(t => c.copy(last_ts = t)).getOrElse(c))

  /** Re-drive the deferred-cold backlog: process manifest rows whose
    * restore has since COMPLETED, as a first-class batch. This is the
    * recovery path the reference lacks entirely (its skipped Glacier
    * objects are gone once sincedb passes them, s3.rb:152-156).
    *
    * Semantics, carefully scoped to avoid double-processing:
    *  - only keys BEHIND their day's committed watermark are candidates
    *    (a deferred row still ahead of the watermark will be picked up
    *    by normal discovery once restored — re-driving it too would
    *    publish it twice);
    *  - eligibility is re-evaluated against the CURRENT source table
    *    (the restore completes in the SOURCE's metadata, so the manifest
    *    keys are re-read from the input — the `file_restored?` re-check
    *    analog, s3.rb:428-444);
    *  - re-driven keys are recorded in an append-only `_redriven` ledger
    *    and excluded from future re-drives (idempotence);
    *  - the lineage commit records the batch (so sink readers see it)
    *    without advancing any day watermark (max-per-day semantics:
    *    re-driven ts are behind the committed watermark by
    *    construction).
    *
    * Plan shape: the manifest/ledger sides are small (skipped-cold rows
    * only); the one full input read is semi-joined down to exactly the
    * pending keys before any wide operator runs (join strategy left to
    * the planner — see the inline note on backlog size).
    */
  def redriveDeferred(spark: SparkSession, cfg: PipelineConfig,
      asOf: Timestamp): CycleResult = {
    import spark.implicits._
    val lineageDir = Lineage.dirFor(cfg)
    val cid = Lineage.checkpointId(cfg)
    // ONE lineage read, like the cycle path
    val (wms, _, committed) = Lineage.stateAt(spark, lineageDir)

    // manifests AND ledger entries only count if their batch COMMITTED
    // (or are compaction survivors): an orphan manifest from a cycle
    // that crashed before its commit describes a stranding that never
    // happened — its rows are still normally discoverable, so honoring
    // it would let both paths deliver them. The ledger write order
    // below is publish -> ledger -> commit, so every crash window
    // resolves to exactly-once — an uncommitted ledger (crash before
    // commit) is ignored and the keys re-drive; a committed one
    // excludes them; an orphaned publish (crash before ledger) is
    // invisible to readers and simply re-driven under a fresh batch id.
    val manifests = BatchDirs(Sinks.deferredDir(cfg.sinkRoot, cid))
    val ledger = BatchDirs(Sinks.redrivenDir(cfg.sinkRoot, cid))

    // the batch id hashes the COMMITTED-BATCH SET from lineage (which
    // survives every compaction), not the day watermarks — redrives
    // never advance watermarks, so an (asOf, wms) id would collide
    // across two successful redrives at a pinned asOf and the second
    // publish would REPLACE the first's committed rows. Each successful
    // redrive's own commit changes the set, so consecutive redrives get
    // distinct ids, while a same-state crash re-run reproduces the same
    // id and republishes idempotently.
    val stateHash = Lineage.md5Hex(committed.toSeq.sorted.mkString(","))
    val batchId = Lineage.batchId(asOf, wms, s"$cid|redrive|$stateHash")
    // nothing manifested, or nothing ever committed -> nothing can be
    // behind a watermark: return WITHOUT touching the input table
    val manifestRows =
      if (wms.isEmpty) None else manifests.read(spark, committed)
    if (manifestRows.isEmpty)
      return CycleResult(batchId, 0L, Seq.empty)

    // pending = manifested keys, behind-the-watermark, not yet re-driven.
    // Manifest + ledger are small (skipped-cold rows only); everything
    // here stays off the input table until pending is known non-empty.
    val manifested = manifestRows.get
      .select(col("conv_id"), col("turn_idx"), col("ts"), col("day"))
      .distinct()
    val wmDf = wms.toSeq.toDF("day", "_wm")
    val behindWm = manifested.join(broadcast(wmDf), Seq("day"))
      .filter(col("ts") <= col("_wm"))
      .select(col("conv_id"), col("turn_idx"))
    val pending = ledger.read(spark, committed)
      .fold(behindWm)(behindWm.join(_, Seq("conv_id", "turn_idx"), "left_anti"))
      .cache()
    if (pending.count() == 0L) {
      pending.unpersist()
      return CycleResult(batchId, 0L, Seq.empty)
    }

    // current source state for exactly the pending keys — the ONE full
    // input read this op pays, and only once pending is known non-empty.
    // The watermark map is deliberately EMPTY: these keys are behind the
    // committed watermark (and possibly in sealed days), which is
    // precisely why normal discovery can no longer see them.
    val current = Discover.delta(spark, cfg, asOf, Map.empty)
    val eligibleNow = pendingSemiJoin(current, pending)

    // a re-driven batch is a FIRST-CLASS batch: the same write-once
    // staging (its emptiness check included) and publish discipline as
    // a normal cycle (publishBatch), the ledger write as its pre-commit
    // hook — it differs only in never advancing a watermark
    val staged = stage(spark, cfg, batchId,
      stages(spark, cfg, eligibleNow.as[Turn](
        org.apache.spark.sql.Encoders.product[Turn]),
        fingerprints(cfg), committed))
    pending.unpersist()
    if (staged.isEmpty) return CycleResult(batchId, 0L, Seq.empty)
    val total = staged.get.metrics.days.map(_._3).sum
    // committed_at = epoch, NOT now: committed_at is the day-dir
    // observation stamp behind the sealed-day reopen check
    // (Lineage.stateAt), and a redrive observes only manifest
    // keys — advancing a sealed day's stamp here would let a backfill
    // that landed just before this commit slip past the next reopen
    // check unaudited
    val days = staged.get.metrics.days.map { case (d, mx, n) =>
      Lineage.Commit(batchId, d, mx, n, Lineage.epoch)
    }
    val published = publishBatch(spark, cfg, lineageDir, batchId,
      committed, staged.get, days,
      // ledger BEFORE commit — see the crash-window analysis above
      // (a redrive manifests nothing, so no watermark absorption). The
      // pipeline keeps every row, so the published rows' keys are the
      // eligible keys
      rows => {
        ledger.write(rows.select(col("conv_id"), col("turn_idx")), batchId)
        Map.empty
      })
    CycleResult(batchId, total, published)
  }

  /** The redrive's input cut-down: the full current-source read,
    * semi-joined to exactly the pending manifest keys BEFORE any wide
    * operator runs — only the backlog's rows ever reach Pipeline.
    * Deliberately NO broadcast hint on `pending`: it is usually tiny
    * (AQE broadcasts it at runtime), but a years-long cold backlog can
    * be arbitrarily large and a forced broadcast would OOM the driver —
    * join strategy stays with the planner (PlanSpec pins this).
    */
  private[pipeline] def pendingSemiJoin(
      current: org.apache.spark.sql.DataFrame,
      pending: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    current.join(pending, Seq("conv_id", "turn_idx"), "left_semi")

  /** CLI: --input <path> --sink-root <path> --as-of <ISO8601|now>
    * [--exclude <regex>] [--cutoff <sec>]
    * [--synth <nConvs>] [--seed <n>]  — first write a deterministic
    * synthetic transcript table to --input, then run the cycle.
    */
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    require(opts.contains("input") && opts.contains("sink-root"),
      "usage: --input <path> --sink-root <path> [--as-of <ISO8601|now>] " +
        "[--exclude <regex>] [--cutoff <sec>] [--synth <nConvs>] [--seed <n>]")
    val spark = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    opts.get("synth").foreach { n =>
      val seed = opts.getOrElse("seed", "42").toLong
      val written = Synth.writeTable(spark, opts("input"), seed, n.toLong)
      System.err.println(s"[synth] wrote $written turns to ${opts("input")}")
    }
    val asOf = opts.get("as-of").filter(_ != "now")
      .map(s => Timestamp.from(java.time.Instant.parse(s)))
      .getOrElse(new Timestamp(System.currentTimeMillis()))
    val redrive = opts.get("redrive").exists(_.toBoolean)
    val cfg = PipelineConfig(
      inputPath = opts("input"),
      sinkRoot = opts("sink-root"),
      excludePattern = opts.getOrElse("exclude", ""),
      cutoffSeconds = opts.getOrElse("cutoff", "3").toInt,
      codec = opts.getOrElse("codec", "grok"),
      jsonFields = opts.get("json-fields")
        .map(_.split(",").toSeq).getOrElse(Seq("message", "level")),
      multilinePattern = opts.getOrElse("multiline-pattern", "^\\s+"),
      multilineNegate = opts.get("multiline-negate").exists(_.toBoolean),
      multilineWhat = opts.getOrElse("multiline-what", "previous"),
      storageClassCol = opts.getOrElse("storage-class-col", null),
      restoreHeaderCol = opts.getOrElse("restore-header-col", null),
      lineagePath = opts.getOrElse("lineage-path", null),
      backupAddPrefix = opts.getOrElse("backup-add-prefix", null),
      deleteAfterProcess = opts.get("delete-after-process")
        .exists(_.toBoolean),
      sealDaysGraceSeconds = opts.getOrElse("seal-days-grace", "-1").toInt,
      reauditDays = opts.get("reaudit-days")
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      dedupAcrossCycles = opts.get("dedup-across-cycles")
        .exists(_.toBoolean),
      mediaCol = opts.getOrElse("media-col", null),
      mediaFeatures = opts.get("media-features").exists(_.toBoolean),
      mediaThumbSide = opts.getOrElse("media-thumb-side", "0").toInt)
    val res =
      if (redrive) redriveDeferred(spark, cfg, asOf)
      else runCycle(spark, cfg, asOf)
    println(s"""{"batch_id":"${res.batchId}","rows":${res.rowsProcessed},""" +
      s""""sinks":[${res.publishedSinks.map("\"" + _ + "\"").mkString(",")}]}""")
    spark.stop()
  }
}
