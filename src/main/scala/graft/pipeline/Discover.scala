package graft.pipeline

import java.sql.Timestamp
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental discovery — the `list_new_files` analog (S1-S8,
  * s3.rb:138-167, 360-374).
  *
  * The reference enumerates bucket objects and applies a predicate chain
  * before ever downloading a byte: server-side prefix pruning, zero-length
  * skip, sincedb watermark, freshness cutoff, Glacier eligibility, and
  * the four-way `ignore_filename?` exclusion. We re-express each as a
  * Catalyst `Column` predicate so pushdown/pruning happen for free:
  *
  *  - prefix pruning (S2)   -> partition pruning on the `day` partition
  *    column (Catalyst `PruneFileSourcePartitions`); with sealing on,
  *    discovery computes candidate days on the driver from the
  *    watermark map so the scan never lists sealed partitions;
  *  - zero-length skip (S3) -> `length(text) > 0`;
  *  - watermark (S4)        -> per FILE first: the file ledger
  *    ([[FileLedger]]) records each input file's max ts, and a file
  *    whose max is not above its day's watermark is never read (the
  *    reference's per-object `last_modified > sincedb` check); then per
  *    ROW, `ts > wm(day)` with `wm(day)` looked up in a constant map,
  *    filtered right after the scan of the files that remain;
  *  - cutoff (S5)           -> `ts <= asOf - cutoff` with an injected
  *    deterministic `asOf` clock (tests never read the wall clock);
  *  - exclude regex (S7d)   -> `!text.rlike(excludePattern)` is handled in
  *    routing (rows go to an `excluded` sink rather than vanishing — our
  *    engine never silently drops data);
  *  - discovery sort (S8)   -> monotone checkpoint advance comes from the
  *    per-partition max-ts commit, not a physical sort: unlike the
  *    serial reference, parallel processing can't rely on ordering.
  */
object Discover {

  /** The cutoff guard predicate (S5). */
  def cutoffPredicate(asOf: Timestamp, cutoffSeconds: Int): Column =
    col("ts") <= lit(new Timestamp(asOf.getTime - cutoffSeconds * 1000L))

  /** The S4 watermark predicate over (day, ts): the day's committed
    * watermark is one lookup in a constant map,
    * `wm = element_at(typedLit(wms), day)`, and a row is kept when
    * `wm IS NULL OR ts > wm` — the reference's `last_modified > sincedb`
    * (s3.rb:151-152) per partition day. A null or uncommitted day has
    * no watermark and keeps the row; a null `ts` in a committed day
    * drops it. The map is a literal in the generated code, so every
    * map size plans the same: no join, no broadcast exchange.
    *
    * What reaches the scan: the predicate mixes the `day` partition
    * column with the `ts` data column, so Catalyst derives neither a
    * `PartitionFilters` term nor a `ts > wm` bound in `PushedFilters`
    * (only the cutoff `ts <= asOf - cutoff` and the contract guards get
    * there). The watermark is applied by the Filter right after the
    * scan: it skips no row group and prunes no partition. Whole files
    * are skipped before the scan instead: with sealing configured the
    * listing skips completed days ([[completedDays]]), and the file
    * ledger drops every file whose max ts is at or below its day's
    * watermark ([[pinUncovered]]) — exactly the files whose every row
    * this Filter would drop.
    */
  def watermarkPredicate(wms: Map[String, Timestamp]): Column = {
    val wm = element_at(typedLit(wms), col("day"))
    wm.isNull || col("ts") > wm
  }

  /** Enumerate the input table's data files ONCE — the snapshot pin.
    * The reference lists the bucket once per cycle (s3.rb:144) and
    * guards against objects mutating between listing and processing
    * with an mtime recheck (s3.rb:383-390). Spark's lazy evaluation has
    * the same race in a sneakier form: every action on a DataFrame over
    * a live directory re-lists it, so a file appended mid-cycle (after
    * the watermark collect, before the staged write — or on a cache
    * eviction recompute) could be half-processed and then skipped
    * forever once the commit advances past its timestamps. Pinning the
    * file list makes every recomputation read the same snapshot.
    *
    * Scale note: this is one listing per cycle — exactly the
    * reference's ListObjects cost; the driver holds file statuses
    * (path, length, mtime), not data. The cycle then keeps only the
    * listed files the file ledger cannot show to be covered by the
    * watermark ([[pinUncovered]]); this listing is the unfiltered one.
    */
  def listInputFiles(spark: SparkSession, inputPath: String,
      skipDays: Set[String] = Set.empty): Seq[String] =
    listInputFilesDetecting(spark, inputPath,
      skipDays.iterator.map(_ -> Long.MaxValue).toMap)._1
      .map(_.getPath.toString)

  /** As [[listInputFiles]], with REOPEN detection for sealed days: a day
    * in `sealedBeforeMs` is pruned from the walk only while its
    * partition directory's mtime PREDATES the recorded observation
    * stamp (Lineage.stateAt). A directory modified at-or-after
    * the stamp means a file landed after the last cycle that audited
    * the day — such a day is still not listed (every row in it is
    * behind the end-of-day watermark, so the delta scan would read and
    * drop it all), but it is reported in the second component so the
    * caller can run the seal audit over it. `Long.MaxValue` = prune
    * unconditionally (a day without an observation stamp).
    *
    * The mtime check costs NOTHING extra: the parent listStatus that
    * the walk already performs returns each day dir's FileStatus, mtime
    * included — there is no per-sealed-day RPC.
    *
    * DETECTION CONTRACT: the check fires when the day directory's own
    * mtime advances — i.e. when a backfill lands as a direct child of
    * the day dir, or creates a new subdir under it (both update the
    * dir mtime on POSIX/HDFS semantics). It cannot see (a) appends
    * into a PRE-EXISTING nested subdir of the day (only that subdir's
    * mtime changes), or (b) object stores whose "directories" are
    * synthetic with no meaningful mtime. For those writers/stores the
    * operator forces the same audit explicitly via
    * `PipelineConfig.reauditDays` — detection is an optimization over
    * that path, never the only road to the audit.
    */
  def listInputFilesDetecting(spark: SparkSession, inputPath: String,
      sealedBeforeMs: Map[String, Long]): (Seq[FileStatus], Set[String]) = {
    val reopened = Set.newBuilder[String]
    val files = walkParquet(spark, inputPath, ())((st, _) => {
      val name = st.getPath.getName
      if (name.startsWith("day=")) {
        sealedBeforeMs.get(name.stripPrefix("day=")) match {
          case Some(stamp) =>
            // granularity guard: a store reporting SECOND-granularity
            // mtimes truncates a landing inside the stamp's own second
            // below the millisecond stamp — the reopen would be
            // silently missed. Such an mtime always reads as x.000, so
            // exactly then the stamp is floored to the same granularity
            // before comparing (conservative: at worst one extra audit,
            // never a skipped one). Sub-second mtimes compare exactly —
            // a truthful ms-granular store never re-audits a day whose
            // refresh stamp postdates the landing by mere milliseconds.
            val mt = st.getModificationTime
            val cmp = if (mt % 1000L == 0L) (stamp / 1000L) * 1000L
              else stamp
            if (mt >= cmp)
              reopened += name.stripPrefix("day=")
            None // sealed: pruned from the walk either way
          case None => Some(())
        }
      } else Some(())
    })(_ => true)
    (files, reopened.result())
  }

  /** The ONE filesystem walk under an input root — qualified root,
    * hide-at-every-level, parquet-only files, sorted result. `descend`
    * decides per directory whether to recurse and with what context
    * (None = prune the subtree — the server-side-prefix discipline,
    * s3.rb:144: a pruned partition is never even LISTED, which at 100x
    * file counts is the cycle's fixed-cost win); `keep` decides per
    * context whether files collect. Both listing variants and the seal
    * audit's day scan ([[listDayFiles]]) are this walk with different
    * decisions, so the correctness-bearing details exist ONCE:
    *
    *  - the root is qualified BEFORE any relativizing — for a relative
    *    inputPath (or differently-qualified URI) a raw prefix match
    *    would miss the absolute listed paths and silently empty the
    *    delta;
    *  - `_`/`.`-prefixed names hide at EVERY level, like Spark's own
    *    InMemoryFileIndex: a file under `_temporary/` or `.staging/`
    *    (an in-flight committer write) must never enter a pinned
    *    snapshot — reading half-written parquet is exactly the race
    *    the pin exists to close.
    */
  private def walkParquet[C](spark: SparkSession, inputPath: String,
      init: C)(
      descend: (FileStatus, C) => Option[C])(
      keep: C => Boolean): Seq[FileStatus] = {
    val root = inputRoot(spark, inputPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val out = Seq.newBuilder[FileStatus]
    def walk(dir: Path, ctx: C): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        val hidden = name.startsWith("_") || name.startsWith(".")
        if (!hidden) {
          if (st.isDirectory) descend(st, ctx).foreach(walk(st.getPath, _))
          else if (keep(ctx) && name.endsWith(".parquet")) out += st
        }
      }
    walk(root, init)
    out.result().sortBy(_.getPath.toString)
  }

  /** The input root, qualified: the one base every listed path and
    * [[dayOf]] is relative to.
    */
  private def inputRoot(spark: SparkSession, inputPath: String): Path = {
    val p = new Path(inputPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  /** The `day` partition value of a file directly below
    * `<root>/day=<v>/`, the engine's own layout, where Spark's partition
    * inference reads `v` verbatim. None for any other placement and for
    * values Spark would unescape or read as null: the ledger never
    * drops such a file, it is read as before.
    */
  private def dayOf(root: Path, file: Path): Option[String] = {
    val dir = file.getParent
    if (dir == null || dir.getParent != root) None
    else Some(dir.getName).filter(_.startsWith("day=")).map(_.drop(4))
      .filter(v => v.nonEmpty && !v.contains('%') &&
        v != "__HIVE_DEFAULT_PARTITION__")
  }

  /** End-of-day instant for a `yyyy-MM-dd` partition value: next
    * midnight minus 1 microsecond (timestamp granularity), in UTC like
    * every pipeline timestamp. None for unparseable values. The SINGLE
    * definition shared by [[completedDays]] and the day-sealing commit
    * (Main.runCycle) — the seal only prunes if both sides agree on this
    * exact value, so it lives in one place.
    */
  def endOfDayTs(d: String): Option[Timestamp] =
    if (d == null) None
    else try {
      Some(Timestamp.from(java.time.LocalDate.parse(d).plusDays(1)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.minusNanos(1000L)))
    } catch { case _: java.time.format.DateTimeParseException => None }

  /** Days whose committed watermark has reached end-of-day: no row of
    * that partition can ever satisfy `ts > wm` again, so discovery may
    * skip LISTING the partition altogether (not merely filter it).
    */
  def completedDays(wms: Map[String, Timestamp]): Set[String] =
    wms.collect { case (d, t)
      if endOfDayTs(d).exists(e => !t.before(e)) => d }.toSet

  /** S6 as a PIPELINE predicate — the `file_restored?` analog
    * (s3.rb:155-156, 428-444): rows in a cold storage tier (GLACIER /
    * DEEP_ARCHIVE) are ineligible for discovery unless their restore
    * header shows a COMPLETED restore (`ongoing-request="false"`) whose
    * `expiry-date` is still in the future at the injected clock. The
    * header parse matches the reference's accepted surface: optional
    * whitespace around `=` and single OR double quotes
    * (`ongoing-request\s?=\s?["']false["']`, s3.rb:431), and an
    * expiry-date in either the plain `yyyy-MM-dd HH:mm:ss` form or the
    * AWS-native HTTP-date form (`Fri, 21 Dec 2012 00:00:00 GMT`) that
    * Ruby's `DateTime.parse` accepts ([[restoreExpiry]]; q22 mirrors
    * construction AND parse of both forms in SQL). No storage-class
    * column configured -> every row eligible (the reference's
    * non-Glacier default path).
    *
    * Pure column predicate, narrow and codegen'd: ineligible rows drop
    * in the Filter fused directly onto the scan, before any shuffle or
    * join. (The regexp leg keeps the disjunction out of parquet
    * ROW-GROUP stats — only the simple storage-class comparisons could
    * push that far — so at 100 TB the real win is storing cold rows in
    * their own partitions, which the day/prefix pruning then skips
    * wholesale; this predicate is the correctness backstop.)
    *
    * Watermark interaction — faithful to the reference, with a better
    * escape hatch: in the reference, a skipped unrestored object whose
    * mtime falls behind the advancing sincedb is NEVER retried once its
    * restore completes (s3.rb:152-156 — the skip happens while later
    * objects advance sincedb). Ours advances the per-day watermark the
    * same way, but `runCycle` additionally records every skipped-cold
    * row in a per-batch `_deferred` manifest ([[Sinks]] namespace), so
    * nothing is silently lost: the manifest is the re-drive queue for
    * an operator-run backfill once restores complete.
    */
  def storageEligiblePredicate(cfg: PipelineConfig, asOf: Timestamp): Column =
    if (!cfg.s6Configured) lit(true)
    else {
      val sc = col(cfg.storageClassCol)
      val warm = sc.isNull || !sc.isin("GLACIER", "DEEP_ARCHIVE")
      val restored =
        if (cfg.restoreHeaderCol == null || cfg.restoreHeaderCol.isEmpty)
          lit(false) // cold and no restore metadata -> never eligible
        else {
          val rh = col(cfg.restoreHeaderCol)
          rh.isNotNull && restoreOngoing(rh) === "false" &&
            restoreExpiry(rh) > lit(asOf)
        }
      warm || restored
    }

  /** The `ongoing-request` value of a restore header, with the
    * reference's tolerance for optional whitespace around `=` and
    * single or double quotes (s3.rb:431).
    */
  def restoreOngoing(rh: Column): Column =
    regexp_extract(rh, "ongoing-request\\s?=\\s?[\"'](\\w+)[\"']", 1)

  /** The `expiry-date` of a restore header as a timestamp. The reference
    * parses it with Ruby `DateTime.parse`, which accepts both the plain
    * `yyyy-MM-dd HH:mm:ss` form and the AWS-native HTTP-date form
    * (`Fri, 21 Dec 2012 00:00:00 GMT`). Spark forbids weekday tokens in
    * PARSING patterns, so the HTTP-date leg strips the weekday and the
    * trailing `GMT` textually and parses the remainder as UTC (the
    * session timezone) — same instant, since HTTP-dates are GMT by
    * definition (RFC 7231 §7.1.1.1). try_to_timestamp keeps unparseable
    * values NULL (never eligible) instead of an ANSI error.
    */
  def restoreExpiry(rh: Column): Column = {
    val raw = regexp_extract(rh, "expiry-date\\s?=\\s?[\"']([^\"']+)[\"']", 1)
    val httpBody = regexp_extract(raw,
      "^[A-Za-z]{3}, (\\d{1,2} [A-Za-z]{3} \\d{4} \\d{2}:\\d{2}:\\d{2}) GMT$",
      1)
    coalesce(
      try_to_timestamp(raw),
      try_to_timestamp(nullif(httpBody, lit("")),
        lit("d MMM yyyy HH:mm:ss")))
  }

  /** Discover the unprocessed delta of the transcript table: rows newer
    * than each partition's committed watermark and older than the
    * freshness cutoff. Returns a DataFrame with the input schema plus
    * the `day` partition column. The underlying scan is PINNED to the
    * file list enumerated at call time ([[listInputFiles]]), less the
    * files the file ledger shows covered by the watermark
    * ([[pinUncovered]], which also records the files it statted) —
    * rows landing after this call are invisible to every action on the
    * returned DataFrame and surface in the NEXT cycle's delta.
    *
    * The per-day watermarks are a constant-map lookup
    * ([[watermarkPredicate]]), filtered right after the scan. Of the
    * bounds on `ts`, only the freshness cutoff is pushed into the
    * Parquet scan.
    */
  def delta(spark: SparkSession, cfg: PipelineConfig, asOf: Timestamp,
      wms: Map[String, Timestamp]): DataFrame =
    discover(spark, cfg, asOf, wms, Map.empty).delta

  /** One cycle's discovery view: the eligible delta, the skipped-cold
    * complement, and any sealed days REOPENED by a post-seal landing
    * (dir mtime at-or-after the observation stamp — see
    * [[listInputFilesDetecting]]); the caller owes reopened days a seal
    * audit + refresh commit, or they reopen forever.
    *
    * The complement holds the rows excluded ONLY by the S6 predicate (a
    * malformed restore header counts as ineligible on a cold row). Both
    * sides derive from ONE base plan over ONE pinned file listing, so
    * they always describe the same snapshot and the O(files) driver
    * walk is paid once per cycle. The complement is empty by
    * construction when S6 is not configured. `runCycle` persists it per
    * batch so a row the reference would lose forever (skip while
    * sincedb advances, s3.rb:152-156) stays re-drivable after its
    * restore completes.
    *
    * `files` is the pinned file list both sides read: the listed files
    * the file ledger cannot show to be covered by the watermark
    * ([[pinUncovered]]). An empty `files` means an empty delta and an
    * empty complement, known on the driver without a Spark job.
    */
  case class Discovery(delta: DataFrame, deferredCold: DataFrame,
      reopenedSealedDays: Set[String], files: Seq[String])

  def discover(spark: SparkSession, cfg: PipelineConfig, asOf: Timestamp,
      wms: Map[String, Timestamp],
      sealedAtMs: Map[String, Long]): Discovery = {
    val (base, files, reopened) =
      baseDelta(spark, cfg, asOf, wms, sealedAtMs)
    val eligible = coalesce(storageEligiblePredicate(cfg, asOf), lit(false))
    Discovery(base.filter(eligible), base.filter(!eligible), reopened, files)
  }

  /** The read schema for the input table under this config: the Turn
    * columns, any configured S6 storage columns, and the `day`
    * partition column — the ONE definition shared by the delta scan and
    * the seal-audit scan ([[readFiles]]), so manifest schemas never
    * diverge within a checkpoint identity.
    */
  def readSchema(cfg: PipelineConfig): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StringType
    // storage-eligibility columns (S6) ride along in the read schema
    // only when configured (cfg.s6Configured — the ONE enablement
    // definition) — the base Turn table doesn't carry them
    val s6Cols =
      if (!cfg.s6Configured) Seq.empty
      else cfg.storageClassCol +:
        Option(cfg.restoreHeaderCol).filter(_.nonEmpty).toSeq
    val base = s6Cols.foldLeft(Schema.turnSchema)(_.add(_, StringType))
    // the multimodal blob column rides along the same way (BinaryType)
    val withMedia =
      if (!cfg.mediaConfigured) base
      else base.add(cfg.mediaCol, org.apache.spark.sql.types.BinaryType)
    withMedia.add("day", StringType)
  }

  /** THE definition of a row-contract violation — null event time or a
    * null identity key. One predicate shared by the design guards
    * (exclusion from delta + audit) and the seal audit's quarantine
    * (capture into `_violations`), so "excluded by design" and
    * "quarantined at seal" can never cover different row sets.
    * Each leaf is a plain IsNull — pushed to parquet null-count stats,
    * ~free when the contract holds.
    */
  private[pipeline] val contractViolation: Column =
    col("ts").isNull || col("conv_id").isNull || col("turn_idx").isNull

  /** The S3 zero-length and S7c archive-prefix guards — shared by the
    * delta path and the seal audit: a row skipped BY DESIGN (empty
    * text; an already-archived key) must never be classified as
    * "stranded", or the audit would manifest it for a redrive that can
    * never publish it.
    *
    * A null `ts` is part of the same contract: event time is the
    * engine's backbone ([[Schema.turnSchema]] declares ts non-null; a
    * parquet file can still smuggle nulls past schema-on-read), and a
    * null-ts row is structurally unprocessable — the cutoff predicate
    * can never admit it, a watermark can never cover it, and a
    * manifest entry for it could never be released by redrive's
    * behind-the-watermark guard. Null KEY columns (conv_id, turn_idx)
    * are the same class of violation: every exactly-once join in the
    * engine — the seal audit's published/manifested anti-joins,
    * redrive's pending semi-join, the ledger exclusion — matches on
    * (conv_id, turn_idx), and a null key matches NOTHING in an
    * equi-join, so such a row would be re-manifested on every
    * re-audit and never released by redrive (an unbounded-manifest
    * edge under a standing reauditDays config). Excluding them HERE
    * keeps the delta and the audit consistent by construction instead
    * of by the cutoff's 3-valued-logic accident; the seal audit
    * quarantines them to `_violations` alongside null-ts rows
    * (Main.quarantineViolations — its whole-row census identity was
    * built for exactly this producer-bug class). Trace semantics: the
    * exclusion never DESTROYS or HIDES the row — it stays in the
    * source, listable by any scan, for as long as its partition is
    * listed. The one moment it would become invisible is a day SEAL
    * (the partition leaves the listing), and exactly there the seal
    * audit quarantines null-ts rows to the `_violations` namespace
    * (Main.quarantineViolations), making the producer bug durable and
    * operator-visible. A non-sealing deployment never hides the
    * partition, so the row remains observable in place.
    */
  private[graft] def designGuards(cfg: PipelineConfig)(df: DataFrame): DataFrame = {
    val guarded = df
      .filter(!contractViolation) // schema contract (see above)
      .filter(length(col("text")) > 0) // S3 zero-length skip
    // S7c self-backup loop guard (s3.rb:365): rows re-ingested from the
    // archive namespace (conv_id carrying the archive prefix) are never
    // discovered again — the anti-self-join done as a prefix predicate,
    // exactly as the reference does it. An empty/null prefix disables the
    // guard (startsWith("") is true for EVERY value and would drop all
    // rows), mirroring the excludePattern empty-string handling in Route.
    if (cfg.archivePrefix == null || cfg.archivePrefix.isEmpty) guarded
    else guarded.filter(!col("conv_id").startsWith(cfg.archivePrefix))
  }

  /** All parquet files under any `day=<d>` directory of the input tree
    * for the given days, at ANY depth — the same day-dir placement rule
    * the main walk prunes/reopen-checks by, so the audit always reads
    * exactly the partitions the listing would have skipped. Other days'
    * partition dirs are pruned from this walk wholesale.
    */
  def listDayFiles(spark: SparkSession, inputPath: String,
      days: Set[String]): Seq[String] =
    walkParquet(spark, inputPath, false)((st, inTarget) => {
      val name = st.getPath.getName
      if (name.startsWith("day=")) {
        if (inTarget || days.contains(name.stripPrefix("day="))) Some(true)
        else None // another day's partition — pruned wholesale
      } else Some(inTarget)
    })(identity).map(_.getPath.toString)

  /** Read an EXPLICIT pinned file list with the config's
    * [[readSchema]] (`day` from the dir layout) and no filters. The
    * seal audit lists its day partitions once ([[listDayFiles]]) and
    * reads the SAME list twice — the violation census unguarded, the
    * stranded scan through [[designGuards]] — so both provably see one
    * file set while each read keeps its own filters parquet-pushable
    * (an uncached scan, not a shared cache: the census's IsNull(ts)
    * prunes via row-group null-count stats and reads ~nothing when the
    * contract holds).
    */
  def readFiles(spark: SparkSession, cfg: PipelineConfig,
      files: Seq[String]): DataFrame = {
    val schema = readSchema(cfg)
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema)
      .option("basePath", cfg.inputPath) // keep day from the dir layout
      .parquet(files: _*)
  }

  private def baseDelta(spark: SparkSession, cfg: PipelineConfig,
      asOf: Timestamp, wms: Map[String, Timestamp],
      sealedAtMs: Map[String, Long]): (DataFrame, Seq[String], Set[String]) = {
    // completed days prune only under sealing, whose audit and reopen
    // check cover them; otherwise a later file above the watermark of a
    // day completed by a past-its-end row is listed (the ledger drops
    // the covered files)
    val skipMap =
      if (cfg.sealDaysGraceSeconds < 0) Map.empty[String, Long]
      else completedDays(wms).iterator
        .map(d => d -> sealedAtMs.getOrElse(d, Long.MaxValue)).toMap
    val (listed, reopened) =
      listInputFilesDetecting(spark, cfg.inputPath, skipMap)
    val files = pinUncovered(spark, cfg, wms, listed)
    val input = readFiles(spark, cfg, files)

    val watermarked =
      if (wms.isEmpty) input
      else input.filter(watermarkPredicate(wms)) // S4, after the scan

    val guarded = designGuards(cfg)(
      watermarked.filter(cutoffPredicate(asOf, cfg.cutoffSeconds))) // S5
    (guarded, files, reopened)
  }

  /** S4 per file, the reference's per-object sincedb check (s3.rb:142,
    * 151-152): of the `listed` files, keep every file whose day has no
    * committed watermark and every file whose max ts is above it. A
    * dropped file holds only rows the watermark Filter drops, so the
    * delta, the skipped-cold complement and every commit stay the same.
    *
    * The max comes from the file ledger ([[FileLedger]]). The listed
    * files it does not know — new, rewritten (another length or mtime),
    * or behind a torn ledger file — are statted first by one narrow
    * ts-only scan ([[fileMaxTs]]), and their entries appended. Writing
    * the ledger is best-effort: an entry that fails to land is statted
    * again next cycle, and the cycle's own result never depends on it.
    */
  private def pinUncovered(spark: SparkSession, cfg: PipelineConfig,
      wms: Map[String, Timestamp], listed: Seq[FileStatus]): Seq[String] = {
    val ledgerDir = FileLedger.dir(Lineage.dirFor(cfg))
    val keys = listed.map(FileLedger.Key.of)
    val known = FileLedger.read(spark, ledgerDir)
    val fresh = fileMaxTs(spark, cfg, keys.filterNot(known.contains))
    if (fresh.nonEmpty)
      try {
        FileLedger.append(spark, ledgerDir, fresh)
        FileLedger.fold(spark, ledgerDir, keys.toSet)
      } catch { case _: java.io.IOException => () }
    val maxTs = known ++ fresh
    val root = inputRoot(spark, cfg.inputPath)
    keys.filter { k =>
      dayOf(root, new Path(k.path)).flatMap(wms.get) match {
        case None => true
        case Some(wm) => maxTs.get(k).forall(_.exists(_ >
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .fromJavaTimestamp(wm)))
      }
    }.map(_.path)
  }

  /** The max ts (epoch micros, the Filter's own comparison domain) of
    * each of `keys`' files over all of its rows, from one narrow scan of
    * the ts column: each task folds its rows into a per-file max, and
    * the driver merges the partial maxima (no shuffle, no aggregate).
    * A file no row of which has a non-null ts maps to None. Paths are
    * matched back through the scan's file-path column, which is
    * URI-encoded; when a scanned path matches no key, nothing is
    * returned, and the files stay unknown rather than read as empty.
    */
  private def fileMaxTs(spark: SparkSession, cfg: PipelineConfig,
      keys: Seq[FileLedger.Key]): Map[FileLedger.Key, FileLedger.MaxTs] =
    if (keys.isEmpty) Map.empty
    else {
      val maxima = readFiles(spark, cfg, keys.map(_.path))
        .select(col("_metadata.file_path"), unix_micros(col("ts")))
        .rdd.mapPartitions { rows =>
          val m = scala.collection.mutable.HashMap.empty[String, Long]
          rows.filter(!_.isNullAt(1)).foreach { r =>
            val t = r.getLong(1)
            m.update(r.getString(0), m.get(r.getString(0)).fold(t)(_.max(t)))
          }
          m.iterator
        }.collect().toSeq
        .groupMapReduce(p => new Path(new java.net.URI(p._1)).toString)(
          _._2)(_ max _)
      if (!maxima.keySet.subsetOf(keys.map(_.path).toSet)) Map.empty
      else keys.map(k => k -> maxima.get(k.path)).toMap
    }
}
