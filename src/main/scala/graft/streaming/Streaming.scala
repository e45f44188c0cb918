package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.pipeline._

/** Structured Streaming surface of the transcript pipeline.
  *
  * The reference is a polling ingest loop: `Stud.interval(@interval)`
  * re-lists the bucket every 60s and processes the new files
  * (reference: lib/logstash/inputs/s3.rb:130-136), with
  * `watch_for_new_files=false` meaning "one listing, then stop"
  * (s3.rb:125-127). Structured Streaming maps both modes directly:
  *
  *  - `Trigger.ProcessingTime("60 seconds")` == the polling loop (S18);
  *  - `Trigger.AvailableNow` == watch_for_new_files=false: drain what
  *    exists, then stop;
  *  - the file-source's own tracking of seen files inside
  *    `checkpointLocation` == the sincedb (S17): a restarted query
  *    resumes exactly where it stopped, at-least-once upgraded to
  *    exactly-once for the file source + foreachBatch idempotent sinks;
  *  - `withWatermark("ts", "3 seconds")` == CUTOFF_SECOND (S5,
  *    s3.rb:91): tolerate 3s of event-time disorder before finalizing
  *    windows.
  *
  * Two processing shapes are provided:
  *
  *  1. [[runForeachBatch]] — the production shape. Each micro-batch runs
  *     the SAME batch operators (Parse -> Enrich -> Route) and appends
  *     per-sink output; the full operator set (including the chunked
  *     prefix scans, which need sorting) is legal inside foreachBatch.
  *
  *  2. [[streamingAggregates]] — a pure-streaming stateful aggregation:
  *     watermarked tumbling-hour per-sink counts in update mode (the
  *     reference's "metrics" analog with real late-data semantics).
  *
  * Plus [[StatefulHeaders.propagate]] — per-conversation header
  * propagation (P5, s3.rb:280-290) as `flatMapGroupsWithState`: the
  * carried `#Version:` header is genuine keyed state that survives
  * across micro-batches, which no per-batch window can do.
  */
object Streaming {

  /** File-source stream over a (possibly growing) transcript table dir.
    * Parquet streaming source requires an explicit schema; new files
    * appearing under the path are discovered per trigger — the
    * `list_new_files` analog (S1) with the source's seen-file log as
    * the listing watermark.
    */
  def readTurns(spark: SparkSession, inputPath: String,
      maxFilesPerTrigger: Int = 64, mediaCol: String = null): DataFrame =
    spark.readStream
      // a streaming read pins its schema up front, so the opt-in media
      // blob column must be declared here (the batch path discovers it
      // from the parquet footer instead)
      .schema(if (mediaCol == null || mediaCol.isEmpty) Schema.turnSchema
        else Schema.turnSchema.add(mediaCol,
          org.apache.spark.sql.types.BinaryType))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputPath)

  /** Persisted per-conversation carry state for [[runForeachBatch]]:
    * (last header values, running record-start count) per conv, written
    * as a full-state snapshot per micro-batch. With maxFilesPerTrigger a
    * conversation can SPAN micro-batches; without a carry, headers seen
    * in an earlier batch would not stamp later batches and session ids
    * would restart per batch — diverging from the batch pipeline. The
    * carry is the foreachBatch analog of the engine-managed state store
    * (the [[StatefulHeaders]] mechanism), kept in plain parquet so a
    * retried/restarted batch recomputes it deterministically.
    *
    * Ordering VALIDITY IS CHECKED, not assumed: the carry records each
    * conversation's max committed turn_idx, and a batch delivering
    * turn_idx <= that max (an out-of-order backfill — e.g. an old file
    * landing late) has those rows QUARANTINED to
    * `stream/_violations/batch=N` before the pipeline runs, never
    * silently stamped with a header/session context that postdates them.
    * The reference gets the same guarantee from its serial oldest-first
    * listing (s3.rb:166); a parallel engine has to enforce it.
    */
  /** The full-snapshot store behind [[Carry]]: per-batch FULL
    * snapshots under `<dir>/batch=<id>`; reads take the latest
    * snapshot STRICTLY BEFORE a batch id (a retried batch never
    * consults its own crashed partial write — only the committed
    * predecessor); writes overwrite idempotently and retain this
    * snapshot plus the previous two (enough for any retry of batchId
    * or batchId+1 to find its strictly-earlier snapshot). Full
    * snapshots are the RIGHT shape for the carry — its state is one
    * row per ACTIVE conversation, not an ever-growing corpus set; the
    * fingerprint seen-set, which IS corpus-sized, uses the delta +
    * compaction design instead ([[StreamFingerprints]]).
    */
  private[streaming] object SnapshotStore {
    import org.apache.spark.sql.types.StructType

    def read(spark: SparkSession, dir: String, schema: StructType,
        beforeBatch: Long): DataFrame = {
      val d = new org.apache.hadoop.fs.Path(dir)
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val prev =
        if (!fs.exists(d)) None
        else fs.listStatus(d).toSeq
          .map(_.getPath.getName)
          .filter(_.startsWith("batch="))
          .map(_.stripPrefix("batch=").toLong)
          .filter(_ < beforeBatch)
          .sorted.lastOption
      prev match {
        case Some(b) => spark.read.schema(schema).parquet(s"$dir/batch=$b")
        case None => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      }
    }

    def write(state: DataFrame, dir: String, batchId: Long): Unit = {
      state.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
      val d = new org.apache.hadoop.fs.Path(dir)
      val fs = d.getFileSystem(
        state.sparkSession.sparkContext.hadoopConfiguration)
      fs.listStatus(d).toSeq
        .map(_.getPath)
        .filter(_.getName.startsWith("batch="))
        .filter(_.getName.stripPrefix("batch=").toLong < batchId - 2)
        .foreach(p => fs.delete(p, true))
    }
  }

  object Carry {
    import org.apache.spark.sql.types._

    /** `carry_prev_belongs` is the what=next multiline seam flag: did
      * the conversation's LAST committed row "belong" under the codec's
      * pattern? If so, the conv's first row of the NEXT batch continues
      * the same record instead of starting one (see the seam adjustment
      * in [[runForeachBatch]]). Snapshots written before this field
      * existed read as null == false (no seam), which matches their
      * era's behavior.
      */
    val schema: StructType = StructType(Seq(
      StructField("conv_id", StringType),
      StructField("carry_header", StringType),
      StructField("carry_fields", StringType),
      StructField("carry_sessions", LongType),
      StructField("carry_max_idx", IntegerType),
      StructField("carry_prev_belongs", BooleanType)))

    def dir(sinkRoot: String): String = s"$sinkRoot/stream/_carry"

    def read(spark: SparkSession, sinkRoot: String,
        beforeBatch: Long): DataFrame =
      SnapshotStore.read(spark, dir(sinkRoot), schema, beforeBatch)

    def write(state: DataFrame, sinkRoot: String, batchId: Long): Unit =
      SnapshotStore.write(state, dir(sinkRoot), batchId)
  }

  /** Streaming fingerprint store for cross-batch dedup — per-batch
    * DELTA dirs + threshold compaction, the batch pipeline's
    * `_fingerprints/<cid>` design (Sinks.writeFingerprints /
    * compactFingerprints) applied to the stream. Each micro-batch
    * writes ONLY its own newly-seen content fingerprints (O(batch)
    * rows — reRouteSeen guarantees a fp already in the seen-set never
    * reaches a content sink, so deltas are disjoint by construction),
    * NOT a full seen-set snapshot: a long-running stream's per-batch
    * write cost stays bounded by the batch, not by the accumulated
    * corpus. Read fan-in is bounded by [[compact]]: past `maxDirs`
    * delta dirs, strictly-prior deltas fold into one distinct
    * `compacted-` dir.
    *
    * Replay safety (the Carry strictly-before rule, per-dir): a read
    * for batch B unions only delta dirs with id < B, so a retried
    * batch never consults its own crashed partial write. Compacted
    * dirs are ALWAYS safe to include: compaction at batch B folds only
    * ids < B, and B is the only batch that can still retry (micro-
    * batches are sequential — B runs only after B-1 committed), so
    * every compacted dir covers strictly-prior batches for every
    * possible reader. A crash between the compacted write and the
    * input deletes only duplicates fps across dirs, which the reader
    * side's distinct (reRouteSeen) absorbs.
    */
  object StreamFingerprints {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types._

    val schema: StructType = StructType(Seq(StructField("fp", StringType)))

    def dir(sinkRoot: String): String = s"$sinkRoot/stream/_fingerprints"

    /** (delta dirs as (id, path), compacted dirs as paths). */
    private def listDirs(spark: SparkSession,
        root: String): (Seq[(Long, String)], Seq[String]) = {
      val d = new Path(root)
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(d)) return (Seq.empty, Seq.empty)
      val names = fs.listStatus(d).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("batch="))
      val (comp, delta) =
        names.partition(_.getName.startsWith("batch=compacted-"))
      (delta.map(p =>
          (p.getName.stripPrefix("batch=").toLong, p.toString)),
        comp.map(_.toString))
    }

    /** The seen-set visible to batch `beforeBatch`: all compacted dirs
      * plus deltas strictly before it. May contain duplicate fps after
      * a crashed compaction — readers must tolerate (reRouteSeen
      * distincts its seen side).
      */
    def read(spark: SparkSession, sinkRoot: String,
        beforeBatch: Long): DataFrame = {
      val (delta, comp) = listDirs(spark, dir(sinkRoot))
      val dirs = comp ++ delta.filter(_._1 < beforeBatch).map(_._2)
      if (dirs.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(dirs: _*)
    }

    /** Write THIS batch's new fps (already content-sink-filtered and
      * distinct'd by the caller) as `batch=<id>` — idempotent per-batch
      * overwrite, O(batch) rows.
      */
    def write(newFps: DataFrame, sinkRoot: String, batchId: Long): Unit =
      newFps.write.mode("overwrite").parquet(s"${dir(sinkRoot)}/batch=$batchId")

    /** Fold strictly-prior history into one distinct snapshot once the
      * namespace exceeds `maxDirs` dirs — compacted dir written FIRST,
      * only pre-listed dirs deleted (the Sinks.compactNamespace
      * discipline). The CURRENT batch's own delta is never folded: it
      * is the one dir a retry of `batchId` must not see.
      */
    def compact(spark: SparkSession, sinkRoot: String, batchId: Long,
        maxDirs: Int = 64): Boolean = {
      val (delta, comp) = listDirs(spark, dir(sinkRoot))
      val foldable = comp ++ delta.filter(_._1 < batchId).map(_._2)
      if (foldable.length <= maxDirs) return false
      spark.read.schema(schema).parquet(foldable: _*).distinct()
        .write.mode("overwrite")
        .parquet(s"${dir(sinkRoot)}/batch=compacted-${System.nanoTime()}")
      val conf = spark.sparkContext.hadoopConfiguration
      foldable.foreach { f =>
        val p = new Path(f)
        p.getFileSystem(conf).delete(p, true)
      }
      true
    }
  }

  /** Production shape: micro-batch = one reference polling cycle.
    * Parse/Enrich/Route are the identical batch operators; per-sink
    * rows append under `<sinkRoot>/stream/<sink>/`. Exactly-once comes
    * from the file source's offset log in `checkpointLocation` plus
    * the deterministic per-batch output dirs.
    *
    * Cross-batch continuity: header propagation (P5) and session ids
    * (P3) are adjusted by the persisted [[Carry]] state, so the
    * streaming output matches the batch pipeline even when a
    * conversation spans triggers (maxFilesPerTrigger). A retried batch
    * reads the previous batch's carry and republishes both the output
    * dir and its own carry snapshot idempotently.
    *
    * `codec` is orthogonal to the trigger, exactly as the reference's
    * codec plugin is orthogonal to its polling loop (s3.rb:35 vs
    * 130-136): json/multiline users get identical parse semantics under
    * AvailableNow and ProcessingTime as under the batch cycle.
    */
  def runForeachBatch(spark: SparkSession, inputPath: String,
      sinkRoot: String, checkpoint: String, excludePattern: String = "",
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 64,
      codec: Pipeline.Codec = Pipeline.GrokCodec,
      dedupAcrossBatches: Boolean = false,
      fpCompactDirs: Int = 64,
      mediaCol: String = null,
      mediaFeatures: Boolean = false,
      mediaThumbSide: Int = 0): StreamingQuery = {
    import spark.implicits._
    readTurns(spark, inputPath, maxFilesPerTrigger, mediaCol).writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        // cached: the ordering-guard join, the carry-in join and the
        // carry-out anti-join all consume this snapshot — uncached,
        // each action would re-scan the carry parquet
        val prev = Carry.read(sess, sinkRoot, batchId).cache()
        // ordering guard: rows at or below a conversation's committed
        // max turn_idx are out-of-order backfill — quarantine them RAW
        // (their true header/session context predates the carry state;
        // stamping them with the current carry would be silently wrong)
        val isLate = coalesce(col("turn_idx") <= col("carry_max_idx"),
          lit(false))
        // cached: the count, the quarantine write, and the main path all
        // consume this join — without the cache each would re-read the
        // batch's source files
        val flagged = batch.join(
          prev.select(col("conv_id"), col("carry_max_idx")),
          Seq("conv_id"), "left").cache()
        val lateRaw = flagged.filter(isLate).drop("carry_max_idx")
        val nLate = lateRaw.count()
        if (nLate > 0) {
          System.err.println(s"[stream] batch=$batchId: $nLate out-of-order " +
            s"backfill rows quarantined to stream/_violations/batch=$batchId")
          lateRaw.write.mode("overwrite")
            .parquet(s"$sinkRoot/stream/_violations/batch=$batchId")
        }
        val turns = flagged.filter(!isLate).drop("carry_max_idx").as[Turn]
        val routed = Pipeline(turns, excludePattern, codec = codec)
        // the multiline what=next SEAM: that codec's "this row
        // continues" comes from a LAG over the previous row, so the
        // first row of a batch cannot see the last row of the previous
        // one — without the carried flag, every record spanning a
        // micro-batch boundary would split there (and the seam row,
        // re-classified as a record start, could even dead-letter),
        // diverging from the batch pipeline. Only what=next has the
        // lag; grok/json/what=previous use pure per-row predicates.
        val seamBelongs: Option[org.apache.spark.sql.Column] = codec match {
          case Pipeline.MultilineCodec(mc) if mc.what == "next" =>
            Some(Parse.belongsUnder(mc, "text"))
          case _ => None
        }
        // apply carry-in: headers stick across batches; session ids
        // continue from the running record-start count. Both sides hash
        // on conv_id (the carry is one row per conv — at scale this is
        // the same shuffle the batch pipeline's prefix scan already pays)
        val carried = routed
          .join(prev, Seq("conv_id"), "left")
          .withColumn("header",
            coalesce(col("header"), col("carry_header")))
          .withColumn("header_fields_carried",
            coalesce(col("header_fields_carried"), col("carry_fields")))
        val sessioned = seamBelongs match {
          case None => carried
            .withColumn("session_id",
              col("session_id") + coalesce(col("carry_sessions"), lit(0L)))
          case Some(_) =>
            // the conv's first in-order row this batch (computed from
            // the already-cached raw batch — no pipeline re-derivation)
            val firstIdx = flagged.filter(!isLate)
              .groupBy(col("conv_id"))
              .agg(min(col("turn_idx")).as("_first_idx"))
            val seamConv = coalesce(col("carry_prev_belongs"), lit(false))
            val seamRow = seamConv && col("turn_idx") === col("_first_idx")
            carried.join(firstIdx, Seq("conv_id"), "left")
              // the seam row CONTINUES the previous batch's record: it
              // was counted as a start within this batch (its lag saw
              // nothing), so flip it, re-route it under the corrected
              // flag, and shift the conv's session ids down by the one
              // start it no longer contributes
              .withColumn("is_continuation",
                col("is_continuation") || seamRow)
              .withColumn("sink",
                when(seamRow, Route.sinkExpr(excludePattern))
                  .otherwise(col("sink")))
              .withColumn("session_id",
                col("session_id") + coalesce(col("carry_sessions"), lit(0L))
                  - when(seamConv, lit(1L)).otherwise(lit(0L)))
              .drop("_first_idx")
        }
        // multimodal stage (opt-in, same body as the batch cycle's):
        // AFTER the seam correction so its deadletter override outranks
        // the seam's sink rewrite — exactly the batch ordering, where
        // the stage runs on the fully-routed frame — and BEFORE the
        // dedup re-route so an undecodable-media row never reaches the
        // fingerprint store
        val adjusted = Main.mediaStage(mediaCol, sessioned
          .drop("carry_header", "carry_fields", "carry_sessions",
            "carry_max_idx", "carry_prev_belongs"),
          mediaFeatures, mediaThumbSide)
          .cache()
        // cross-batch dedup (opt-in): same invariant as the batch
        // pipeline's dedupAcrossCycles — rows whose fingerprint an
        // EARLIER batch delivered to a content sink re-route to the
        // `duplicate` sink. The strictly-before delta-union read makes
        // a retried batch route identically to its first attempt. The
        // seen-set has exactly ONE consumer now (the re-route join) —
        // the delta write below touches only this batch's own rows
        val seenFps =
          if (dedupAcrossBatches)
            Some(StreamFingerprints.read(sess, sinkRoot, batchId))
          else None
        val published = seenFps match {
          case None => adjusted
          // keepFp: the join's hash column is reused by the
          // snapshot-out below; dropped before the sink write
          case Some(seen) => graft.ops.Dedup.reRouteSeen(
            adjusted, seen, Route.contentSinks, Route.duplicateSink,
            keepFp = true).cache()
        }
        // per-batch dir + overwrite => a retried micro-batch republishes
        // the same directory idempotently (no duplicate rows), the same
        // discipline as the batch pipeline's staged publish (Sinks).
        published.drop(graft.ops.Dedup.fpColName)
          .repartition(col("conv_id"))
          .sortWithinPartitions(col("sink"), col("conv_id"), col("turn_idx"))
          .write.mode("overwrite").partitionBy("sink")
          .parquet(s"$sinkRoot/stream/batch=$batchId")
        // fp delta-out: ONLY this batch's newly-seen content fps —
        // duplicate-sink rows are in an earlier delta by construction
        // (that is why they re-routed), so the write is O(batch) rows
        // no matter how large the accumulated corpus is. Threshold
        // compaction then bounds the read fan-in at O(maxDirs) dirs.
        if (dedupAcrossBatches) {
          val newFps = published
            .filter(col("sink").isin(Route.contentSinks: _*))
            .select(col(graft.ops.Dedup.fpColName).as("fp"))
            .distinct()
          StreamFingerprints.write(newFps, sinkRoot, batchId)
          StreamFingerprints.compact(sess, sinkRoot, batchId, fpCompactDirs)
        }
        // carry-out: the conv's state AT ITS LAST ROW of this batch
        // (header/session are running values, so max_by(., turn_idx) is
        // the batch-final state), upserted over the previous snapshot
        val batchCarry = adjusted.groupBy(col("conv_id"))
          .agg(
            max_by(col("header"), col("turn_idx")).as("carry_header"),
            max_by(col("header_fields_carried"), col("turn_idx"))
              .as("carry_fields"),
            max_by(col("session_id"), col("turn_idx")).as("carry_sessions"),
            // the ordering guard's reference point: only in-order rows
            // reach here, so this max strictly advances per conversation
            max(col("turn_idx")).as("carry_max_idx"),
            // the what=next seam flag: did the conv's LAST row belong?
            seamBelongs
              .map(b => max_by(b, col("turn_idx")))
              .getOrElse(lit(false)).as("carry_prev_belongs"))
        val merged = prev.join(batchCarry, Seq("conv_id"), "left_anti")
          .unionByName(batchCarry)
        Carry.write(merged, sinkRoot, batchId)
        if (dedupAcrossBatches) published.unpersist()
        adjusted.unpersist()
        prev.unpersist()
        flagged.unpersist()
        ()
      }
      .start()
  }

  /** Pure-streaming per-sink hourly counts with a 3-second event-time
    * watermark (the CUTOFF analog): late rows within 3s still update
    * their window; older rows are dropped by the engine exactly like
    * the reference's cutoff defers in-flight files (s3.rb:153-154).
    * Routing here uses only stateless column expressions (grok parse +
    * route predicate), which streaming supports natively.
    */
  def streamingAggregates(turns: DataFrame, excludePattern: String = ""): DataFrame = {
    val parsed = Parse.parseColumns(turns)
    val routed = Route(parsed, excludePattern)
    routed
      .withWatermark("ts", "3 seconds")
      .groupBy(col("sink"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_turns"))
      .select(col("sink"), col("window.start").as("hour_start"),
        col("n_turns"))
  }

  /** Keyed per-conversation state across micro-batches. */
  object StatefulHeaders {

    case class HeaderState(headerVersion: String, maxTurnIdx: Int)

    case class Stamped(conv_id: String, turn_idx: Int, role: String,
        text: String, tool: String, ts: Timestamp, header: String,
        late: Boolean)

    /** P5 as genuine streaming state: the last seen `#Version:` value per
      * conversation is carried in [[GroupState]] and stamped onto every
      * later turn — across micro-batch boundaries, which the batch window
      * cannot see. Within a batch, the group is sorted by turn_idx (the
      * stable-ordering invariant) so propagation order matches the
      * reference's serial file read.
      *
      * ORDERING GUARD (the Carry path's quarantine discipline, applied
      * to keyed state): a row whose turn_idx does not exceed the
      * conversation's committed max is an out-of-order backfill. Its
      * true header context predates the carried state, so it is
      * emitted with `late = true` — the caller routes it to quarantine
      * exactly like the foreachBatch path's stream/_violations — and
      * it NEVER touches the state: a late header row must not regress
      * the carried version for rows that legitimately follow it.
      *
      * The update function is pure (no clocks), so replays after a
      * checkpoint recovery produce identical output.
      */
    def propagate(turns: org.apache.spark.sql.Dataset[Turn]):
        org.apache.spark.sql.Dataset[Stamped] = {
      import turns.sparkSession.implicits._
      val hdrPattern = Parse.grokDictionary("HEADER_VERSION")
      turns
        .groupByKey(_.conv_id)
        .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.NoTimeout())(
          (convId: String, it: Iterator[Turn], state: GroupState[HeaderState]) => {
            val hdrRe = java.util.regex.Pattern.compile(hdrPattern)
            var st = state.getOption.getOrElse(HeaderState(null, -1))
            val committedMax = st.maxTurnIdx // frozen at batch start
            val out = it.toSeq.sortBy(_.turn_idx).map { t =>
              val late = t.turn_idx <= committedMax
              if (!late) {
                val m = hdrRe.matcher(t.text)
                if (m.matches()) st = HeaderState(m.group(1), t.turn_idx)
                else if (t.turn_idx > st.maxTurnIdx)
                  st = st.copy(maxTurnIdx = t.turn_idx)
              }
              Stamped(t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts,
                if (late) null else st.headerVersion, late)
            }
            state.update(st)
            out.iterator
          })
    }
  }
}
