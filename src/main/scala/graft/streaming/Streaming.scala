package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
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
  *    exactly-once for the file source + foreachBatch idempotent sinks.
  *
  * [[runForeachBatch]] is the stream's one processing shape. It takes
  * the batch cycle's [[graft.pipeline.PipelineConfig]], and each
  * micro-batch runs the cycle's own parts: `Pipeline` (parse, route,
  * enrich, the chunked prefix scans — legal inside foreachBatch), the
  * media stage and the dedup stage over the shared fingerprint store
  * (one chain, `Main.stages`), and the salted per-sink writer
  * (`Sinks.writeBySink`). Only what a trigger changes is its own: the
  * [[Carry]] snapshot across micro-batches, which enters the pipeline's
  * prefix scan as its carry-in, and the ordering guard.
  */
object Streaming {

  /** File-source stream over a (possibly growing) transcript table dir.
    * Parquet streaming source requires an explicit schema; new files
    * appearing under the path are discovered per trigger — the
    * `list_new_files` analog (S1) with the source's seen-file log as
    * the listing watermark.
    */
  def readTurns(spark: SparkSession, cfg: PipelineConfig,
      maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      // a streaming read pins its schema up front, so the opt-in media
      // blob column must be declared here (the batch path discovers it
      // from the parquet footer instead)
      .schema(if (!cfg.mediaConfigured) Schema.turnSchema
        else Schema.turnSchema.add(cfg.mediaCol,
          org.apache.spark.sql.types.BinaryType))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(cfg.inputPath)

  /** Persisted per-conversation carry state for [[runForeachBatch]]:
    * (last header values, last record id, max turn_idx, what=next seam
    * flag) per conv, written as a full-state snapshot per micro-batch.
    * With maxFilesPerTrigger a conversation can SPAN micro-batches;
    * without a carry, headers seen in an earlier batch would not stamp
    * later batches and session ids would restart per batch — diverging
    * from the batch pipeline. The
    * carry is the foreachBatch analog of an engine-managed state store,
    * kept in plain parquet so a retried/restarted batch recomputes it
    * deterministically.
    *
    * Snapshots are the micro-batches of a [[BatchDirs]] store at
    * [[dir]]. [[read]] takes the latest snapshot STRICTLY BEFORE a batch
    * id (a retried batch never consults its own crashed partial write —
    * only the committed predecessor); [[write]] overwrites idempotently
    * and retains this snapshot plus the previous two (enough for any
    * retry of batchId or batchId+1 to find its strictly-earlier
    * snapshot). A snapshot holds one row per conversation the stream has
    * EVER seen: the upsert never retires a conversation, so every
    * micro-batch rewrites the whole set and unions it into the scan's
    * carry-in. The fingerprint seen-set, which grows the same way, is a
    * per-batch delta store that folds instead (Sinks.writeFingerprints,
    * see [[runForeachBatch]]).
    *
    * Ordering VALIDITY IS CHECKED, not assumed: the carry records each
    * conversation's max committed turn_idx, and a batch delivering
    * turn_idx <= that max (an out-of-order backfill — e.g. an old file
    * landing late) has those rows QUARANTINED to
    * the `stream/_violations` store before the pipeline runs, never
    * silently stamped with a header/session context that postdates them.
    * The reference gets the same guarantee from its serial oldest-first
    * listing (s3.rb:166); a parallel engine has to enforce it.
    */
  object Carry {
    import org.apache.spark.sql.types._

    /** `carry_prev_belongs` is the what=next multiline seam flag: did
      * the conversation's LAST committed row "belong" under the codec's
      * pattern? If so, the conv's first row of the NEXT batch continues
      * the same record instead of starting one (the scan's lag carry-in,
      * see [[runForeachBatch]]). Snapshots written before this field
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
        beforeBatch: Long): DataFrame = {
      val store = BatchDirs(dir(sinkRoot))
      // the committed predecessor is the one snapshot read
      store.read(spark, store.before(spark, beforeBatch).lastOption.toSet,
        Some(schema))
        .getOrElse(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    }

    def write(state: DataFrame, sinkRoot: String, batchId: Long): Unit = {
      val spark = state.sparkSession
      val store = BatchDirs(dir(sinkRoot))
      store.write(state, batchId.toString)
      val stale = store.before(spark, batchId - 2).toSet
      store.retain(spark, id => !stale(id))
    }
  }

  /** Production shape: micro-batch = one reference polling cycle, built
    * from the batch cycle's parts and configured by the same
    * [[PipelineConfig]]: `inputPath`, `sinkRoot`, `excludePattern`,
    * `chunkSize`, the codec (`Pipeline.codecFor`), `saltBuckets`,
    * `dedupAcrossCycles` and the three media settings mean here what
    * they mean to `Main.runCycle`. Each micro-batch writes its batch of
    * the `<sinkRoot>/stream` [[BatchDirs]] store, one `sink=<sink>/` dir
    * per sink, with the cycle's sink writer. Exactly-once comes from the
    * file source's offset log in `checkpoint` plus the deterministic
    * per-batch output dirs.
    *
    * The file source's seen-file log replaces discovery's listing, but
    * discovery's row guards (`Discover.designGuards`: the
    * null-key/null-ts filter, the zero-length skip and the
    * `archivePrefix` self-exclusion) apply to every micro-batch before
    * the ordering guard, so the stream publishes the rows a cycle
    * commits. `cutoffSeconds` is a discovery setting the stream does
    * not use. The batch-only features — the S6 columns, day
    * sealing (`sealDaysGraceSeconds >= 0`), `reauditDays`,
    * `backupAddPrefix`, `deleteAfterProcess` and `lineagePath` — are
    * not implemented by the stream; setting any of them fails fast,
    * naming the field, before a query starts.
    *
    * Cross-batch continuity: the persisted [[Carry]] snapshot is the
    * carry-in of the pipeline's one prefix scan (`Pipeline`'s `carryIn`,
    * [[graft.pipeline.PrefixOps.scanMany]]): header propagation (P5),
    * session ids (P3) and the multiline what=next lag continue from each
    * conversation's last committed row, so the streaming output matches
    * the batch pipeline even when a conversation spans triggers
    * (maxFilesPerTrigger). Routing runs on the scan's output, so a
    * what=next row continuing the previous batch's record routes as a
    * continuation. A retried batch reads the previous batch's carry and
    * republishes both the output dir and its own carry snapshot
    * idempotently.
    *
    * The codec is orthogonal to the trigger, exactly as the reference's
    * codec plugin is orthogonal to its polling loop (s3.rb:35 vs
    * 130-136): json/multiline users get identical parse semantics under
    * AvailableNow and ProcessingTime as under the batch cycle.
    *
    * Cross-batch dedup (`dedupAcrossCycles`) uses the cycle's
    * fingerprint store (a [[BatchDirs]] namespace written by
    * Sinks.writeFingerprints) at `<sinkRoot>/stream/_fingerprints`.
    * Micro-batches run in order, so when batch B starts every numeric
    * batch id below B has committed: that is batch B's committed set
    * (`BatchDirs.before`). B first folds the committed dirs once they
    * pass the threshold — batch B's own dir, left by a crashed attempt,
    * is an orphan then, and is deleted — and then reads its seen-set
    * from the same committed set, so a retry never sees its own write.
    */
  def runForeachBatch(spark: SparkSession, cfg: PipelineConfig,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 64): StreamingQuery = {
    def isSet(v: String) = v != null && v.nonEmpty
    Seq("storageClassCol" -> isSet(cfg.storageClassCol),
      "restoreHeaderCol" -> isSet(cfg.restoreHeaderCol),
      "sealDaysGraceSeconds" -> (cfg.sealDaysGraceSeconds >= 0),
      "reauditDays" -> cfg.reauditDays.nonEmpty,
      "backupAddPrefix" -> isSet(cfg.backupAddPrefix),
      "deleteAfterProcess" -> cfg.deleteAfterProcess,
      "lineagePath" -> isSet(cfg.lineagePath)).foreach { case (field, on) =>
      require(!on, s"PipelineConfig.$field is a batch-cycle feature the " +
        "stream does not implement; unset it for runForeachBatch")
    }
    val codec = Pipeline.codecFor(cfg)
    val sinkRoot = cfg.sinkRoot
    val fingerprints = BatchDirs(s"$sinkRoot/stream/_fingerprints")
    val violations = BatchDirs(s"$sinkRoot/stream/_violations")
    val output = BatchDirs(s"$sinkRoot/stream")
    import spark.implicits._
    readTurns(spark, cfg, maxFilesPerTrigger).writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        // cached: the ordering-guard join, the scan's carry-in and the
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
        val flagged = Discover.designGuards(cfg)(batch).join(
          prev.select(col("conv_id"), col("carry_max_idx")),
          Seq("conv_id"), "left").cache()
        val lateRaw = flagged.filter(isLate).drop("carry_max_idx")
        val nLate = lateRaw.count()
        if (nLate > 0) {
          System.err.println(s"[stream] batch=$batchId: $nLate out-of-order " +
            s"backfill rows quarantined to ${violations.path(batchId.toString)}")
          violations.write(lateRaw, batchId.toString)
        }
        val turns = flagged.filter(!isLate).drop("carry_max_idx").as[Turn]
        // carry-in: the scan's state at each conversation's last
        // committed row. The scan carries a running count, one less than
        // the record id when that row belongs under what=next;
        // carry_prev_belongs is false for every other codec, so one
        // expression serves them all
        val carryIn = prev.select(col("conv_id"),
          col("carry_header").as("header"),
          col("carry_fields").as("header_fields_carried"),
          (col("carry_sessions") -
            when(coalesce(col("carry_prev_belongs"), lit(false)), lit(1L))
              .otherwise(lit(0L))).as("session_id"),
          col("carry_prev_belongs").as("prev_belongs"))
        // cross-batch dedup (opt-in) reads the stream's fingerprint
        // namespace: fold first, then read, both from the
        // strictly-earlier committed set (see the scaladoc)
        val committed =
          if (!cfg.dedupAcrossCycles) Set.empty[String]
          else {
            val c = fingerprints.before(sess, batchId).toSet
            fingerprints.fold(sess, c)
            c
          }
        // the cycle's stage chain, continuing each conversation from its
        // carry. Cached: the sink write, the fingerprint write and the
        // carry-out consume it
        val published = Main.stages(sess, cfg, turns, fingerprints,
          committed, Some(carryIn)).cache()
        // per-batch dir + overwrite => a retried micro-batch republishes
        // the same directory idempotently (no duplicate rows), the same
        // discipline and layout as the batch pipeline's staged publish
        Sinks.writeBySink(published.drop(graft.ops.Dedup.fpColName),
          output.path(batchId.toString), cfg.saltBuckets)
        if (cfg.dedupAcrossCycles)
          Sinks.writeFingerprints(published, fingerprints.dir,
            batchId.toString)
        // carry-out: the conv's state AT ITS LAST ROW of this batch
        // (header/session are running values, so max_by(., turn_idx) is
        // the batch-final state), upserted over the previous snapshot.
        // The what=next seam flag: did that row belong? That codec's
        // "this row continues" is a LAG over the previous row; every
        // other codec uses per-row predicates and carries false
        val lastBelongs = codec match {
          case Pipeline.MultilineCodec(mc) if mc.what == "next" =>
            max_by(Parse.belongsUnder(mc, "text"), col("turn_idx"))
          case _ => lit(false)
        }
        // (the dedup re-route changes only `sink`, so the carried
        // columns are the pipeline's own)
        val batchCarry = published.groupBy(col("conv_id"))
          .agg(
            max_by(col("header"), col("turn_idx")).as("carry_header"),
            max_by(col("header_fields_carried"), col("turn_idx"))
              .as("carry_fields"),
            max_by(col("session_id"), col("turn_idx")).as("carry_sessions"),
            // the ordering guard's reference point: only in-order rows
            // reach here, so this max strictly advances per conversation
            max(col("turn_idx")).as("carry_max_idx"),
            lastBelongs.as("carry_prev_belongs"))
        val merged = prev.join(batchCarry, Seq("conv_id"), "left_anti")
          .unionByName(batchCarry)
        Carry.write(merged, sinkRoot, batchId)
        published.unpersist()
        prev.unpersist()
        flagged.unpersist()
        ()
      }
      .start()
  }
}
