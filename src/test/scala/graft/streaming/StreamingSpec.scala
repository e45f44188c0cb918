package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.pipeline._

/** Structured Streaming semantics: micro-batch == reference polling
  * cycle, checkpointed resume == sincedb, cross-batch keyed state ==
  * per-file header fold (reference: lib/logstash/inputs/s3.rb:130-136,
  * 280-290, 446-468).
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.pipeline.SparkTestSession.spark
  import spark.implicits._

  private val scratch = graft.pipeline.SparkTestSession.scratchDir("streamspec")

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
  }

  test("foreachBatch AvailableNow drains the table and matches the batch pipeline; checkpointed restart picks up only the delta") {
    val input = s"$scratch/input"
    val sinkRoot = s"$scratch/sinks"
    val ckpt = s"$scratch/ckpt"
    val n1 = Synth.writeTable(spark, input, 42L, 30L)

    val q1 = Streaming.runForeachBatch(spark,
      PipelineConfig(input, sinkRoot), ckpt)
    q1.awaitTermination()
    val out1 = spark.read.option("basePath", s"$sinkRoot/stream")
      .parquet(s"$sinkRoot/stream")
    assert(out1.count() == n1, "stream drained the whole table")

    // per-sink counts match the batch pipeline exactly
    val batchRouted = Route(Enrich(Parse(Synth.turns(spark, 42L, 30L))))
    val batchCounts = batchRouted.groupBy($"sink").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamCounts = out1.groupBy($"sink").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamCounts == batchCounts)

    // append new files; restart from the same checkpoint -> only delta
    val extra = Synth.turns(spark, 7L, 10L)
      .withColumn("conv_id", concat(lit("s2-"), $"conv_id"))
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
    val nExtra = extra.count()
    extra.write.mode("append").partitionBy("day").parquet(input)

    val q2 = Streaming.runForeachBatch(spark,
      PipelineConfig(input, sinkRoot), ckpt)
    q2.awaitTermination()
    val out2 = spark.read.option("basePath", s"$sinkRoot/stream")
      .parquet(s"$sinkRoot/stream")
    assert(out2.count() == n1 + nExtra, "restart processed exactly the delta")

    // per-turn text byte-equality through the streaming path
    val src = spark.read.parquet(input)
      .select($"conv_id", $"turn_idx", $"text")
    val rt = out2.select($"conv_id", $"turn_idx", $"text")
    assert(rt.exceptAll(src).isEmpty && src.exceptAll(rt).isEmpty)
  }

  test("ProcessingTime trigger (the 60s polling-interval mode) picks up files appearing between cycles") {
    val input = s"$scratch/pt_input"
    val sinkRoot = s"$scratch/pt_sinks"
    val ckpt = s"$scratch/pt_ckpt"
    val n1 = Synth.writeTable(spark, input, 42L, 8L)
    val q = Streaming.runForeachBatch(spark,
      PipelineConfig(input, sinkRoot), ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("100 milliseconds"))
    try {
      q.processAllAvailable()
      val afterFirst = spark.read.option("basePath", s"$sinkRoot/stream")
        .parquet(s"$sinkRoot/stream").count()
      assert(afterFirst == n1)
      // new files land while the query keeps polling — the next cycle
      // must ingest exactly the delta (the reference's interval loop)
      val extra = Synth.turns(spark, 9L, 4L)
        .withColumn("conv_id", concat(lit("pt-"), $"conv_id"))
        .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      val nExtra = extra.count()
      extra.write.mode("append").partitionBy("day").parquet(input)
      q.processAllAvailable()
      val afterSecond = spark.read.option("basePath", s"$sinkRoot/stream")
        .parquet(s"$sinkRoot/stream").count()
      assert(afterSecond == n1 + nExtra)
    } finally q.stop()
  }

  test("foreachBatch carry: conversations spanning micro-batches get the " +
      "SAME headers and session ids as the batch pipeline") {
    // 4096 keeps each micro-batch's conversation in one chunk; 2 splits
    // file A's turns across chunks; 5 splits file B's turns 4 | 5, so the
    // carry-in meets a chunk boundary inside one micro-batch
    for (chunk <- Seq(4096, 2, 5)) {
      val input = s"$scratch/carry_input_$chunk"
      val sinkRoot = s"$scratch/carry_sinks_$chunk"
      val ckpt = s"$scratch/carry_ckpt_$chunk"
      val ts0 = new Timestamp(Synth.baseEpochMs)
      // one conversation split across TWO files: header + first lines in
      // file A; continuations + more lines in file B (later turns)
      val fileA = Seq(
        Turn("cc", 0, "system", "#Version: 9.9", null, ts0),
        Turn("cc", 1, "system", "#Fields: a b c", null, ts0),
        Turn("cc", 2, "user", "2025-01-01T00:00:01Z INFO [user] one", null, ts0),
        Turn("cc", 3, "user", "    continued from one", null, ts0))
      val fileB = Seq(
        Turn("cc", 4, "user", "    still continued", null, ts0),
        Turn("cc", 5, "assistant", "2025-01-01T00:00:05Z INFO [assistant] two", null, ts0),
        Turn("dd", 0, "user", "2025-01-01T00:00:06Z INFO [user] fresh conv", null, ts0))
      new java.io.File(input).mkdirs()
      fileA.toDS().coalesce(1).write.mode("overwrite").parquet(s"$input/a")
      fileB.toDS().coalesce(1).write.mode("overwrite").parquet(s"$input/b")
      // make file A strictly older so the source orders A before B
      def onePart(d: String) = new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      onePart(s"$input/a").setLastModified(1000000L)
      onePart(s"$input/b").setLastModified(2000000L)

      val q = Streaming.runForeachBatch(spark,
        PipelineConfig(s"$input/*", sinkRoot, chunkSize = chunk), ckpt,
        maxFilesPerTrigger = 1)
      q.awaitTermination()
      val nBatches = new java.io.File(s"$sinkRoot/stream").listFiles()
        .count(_.getName.startsWith("batch="))
      assert(nBatches >= 2, s"conversation must span micro-batches, got $nBatches")

      val streamed = spark.read.option("basePath", s"$sinkRoot/stream")
        .parquet(s"$sinkRoot/stream")
        .select($"conv_id", $"turn_idx", $"header",
          $"header_fields_carried", $"session_id")
      val batch = Pipeline((fileA ++ fileB).toDS())
        .select($"conv_id", $"turn_idx", $"header",
          $"header_fields_carried", $"session_id")
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        s"streaming (split) must equal batch:\nstream=${streamed.orderBy($"conv_id", $"turn_idx").collect().mkString("\n")}\n" +
          s"batch=${batch.orderBy($"conv_id", $"turn_idx").collect().mkString("\n")}")
      // spot-check the semantics the carry exists for: batch-B rows carry
      // batch-A's header, and the continuation at the batch boundary does
      // NOT open a new session
      val rows = streamed.collect()
        .map(r => (r.getString(0), r.getInt(1)) ->
          (r.getString(2), r.getLong(4))).toMap
      assert(rows(("cc", 4))._1 == "9.9", "header crossed the batch boundary")
      assert(rows(("cc", 4))._2 == rows(("cc", 3))._2,
        "continuation at the boundary stays in the same session")
      assert(rows(("dd", 0))._1 == null, "no cross-conversation leakage")
    }
  }

  test("cross-batch dedup (opt-in): a later micro-batch's duplicate " +
      "re-routes to the duplicate sink; novel rows pass; the fp " +
      "snapshot follows the Carry retention discipline") {
    val input = s"$scratch/xbd_input"
    val sinkRoot = s"$scratch/xbd_sinks"
    val ckpt = s"$scratch/xbd_ckpt"
    val ts0 = new Timestamp(Synth.baseEpochMs)
    val tA = "2025-01-01T00:00:01Z INFO [user] alpha"
    val tB = "2025-01-01T00:00:02Z INFO [user] beta"
    val tC = "2025-01-01T00:00:03Z INFO [user] gamma"
    val fileA = Seq(
      Turn("a1", 0, "user", tA, null, ts0),
      Turn("a2", 0, "user", tB, null, ts0))
    val fileB = Seq(
      Turn("b1", 0, "user", tA, null, ts0), // duplicate of batch 0's tA
      Turn("b2", 0, "user", tC, null, ts0)) // novel
    new java.io.File(input).mkdirs()
    fileA.toDS().coalesce(1).write.mode("overwrite").parquet(s"$input/a")
    fileB.toDS().coalesce(1).write.mode("overwrite").parquet(s"$input/b")
    def onePart(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    onePart(s"$input/a").setLastModified(1000000L)
    onePart(s"$input/b").setLastModified(2000000L)

    Streaming.runForeachBatch(spark,
      PipelineConfig(s"$input/*", sinkRoot, dedupAcrossCycles = true), ckpt,
      maxFilesPerTrigger = 1).awaitTermination()

    val out = spark.read.option("basePath", s"$sinkRoot/stream")
      .parquet(s"$sinkRoot/stream/batch=0", s"$sinkRoot/stream/batch=1")
    val dups = out.filter($"sink" === "duplicate")
      .select($"conv_id").collect().map(_.getString(0)).toSeq
    assert(dups == Seq("b1"),
      s"only the cross-batch duplicate re-routes, got $dups")
    val users = out.filter($"sink" === "user")
      .select($"conv_id").collect().map(_.getString(0)).sorted.toSeq
    assert(users == Seq("a1", "a2", "b2"),
      s"novel rows keep their content sink, got $users")
    // delta store: each batch's dir holds ONLY its own new fps —
    // O(batch) write cost, not O(corpus)
    val fpDir = s"$sinkRoot/stream/_fingerprints"
    val fp0 = spark.read.parquet(s"$fpDir/batch=0")
    val fp1 = spark.read.parquet(s"$fpDir/batch=1")
    assert(fp0.count() == 2L, "delta 0 = {tA, tB}")
    assert(fp1.count() == 1L, "delta 1 = {tC} only — the duplicate tA " +
      "is NOT re-recorded and the prior set is NOT rewritten")
    def seenBy(b: Long) = BatchDirs(fpDir).read(spark,
      BatchDirs(fpDir).before(spark, b).toSet).get
    assert(seenBy(1).count() == 2L,
      "a batch consults only STRICTLY earlier deltas")
    assert(seenBy(2).count() == 3L,
      "the union of deltas is the full seen-set")
  }

  test("StreamFingerprints delta store: per-batch O(batch) writes, " +
      "strictly-before reads, threshold compaction that never folds " +
      "the current batch, crash-window duplicate tolerance") {
    val dir = s"$scratch/fp_unit/stream/_fingerprints"
    // a content-sink frame carrying the dedup stage's fp column
    def delta(fps: String*) =
      fps.map(_ -> "user").toDF(graft.ops.Dedup.fpColName, "sink")
    def committed(b: Long) = BatchDirs(dir).before(spark, b).toSet
    def seenBy(b: Long): Seq[String] =
      BatchDirs(dir).read(spark, committed(b)).toSeq
        .flatMap(_.collect().map(_.getString(0))).sorted
    def listed() = new java.io.File(dir)
      .listFiles().map(_.getName).filter(_.startsWith("batch=")).toSeq
    // five batches, one new fp each — every delta dir is 1 row
    for (b <- 0L to 4L)
      Sinks.writeFingerprints(delta(s"fp$b"), dir, b.toString)
    for (b <- 0L to 4L)
      assert(spark.read.parquet(s"$dir/batch=$b").count() == 1L,
        s"delta $b must hold only its own rows")
    assert(seenBy(3L) == Seq("fp0", "fp1", "fp2"),
      "read strictly-before 3 = deltas 0..2")
    // compaction at batch 5 folds only ids < 5; batch=4... all of 0..4
    // are < 5, so with maxDirs=2 they fold into one compacted dir
    assert(BatchDirs(dir).fold(spark, committed(5L), maxDirs = 2))
    val dirs = listed()
    assert(dirs.length == 1 && dirs.head.startsWith("batch=compacted-"),
      s"five deltas folded into one compacted dir, got $dirs")
    assert(seenBy(5L) == (0 to 4).map(i => s"fp$i"),
      "the folded seen-set is unchanged")
    // the CURRENT batch's delta is never folded (a retry of that batch
    // must not see its own write): compaction runs at batch start,
    // BEFORE the seen-set read, so a stale batch=5 dir left by a
    // crashed attempt is an orphan there — deleted, not folded
    Sinks.writeFingerprints(delta("fp5"), dir, "5")
    assert(BatchDirs(dir).fold(spark, committed(5L), maxDirs = 0))
    val after = listed()
    assert(!after.contains("batch=5") &&
      after.forall(_.startsWith("batch=compacted-")),
      s"batch 5's stale delta must be deleted by its own compaction, got $after")
    assert(seenBy(6L) == (0 to 4).map(i => s"fp$i"),
      "the stale delta's fp5 was not folded into the seen-set")
    assert(seenBy(5L) == (0 to 4).map(i => s"fp$i"),
      "a retry of batch 5 still sees exactly the prior set")
    // the retry writes its delta again
    Sinks.writeFingerprints(delta("fp5"), dir, "5")
    // crash window: compacted dir written but inputs not yet deleted ->
    // duplicate fps across dirs; the reader tolerates (reRouteSeen
    // distincts), and the SET is unchanged
    BatchDirs(dir).read(spark, committed(6L)).get.distinct()
      .write.mode("overwrite")
      .parquet(s"$dir/batch=compacted-999")
    val set = seenBy(6L).distinct
    assert(set == (0 to 5).map(i => s"fp$i"),
      "coexisting compacted dirs only duplicate rows, never change the set")
  }

  test("runForeachBatch rejects batch-only config: each setting fails " +
      "fast with IllegalArgumentException naming its field, and no " +
      "query starts") {
    val base = PipelineConfig(s"$scratch/guard_input", s"$scratch/guard_sinks")
    val cases = Seq(
      "storageClassCol" -> base.copy(storageClassCol = "storage_class"),
      "restoreHeaderCol" -> base.copy(restoreHeaderCol = "restore_hdr"),
      "sealDaysGraceSeconds" -> base.copy(sealDaysGraceSeconds = 0),
      "reauditDays" -> base.copy(reauditDays = Seq("2025-01-01")),
      "backupAddPrefix" -> base.copy(backupAddPrefix = "backup/"),
      "deleteAfterProcess" -> base.copy(deleteAfterProcess = true),
      "lineagePath" -> base.copy(lineagePath = s"$scratch/guard_lineage"))
    for ((field, cfg) <- cases) {
      val ckpt = s"$scratch/guard_ckpt_$field"
      val e = intercept[IllegalArgumentException](
        Streaming.runForeachBatch(spark, cfg, ckpt))
      assert(e.getMessage.contains(field),
        s"the error must name $field, got: ${e.getMessage}")
      assert(!new java.io.File(ckpt).exists(),
        s"$field: no query may start (checkpoint dir created)")
    }
  }

  test("multiline what=next records survive the micro-batch seam: the " +
      "carried belongs flag keeps the boundary row glued, routed and " +
      "session-numbered exactly like the batch pipeline") {
    // chunkSize 2 puts file B's seam row (turn 1) and the record after it
    // (turn 2) in different chunks of one micro-batch
    for (chunk <- Seq(4096, 2)) {
      val input = s"$scratch/seam_input_$chunk"
      val sinkRoot = s"$scratch/seam_sinks_$chunk"
      val ckpt = s"$scratch/seam_ckpt_$chunk"
      val ts0 = new Timestamp(Synth.baseEpochMs)
      // what=next with 'line ends in backslash glues to the NEXT line' —
      // the codec whose continuation flag is a LAG and therefore blind
      // across a batch boundary without the carried seam flag
      val cfg = PipelineConfig(s"$input/*", sinkRoot, codec = "multiline",
        multilinePattern = "\\\\$", multilineWhat = "next",
        chunkSize = chunk)
      val codec = Pipeline.codecFor(cfg)
      val fileA = Seq(
        Turn("mm", 0, "user",
          "2025-01-01T00:00:00Z INFO [user] cmd \\", null, ts0),
        Turn("nn", 0, "user",
          "2025-01-01T00:00:01Z INFO [user] solo", null, ts0))
      val fileB = Seq(
        // the SEAM row: continues mm's record AND is not grok-parseable —
        // mis-classified as a record start it would ALSO dead-letter
        Turn("mm", 1, "user", "rest of the command", null, ts0),
        Turn("mm", 2, "user",
          "2025-01-01T00:00:02Z INFO [user] next record", null, ts0))
      new java.io.File(input).mkdirs()
      fileA.toDS().coalesce(1).write.mode("overwrite").parquet(s"$input/a")
      fileB.toDS().coalesce(1).write.mode("overwrite").parquet(s"$input/b")
      def onePart(d: String) = new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      onePart(s"$input/a").setLastModified(1000000L)
      onePart(s"$input/b").setLastModified(2000000L)

      Streaming.runForeachBatch(spark, cfg, ckpt, maxFilesPerTrigger = 1)
        .awaitTermination()

      val cols = Seq($"conv_id", $"turn_idx", $"session_id", $"sink",
        $"is_continuation")
      val streamed = spark.read.option("basePath", s"$sinkRoot/stream")
        .parquet(s"$sinkRoot/stream").select(cols: _*)
      val batch = Pipeline((fileA ++ fileB).toDS(), codec = codec)
        .select(cols: _*)
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        s"what=next streaming must equal batch:\n" +
          s"stream=${streamed.orderBy($"conv_id", $"turn_idx").collect().mkString("\n")}\n" +
          s"batch=${batch.orderBy($"conv_id", $"turn_idx").collect().mkString("\n")}")
      val byKey = streamed.collect()
        .map(r => (r.getString(0), r.getInt(1)) ->
          (r.getLong(2), r.getString(3), r.getBoolean(4))).toMap
      assert(byKey(("mm", 1)) == ((1L, "user", true)),
        "the seam row continues record 1 and routes by role, not deadletter")
      assert(byKey(("mm", 2))._1 == 2L, "the record AFTER the seam starts fresh")
    }
  }

  test("Carry.read takes the latest snapshot STRICTLY BEFORE the batch " +
      "(a retried batch never reads its own crashed partial state)") {
    val root = s"$scratch/carry_unit"
    def state(n: Long) = Seq((s"conv-$n", s"h$n", s"f$n", n))
      .toDF("conv_id", "carry_header", "carry_fields", "carry_sessions")
    Streaming.Carry.write(state(0), root, 0L)
    Streaming.Carry.write(state(1), root, 1L)
    Streaming.Carry.write(state(2), root, 2L)
    // batch 2 retrying must see batch 1's snapshot, not its own
    val seen = Streaming.Carry.read(spark, root, beforeBatch = 2L)
      .select($"conv_id").head().getString(0)
    assert(seen == "conv-1")
    // batch 0 (or a fresh query) sees the empty state
    assert(Streaming.Carry.read(spark, root, beforeBatch = 0L).isEmpty)
    // retention kept a bounded window of snapshots
    val dirs = new java.io.File(Streaming.Carry.dir(root)).listFiles()
      .count(_.getName.startsWith("batch="))
    assert(dirs <= 3)
  }

  test("out-of-order backfill is quarantined, not silently mis-stamped " +
      "(carry ordering guard)") {
    val input = s"$scratch/oo_input"
    val sinkRoot = s"$scratch/oo_sinks"
    val ckpt = s"$scratch/oo_ckpt"
    val ts0 = new Timestamp(Synth.baseEpochMs)
    // file A: header + turns 0-3 of conv `oo` (committed first);
    // file B: a BACKFILLED old row (turn 1 again, different text casing
    // to make mis-processing visible) + genuinely-new turns 4-5
    val fileA = Seq(
      Turn("oo", 0, "system", "#Version: 7.7", null, ts0),
      Turn("oo", 1, "user", "2025-01-01T00:00:01Z INFO [user] one", null, ts0),
      Turn("oo", 2, "user", "2025-01-01T00:00:02Z INFO [user] two", null, ts0),
      Turn("oo", 3, "user", "    continuation of two", null, ts0))
    val backfill =
      Turn("oo", 1, "user", "2025-01-01T00:00:01Z WARN [user] OLD BACKFILL", null, ts0)
    val fileB = Seq(
      backfill,
      Turn("oo", 4, "assistant", "2025-01-01T00:00:04Z INFO [assistant] four", null, ts0),
      Turn("oo", 5, "user", "2025-01-01T00:00:05Z INFO [user] five", null, ts0))
    new java.io.File(input).mkdirs()
    fileA.toDS().coalesce(1).write.mode("overwrite").parquet(s"$input/a")
    fileB.toDS().coalesce(1).write.mode("overwrite").parquet(s"$input/b")
    def onePart(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    onePart(s"$input/a").setLastModified(1000000L)
    onePart(s"$input/b").setLastModified(2000000L)

    val q = Streaming.runForeachBatch(spark,
      PipelineConfig(s"$input/*", sinkRoot), ckpt, maxFilesPerTrigger = 1)
    q.awaitTermination()

    val out = spark.read.option("basePath", s"$sinkRoot/stream")
      .parquet(s"$sinkRoot/stream")
    // the backfilled row is NOT in the main output...
    assert(out.filter($"text".contains("OLD BACKFILL")).count() == 0,
      "backfill must not be stamped with post-dated carry state")
    assert(out.count() == fileA.size + fileB.size - 1)
    // ...it is quarantined, intact, in the violations namespace
    val vioDir = new java.io.File(s"$sinkRoot/stream/_violations")
    assert(vioDir.exists(), "violations dir must exist")
    val vio = spark.read.parquet(
      vioDir.listFiles().filter(_.getName.startsWith("batch=")).head.toString)
    assert(vio.count() == 1)
    val v = vio.head()
    assert(v.getAs[String]("text").contains("OLD BACKFILL"))
    assert(v.getAs[String]("conv_id") == "oo" && v.getAs[Int]("turn_idx") == 1)
    // in-order rows still carry correct cross-batch state
    val rows = out.select($"turn_idx", $"header").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows(4) == "7.7" && rows(5) == "7.7",
      "new rows keep the carried header")
  }

  test("json codec is orthogonal to the trigger: two micro-batches == " +
      "one batch run on the union (codec parity, s3.rb:35 vs 130-136)") {
    val input = s"$scratch/jc_input"
    val sinkRoot = s"$scratch/jc_sinks"
    val ckpt = s"$scratch/jc_ckpt"
    val ts0 = new Timestamp(Synth.baseEpochMs)
    val fileA = Seq(
      Turn("jc", 0, "user", """{"message": "hello", "level": "INFO"}""", null, ts0),
      Turn("jc", 1, "user", "not json at all", null, ts0))
    val fileB = Seq(
      Turn("jc", 2, "user", """{"message": "again", "level": "WARN"}""", null, ts0),
      Turn("jd", 0, "user", """{"message": 42, "level": "INFO"}""", null, ts0))
    new java.io.File(input).mkdirs()
    fileA.toDS().coalesce(1).write.mode("overwrite").parquet(s"$input/a")
    fileB.toDS().coalesce(1).write.mode("overwrite").parquet(s"$input/b")
    def onePart(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    onePart(s"$input/a").setLastModified(1000000L)
    onePart(s"$input/b").setLastModified(2000000L)

    val cfg = PipelineConfig(s"$input/*", sinkRoot, codec = "json")
    val codec = Pipeline.codecFor(cfg)
    val q = Streaming.runForeachBatch(spark, cfg, ckpt,
      maxFilesPerTrigger = 1)
    q.awaitTermination()
    val nBatches = new java.io.File(s"$sinkRoot/stream").listFiles()
      .count(_.getName.startsWith("batch="))
    assert(nBatches >= 2, s"must span micro-batches, got $nBatches")

    val cols = Seq($"conv_id", $"turn_idx", $"sink", $"json_message",
      $"json_level", $"session_id")
    val streamed = spark.read.option("basePath", s"$sinkRoot/stream")
      .parquet(s"$sinkRoot/stream").select(cols: _*)
    val batch = Pipeline((fileA ++ fileB).toDS(), codec = codec)
      .select(cols: _*)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      s"streaming json codec must equal batch:\n" +
        s"stream=${streamed.orderBy($"conv_id", $"turn_idx").collect().mkString("\n")}\n" +
        s"batch=${batch.orderBy($"conv_id", $"turn_idx").collect().mkString("\n")}")
    // the invalid-JSON row dead-letters through the streaming path too —
    // before this round it silently got the grok default
    assert(streamed.filter($"sink" === "deadletter").count() == 1)
    assert(streamed.filter($"conv_id" === "jc" && $"turn_idx" === 2)
      .head().getAs[String]("json_message") == "again")
  }

  test("multiline codec parity across micro-batches: a CUSTOM " +
      "continuation pattern glues records over the batch boundary " +
      "exactly like the batch run") {
    val input = s"$scratch/mc_input"
    val sinkRoot = s"$scratch/mc_sinks"
    val ckpt = s"$scratch/mc_ckpt"
    val ts0 = new Timestamp(Synth.baseEpochMs)
    // '+'-prefixed lines continue the previous record — NOT the grok
    // default (whitespace), so any codec fallback is visible
    val cfg = PipelineConfig(s"$input/*", sinkRoot, codec = "multiline",
      multilinePattern = "^\\+", multilineWhat = "previous")
    val codec = Pipeline.codecFor(cfg)
    val fileA = Seq(
      Turn("mc", 0, "user", "2025-01-01T00:00:01Z INFO [user] one", null, ts0),
      Turn("mc", 1, "user", "+more of one", null, ts0))
    val fileB = Seq(
      Turn("mc", 2, "user", "+still one, across the boundary", null, ts0),
      Turn("mc", 3, "user", "2025-01-01T00:00:04Z INFO [user] two", null, ts0),
      Turn("md", 0, "user", "2025-01-01T00:00:05Z INFO [user] fresh", null, ts0))
    new java.io.File(input).mkdirs()
    fileA.toDS().coalesce(1).write.mode("overwrite").parquet(s"$input/a")
    fileB.toDS().coalesce(1).write.mode("overwrite").parquet(s"$input/b")
    def onePart(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    onePart(s"$input/a").setLastModified(1000000L)
    onePart(s"$input/b").setLastModified(2000000L)

    val q = Streaming.runForeachBatch(spark, cfg, ckpt,
      maxFilesPerTrigger = 1)
    q.awaitTermination()

    val cols = Seq($"conv_id", $"turn_idx", $"sink", $"session_id")
    val streamed = spark.read.option("basePath", s"$sinkRoot/stream")
      .parquet(s"$sinkRoot/stream").select(cols: _*)
    val batch = Pipeline((fileA ++ fileB).toDS(), codec = codec)
      .select(cols: _*)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      s"streaming multiline codec must equal batch:\n" +
        s"stream=${streamed.orderBy($"conv_id", $"turn_idx").collect().mkString("\n")}\n" +
        s"batch=${batch.orderBy($"conv_id", $"turn_idx").collect().mkString("\n")}")
    val sess = streamed.collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
    assert(sess(("mc", 2)) == sess(("mc", 1)),
      "the '+' continuation crossing the batch boundary stays in its record")
    assert(sess(("mc", 3)) != sess(("mc", 2)),
      "a non-matching line opens a new record")
  }

  /** Writes each file's turns as one parquet file under `<input>/<name>`,
    * mtimes ascending in argument order, so a `maxFilesPerTrigger = 1`
    * stream reads them as consecutive micro-batches.
    */
  private def writeOrderedFiles(input: String, files: (String, Seq[Turn])*): Unit =
    files.zipWithIndex.foreach { case ((name, turns), i) =>
      turns.toDS().coalesce(1).write.mode("overwrite").parquet(s"$input/$name")
      new java.io.File(s"$input/$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
        .setLastModified(1000000L * (i + 1))
    }

  test("flatMapGroupsWithState header propagation carries state ACROSS micro-batches") {
    val input = s"$scratch/hdr_input"
    val sinkRoot = s"$scratch/hdr_sinks"
    val ts0 = new Timestamp(Synth.baseEpochMs)
    // file A: header + one data turn; file B: a later turn of the SAME
    // conversation, plus a fresh conv
    writeOrderedFiles(input,
      "a" -> Seq(
        Turn("c1", 0, "system", "#Version: 2.5", null, ts0),
        Turn("c1", 1, "user", "2025-01-01T00:00:01Z INFO [user] one", null, ts0)),
      "b" -> Seq(
        Turn("c1", 2, "user", "2025-01-01T00:00:02Z INFO [user] two", null, ts0),
        Turn("c2", 0, "user", "2025-01-01T00:00:03Z INFO [user] no header", null, ts0)))
    Streaming.runForeachBatch(spark, PipelineConfig(s"$input/*", sinkRoot),
      s"$scratch/hdr_ckpt", maxFilesPerTrigger = 1).awaitTermination()
    val nBatches = new java.io.File(s"$sinkRoot/stream").listFiles()
      .count(_.getName.startsWith("batch="))
    assert(nBatches == 2, s"one micro-batch per file, got $nBatches")

    val rows = spark.read.option("basePath", s"$sinkRoot/stream")
      .parquet(s"$sinkRoot/stream")
      .select($"conv_id", $"turn_idx", $"header")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(rows(("c1", 0)) == "2.5") // header row itself carries it
    assert(rows(("c1", 1)) == "2.5")
    assert(rows(("c1", 2)) == "2.5", "state survived the micro-batch boundary")
    assert(rows(("c2", 0)) == null, "no cross-conversation leakage")
  }

  test("flatMapGroupsWithState ordering guard: late backfill rows are " +
      "flagged, stamped null, and never regress the carried header") {
    val input = s"$scratch/hdr_late_input"
    val sinkRoot = s"$scratch/hdr_late_sinks"
    val ts0 = new Timestamp(Synth.baseEpochMs)
    // file B is a backfilled OLD file — a pre-header turn AND an older
    // header, both below the carried max turn_idx 9 — followed by a
    // fresh in-order turn
    writeOrderedFiles(input,
      "a" -> Seq(
        Turn("c1", 5, "system", "#Version: 2.0", null, ts0),
        Turn("c1", 9, "user", "2025-01-01T00:00:01Z INFO [user] x", null, ts0)),
      "b" -> Seq(
        Turn("c1", 2, "user", "2025-01-01T00:00:00Z INFO [user] old", null, ts0),
        Turn("c1", 3, "system", "#Version: 1.0", null, ts0),
        Turn("c1", 10, "user", "2025-01-01T00:00:02Z INFO [user] y", null, ts0)))
    Streaming.runForeachBatch(spark, PipelineConfig(s"$input/*", sinkRoot),
      s"$scratch/hdr_late_ckpt", maxFilesPerTrigger = 1).awaitTermination()

    // late rows never reach the pipeline: quarantined raw, unstamped
    val vio = spark.read.parquet(s"$sinkRoot/stream/_violations/batch=1")
    assert(vio.columns.toSet == Schema.turnSchema.fieldNames.toSet,
      "quarantined rows carry no header stamp")
    assert(vio.select($"turn_idx").collect().map(_.getInt(0)).toSet ==
      Set(2, 3), "a backfilled row and a late header row are both late")
    val rows = spark.read.option("basePath", s"$sinkRoot/stream")
      .parquet(s"$sinkRoot/stream")
      .select($"turn_idx", $"header")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows.keySet == Set(5, 9, 10))
    assert(rows(9) == "2.0")
    assert(rows(10) == "2.0",
      "a late 1.0 header must not regress the carried 2.0")
  }

  test("streaming media stage: sink routing, decoded metadata AND " +
      "opt-in feature/thumbnail columns match the batch stage " +
      "row-for-row across micro-batch boundaries; blob-less rows " +
      "untouched") {
    import graft.ops.Multimodal
    val input = s"$scratch/media_in"
    val sinkRoot = s"$scratch/media_sinks"
    val ckpt = s"$scratch/media_ckpt"
    // the batch e2e's mixed-media fixture shape: image / wav / mp4 /
    // garbage / no blob, cycling on turn_idx. The image slot uses the
    // PIXEL-decodable PNG fixture so the opt-in feature stage has real
    // content to extract (synthImagePayload is header-only).
    val withMedia = Synth.turns(spark, 91L, 30L).map { t =>
      val media: Array[Byte] = (t.turn_idx % 5) match {
        case 0 => Multimodal.synthPngPayload(t.turn_idx.toLong)
        case 1 => Multimodal.synthWavPayload(t.turn_idx.toLong)
        case 2 => Multimodal.synthMp4Payload(t.turn_idx.toLong)
        case 3 => Array[Byte](9, 9, 9, 9) // undecodable garbage
        case _ => null
      }
      (t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts, media)
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "media")
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
    val nIn = withMedia.count()
    withMedia.repartition($"day").write.partitionBy("day").parquet(input)

    // small trigger => conversations span micro-batches, so the media
    // stage runs under carry joins and the seam-free grok codec
    val cfg = PipelineConfig(input, sinkRoot, mediaCol = "media",
      mediaFeatures = true, mediaThumbSide = 4)
    val q = Streaming.runForeachBatch(spark, cfg, ckpt,
      maxFilesPerTrigger = 2)
    q.awaitTermination()
    val out = spark.read.option("basePath", s"$sinkRoot/stream")
      .parquet(s"$sinkRoot/stream").cache()
    assert(out.count() == nIn, "no media row dropped by the stream")

    // row-for-row parity with the batch stage on everything the media
    // stage owns: the (possibly deadletter-overridden) sink, the
    // merged media metadata, and the feature/thumbnail columns
    val batchStaged = Main.mediaStage(cfg,
      Pipeline(withMedia.as[Turn](
        org.apache.spark.sql.Encoders.product[Turn])))
    def view(df: org.apache.spark.sql.DataFrame) = df.select(
      col("conv_id"), col("turn_idx"), col("sink"),
      element_at(col("meta"), "media_kind").as("k"),
      element_at(col("meta"), "media_width").as("w"),
      element_at(col("meta"), "media_height").as("h"),
      element_at(col("meta"), "media_channels").as("c"),
      element_at(col("meta"), "media_sample_rate").as("sr"),
      element_at(col("meta"), "media_bits").as("b"),
      element_at(col("meta"), "media_duration_ms").as("d"),
      col("media_checksum"), col("media_feat"), col("media_thumb"))
    assert(view(out).exceptAll(view(batchStaged)).isEmpty &&
      view(batchStaged).exceptAll(view(out)).isEmpty,
      "stream and batch media stages must agree row-for-row")

    // feature contract in the stream output: PNG rows carry a real
    // vector + thumbnail; mp4 rows carry the null flags but KEEP their
    // header metadata and content routing
    assert(out.filter(col("turn_idx") % 5 === 0 &&
      (col("media_feat").isNull || col("media_thumb").isNull))
      .count() == 0L, "decodable PNGs must carry features + thumbs")
    assert(out.filter(col("turn_idx") % 5 === 2 &&
      (col("media_feat").isNotNull || col("media_thumb").isNotNull))
      .count() == 0L, "lossy-codec blobs null-flag, never fabricate")

    // the contracts, directly: garbage blobs never publish to content
    // sinks; blob-less rows carry no media keys
    assert(out.filter(col("sink").isin(Route.contentSinks: _*) &&
      col("turn_idx") % 5 === 3 && col("media").isNotNull)
      .count() == 0L)
    assert(out.filter(col("turn_idx") % 5 === 3 &&
      col("sink") === "deadletter" && col("media").isNull).count() == 0L,
      "dead-lettered rows keep their blob for diagnosis")
    assert(out.filter(col("turn_idx") % 5 === 4 &&
      element_at(col("meta"), "media_kind").isNotNull).count() == 0L)
    out.unpersist()
  }

  test("the stream applies discovery's row guards: zero-length text, " +
      "archive-prefix conv ids and null-ts rows never publish, so a " +
      "micro-batch commits what the batch cycle commits") {
    val input = s"$scratch/guard_in"
    val ts0 = new Timestamp(Synth.baseEpochMs)
    val day = java.time.Instant.ofEpochMilli(Synth.baseEpochMs).toString
      .take(10)
    Seq(
      ("ok", 0, "user", "2025-01-01T00:00:00Z INFO [user] kept", ts0),
      ("empty", 0, "user", "", ts0),
      ("archived/x", 0, "user", "2025-01-01T00:00:00Z INFO [user] again",
        ts0),
      ("nullts", 0, "user", "2025-01-01T00:00:00Z INFO [user] no ts",
        null: Timestamp))
      .toDF("conv_id", "turn_idx", "role", "text", "ts")
      .withColumn("tool", lit(null).cast("string"))
      .withColumn("day", lit(day))
      .coalesce(1).write.partitionBy("day").parquet(input)

    val streamCfg = PipelineConfig(input, s"$scratch/guard_stream")
    Streaming.runForeachBatch(spark, streamCfg, s"$scratch/guard_ckpt")
      .awaitTermination()
    val streamed = spark.read
      .parquet(s"${streamCfg.sinkRoot}/stream/batch=0")
      .select($"conv_id").collect().map(_.getString(0)).toSet

    val cycleCfg = PipelineConfig(input, s"$scratch/guard_cycle")
    Main.runCycle(spark, cycleCfg,
      new Timestamp(Synth.baseEpochMs + 365L * 86400000L))
    val committed = Route.sinkNames.flatMap(s =>
      Sinks.readSink(spark, cycleCfg.sinkRoot, s).select($"conv_id")
        .collect().map(_.getString(0))).toSet
    assert(committed == Set("ok"), s"the cycle commits $committed")
    assert(streamed == committed, s"the stream published $streamed")
  }
}
