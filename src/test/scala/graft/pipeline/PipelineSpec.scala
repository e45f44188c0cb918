package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A fresh temp dir under `target/` of the working directory, so the
    * suites run from any checkout.
    */
  def scratchDir(prefix: String): String = {
    val target = java.nio.file.Files.createDirectories(
      new java.io.File("target").getCanonicalFile.toPath)
    java.nio.file.Files.createTempDirectory(target, prefix).toString
  }
}

class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val scratch = SparkTestSession.scratchDir("pipespec")

  val seed = 42L
  val nConvs = 60L

  // asOf far past every generated ts so the cutoff keeps everything.
  val farFuture = new Timestamp(Synth.baseEpochMs + 365L * 86400000L)

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
  }

  test("synth is deterministic and parallelism-invariant") {
    val a = Synth.genConversation(seed, 0L)
    val b = Synth.genConversation(seed, 0L)
    assert(a == b)
    val t8 = Synth.turns(spark, seed, 20L).collect().sortBy(t => (t.conv_id, t.turn_idx))
    val t1 = (0L until 20L).flatMap(Synth.genConversation(seed, _))
      .sortBy(t => (t.conv_id, t.turn_idx))
    assert(t8.toSeq == t1)
  }

  test("synth exercises every parse path") {
    val ts = Synth.turns(spark, seed, 100L).cache()
    val parsed = Parse.parseColumns(ts.toDF())
    val byKind = parsed.select(
      sum(when(col("parse_ok"), 1).otherwise(0)).as("ok"),
      sum(when(col("is_header"), 1).otherwise(0)).as("hdr"),
      sum(when(col("is_continuation"), 1).otherwise(0)).as("cont"),
      sum(when(!col("parse_ok") && !col("is_header") && !col("is_continuation"), 1)
        .otherwise(0)).as("garbage"),
      sum(when(size(col("tool_calls")) > 0, 1).otherwise(0)).as("tools")
    ).head()
    assert(byKind.getLong(0) > 0, "grok-conformant lines")
    assert(byKind.getLong(1) > 0, "header lines")
    assert(byKind.getLong(2) > 0, "continuation lines")
    assert(byKind.getLong(3) > 0, "dead-letter lines")
    assert(byKind.getLong(4) > 0, "tool-call markers")
    ts.unpersist()
  }

  test("typed mapPartitions parse == column parse") {
    val ts = Synth.turns(spark, seed, 30L)
    val typed = Parse.parseTyped(ts)
      .select($"conv_id", $"turn_idx", $"level", $"body",
        $"tool_calls", $"header_version", $"is_continuation")
    val cols = Parse.parseColumns(ts.toDF())
      .select($"conv_id", $"turn_idx", $"level", $"body",
        $"tool_calls", $"header_version", $"is_continuation")
    assert(typed.exceptAll(cols).isEmpty && cols.exceptAll(typed.toDF()).isEmpty)
  }

  test("chunked header propagation == naive full-conversation window") {
    val parsed = Parse.parseColumns(Synth.turns(spark, seed, 50L).toDF())
    // tiny chunk size forces the multi-chunk carry-in path
    val chunked = PrefixOps.scanMany(parsed,
        Seq(col("header_version") -> "header"), None, chunkSize = 4)
      .select($"conv_id", $"turn_idx", $"header")
    val w = Window.partitionBy($"conv_id").orderBy($"turn_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = parsed
      .withColumn("header", last($"header_version", ignoreNulls = true).over(w))
      .select($"conv_id", $"turn_idx", $"header")
    assert(chunked.exceptAll(naive).isEmpty && naive.exceptAll(chunked).isEmpty)
  }

  test("chunked sessionization == naive running sum; merge flushes trailing session") {
    val parsed = Parse.parseColumns(Synth.turns(spark, seed, 50L).toDF())
    val sess = PrefixOps.scanMany(parsed, Nil,
      Some(when($"is_continuation", lit(0)).otherwise(lit(1)) -> "session_id"),
      chunkSize = 4)
    val chunked = sess.select($"conv_id", $"turn_idx", $"session_id")
    val w = Window.partitionBy($"conv_id").orderBy($"turn_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = parsed
      .withColumn("session_id",
        sum(when($"is_continuation", 0L).otherwise(1L)).over(w))
      .select($"conv_id", $"turn_idx", $"session_id")
    assert(chunked.exceptAll(naive).isEmpty && naive.exceptAll(chunked).isEmpty)

    // merged logical records: session count == number of non-continuation
    // physical lines (trailing continuation run is flushed, never lost)
    val merged = Parse.mergeSessions(sess)
    val nStarts = parsed.filter(!$"is_continuation").count()
    assert(merged.count() == nStarts)
    assert(merged.agg(sum($"n_lines")).head().getLong(0) == parsed.count())
  }

  test("Pipeline (route-before-scan) == Route(Enrich(Parse)) composition") {
    val ts = Synth.turns(spark, seed, 40L)
    val keep = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts",
      "sink", "actor_class", "tool_category", "header", "session_id")
      .map(col)
    val a = Pipeline(ts, excludePattern = "token", chunkSize = 64)
      .select(keep: _*)
    val b = Route(Enrich(Parse(ts, chunkSize = 64)), excludePattern = "token")
      .select(keep: _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("meta projection: source identity always present, full props only on request (P7); ECS rename is pure (P8)") {
    val ts = Synth.turns(spark, seed, 5L)
    val slim = Pipeline(ts)
    val slimMeta = slim.select($"conv_id", $"meta").head()
    assert(slimMeta.getMap[String, String](1) ==
      Map("source_conv" -> slimMeta.getString(0)))
    val fat = Pipeline(ts, includeObjectProperties = true)
    val fatMeta = fat.filter($"turn_idx" === 1).select($"meta", $"role").head()
    val m = fatMeta.getMap[String, String](0)
    assert(m("role") == fatMeta.getString(1) && m("turn_idx") == "1" &&
      m.contains("ts") && m.contains("source_conv"))
    // ECS rename: same rows, the COMPLETE metadata family renamed
    // (cloudfront version + fields + source props analogs, s3.rb:93-97)
    val ecs = Pipeline.ecsRename(slim, "v1")
    val expectEcs = Pipeline.ecsFieldMap.map(_._2)
    assert(expectEcs.forall(ecs.columns.contains),
      s"v1 must expose ${expectEcs.mkString(",")}, got ${ecs.columns.mkString(",")}")
    assert(Pipeline.ecsFieldMap.map(_._1).forall(c => !ecs.columns.contains(c)),
      "v1 must not leave any legacy name behind")
    assert(ecs.count() == slim.count())
    val legacy = Pipeline.ecsRename(slim, "disabled")
    assert(legacy.columns sameElements slim.columns)
    assert(Pipeline.ecsFieldMap.map(_._1).forall(legacy.columns.contains),
      "disabled keeps every legacy flat name")
  }

  test("both header families propagate (version AND fields) in one fused scan") {
    val ts0 = new Timestamp(Synth.baseEpochMs)
    val fixture = Seq(
      Turn("c1", 0, "system", "#Version: 1.0", null, ts0),
      Turn("c1", 1, "system", "#Fields: date time x-edge", null, ts0),
      Turn("c1", 2, "user", "2025-01-01T00:00:00Z INFO [user] one", null, ts0),
      Turn("c1", 3, "user", "2025-01-01T00:00:01Z INFO [user] two", null, ts0)
    ).toDS()
    val out = Pipeline(fixture).filter($"sink" =!= "consumed")
      .orderBy($"turn_idx")
      .select($"header", $"header_fields_carried").collect()
    assert(out.length == 2)
    assert(out.forall(r => r.getString(0) == "1.0" &&
      r.getString(1) == "date time x-edge"),
      s"both families must stamp data rows, got ${out.mkString(";")}")
  }

  test("salted repartition spreads a hot conversation across partitions") {
    import org.apache.spark.sql.functions.{hash => fhash}
    // conv 0 is hot (2000+ turns, Synth.convSize)
    val routed = Pipeline(Synth.turns(spark, seed, 3L))
    val salted = routed
      .repartition(8, col("conv_id"), pmod(fhash(col("turn_idx")), lit(8)))
      .withColumn("pid", spark_partition_id())
    val hot = salted.filter($"conv_id" === "conv-00000000")
    val spread = hot.select($"pid").distinct().count()
    assert(spread > 1, s"hot conversation must span >1 partition, got $spread")
    // and the per-partition secondary sort restores (conv, turn_idx) order
    val sorted = salted.sortWithinPartitions($"conv_id", $"turn_idx")
      .mapPartitions { it =>
        var ok = true
        var prev: (String, Int) = null
        it.foreach { r =>
          val cur = (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))
          if (prev != null && (prev._1 > cur._1 ||
            (prev._1 == cur._1 && prev._2 >= cur._2))) ok = false
          prev = cur
        }
        Iterator.single(ok)
      }(org.apache.spark.sql.Encoders.scalaBoolean)
    assert(sorted.collect().forall(identity))
  }

  // Reference for the fused-scan tests: every carried column as a naive
  // last(ignoreNulls) window, the session id as a naive running sum.
  private def naiveScan(parsed: DataFrame, carried: Seq[(String, String)],
      ind: Column, sumOut: String): DataFrame = {
    val w = Window.partitionBy($"conv_id").orderBy($"turn_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carried
      .foldLeft(parsed) { case (acc, (in, out)) =>
        acc.withColumn(out, last(col(in), ignoreNulls = true).over(w))
      }
      .withColumn(sumOut, sum(ind.cast("long")).over(w))
  }

  test("scanMany (2 carried columns) == two sequential propagates + prefixSum") {
    val parsed = Parse.parseColumns(Synth.turns(spark, seed, 40L).toDF())
    val ind = when(col("is_continuation"), lit(0)).otherwise(lit(1))
    val outs = Seq($"conv_id", $"turn_idx", $"hv", $"hf", $"sid")
    val fused = PrefixOps.scanMany(parsed,
        Seq(col("header_version") -> "hv", col("header_fields") -> "hf"),
        Some(ind -> "sid"), chunkSize = 4)
      .select(outs: _*)
    // the same scan run one column at a time: two last-only passes, then
    // a sum-only pass
    val sequential = PrefixOps.scanMany(
        PrefixOps.scanMany(
          PrefixOps.scanMany(parsed, Seq(col("header_version") -> "hv"), None, 4),
          Seq(col("header_fields") -> "hf"), None, 4),
        Nil, Some(ind -> "sid"), 4)
      .select(outs: _*)
    val naive = naiveScan(parsed,
        Seq("header_version" -> "hv", "header_fields" -> "hf"), ind, "sid")
      .select(outs: _*)
    assert(fused.exceptAll(sequential).isEmpty &&
      sequential.exceptAll(fused).isEmpty)
    assert(fused.exceptAll(naive).isEmpty && naive.exceptAll(fused).isEmpty)
  }

  test("fused scanBoth == sequential propagate + sessionize") {
    val parsed = Parse.parseColumns(Synth.turns(spark, seed, 50L).toDF())
    val ind = when($"is_continuation", lit(0)).otherwise(lit(1))
    val outs = Seq($"conv_id", $"turn_idx", $"header", $"session_id")
    // one carried column plus the session sum in one scan, as Parse does
    val fused = PrefixOps.scanMany(parsed,
        Seq(col("header_version") -> "header"), Some(ind -> "session_id"),
        chunkSize = 4)
      .select(outs: _*)
    val sequential = PrefixOps.scanMany(
        PrefixOps.scanMany(parsed, Seq(col("header_version") -> "header"), None, 4),
        Nil, Some(ind -> "session_id"), 4)
      .select(outs: _*)
    val naive = naiveScan(parsed, Seq("header_version" -> "header"), ind,
        "session_id")
      .select(outs: _*)
    assert(fused.exceptAll(sequential).isEmpty &&
      sequential.exceptAll(fused).isEmpty)
    assert(fused.exceptAll(naive).isEmpty && naive.exceptAll(fused).isEmpty)
  }

  test("multiline merge golden case: 4 physical lines -> 2 logical records") {
    val ts0 = new Timestamp(Synth.baseEpochMs)
    val fixture = Seq(
      Turn("c1", 0, "user", "2025-01-01T00:00:00Z INFO [user] first line", null, ts0),
      Turn("c1", 1, "user", "   continuation of first", null, ts0),
      Turn("c1", 2, "assistant", "2025-01-01T00:00:02Z INFO [assistant] second line", null, ts0),
      Turn("c1", 3, "assistant", "   trailing continuation (EOF flush)", null, ts0)
    ).toDS()
    val merged = Parse.mergeSessions(Parse(fixture))
      .orderBy($"turn_idx").collect()
    assert(merged.length == 2)
    assert(merged(0).getAs[String]("merged_text") ==
      "2025-01-01T00:00:00Z INFO [user] first line\n   continuation of first")
    assert(merged(1).getAs[String]("merged_text") ==
      "2025-01-01T00:00:02Z INFO [assistant] second line\n   trailing continuation (EOF flush)")
  }

  test("configurable multiline codec reproduces the reference fixture " +
      "(pattern=__SEPARATOR__, negate=true, what=previous -> 2 events)") {
    // spec/fixtures/multiline.log verbatim, spec:479-491 config
    val ts0 = new Timestamp(Synth.baseEpochMs)
    val lines = Seq(
      "__SEPARATOR__",
      "file:1 record:1 line:1",
      "file:1 record:1 line:2",
      "__SEPARATOR__",
      "file:1 record:2 line:1",
      "file:1 record:2 line:2")
    val fixture = lines.zipWithIndex
      .map { case (l, i) => Turn("f1", i, "user", l, null, ts0) }.toDS()
    val merged = Parse.mergeSessions(Parse.sessionizeConfigured(
        fixture.toDF(), Parse.MultilineConfig("__SEPARATOR__",
          negate = true, what = "previous"), chunkSize = 2))
      .orderBy($"turn_idx").collect()
    assert(merged.length == 2, s"expected 2 events, got ${merged.length}")
    assert(merged(0).getAs[String]("merged_text") ==
      "__SEPARATOR__\nfile:1 record:1 line:1\nfile:1 record:1 line:2")
    assert(merged(1).getAs[String]("merged_text") ==
      "__SEPARATOR__\nfile:1 record:2 line:1\nfile:1 record:2 line:2")
  }

  test("multiline what=next: matching line glues to the FOLLOWING line") {
    // classic shell-style continuation: a trailing backslash joins the
    // next line into the same record
    val ts0 = new Timestamp(Synth.baseEpochMs)
    val lines = Seq("cmd one \\", "  arg continued", "cmd two", "cmd three \\", "  tail")
    val fixture = lines.zipWithIndex
      .map { case (l, i) => Turn("f1", i, "user", l, null, ts0) }.toDS()
    val merged = Parse.mergeSessions(Parse.sessionizeConfigured(
        fixture.toDF(), Parse.MultilineConfig("\\\\$", negate = false,
          what = "next"), chunkSize = 2))
      .orderBy($"turn_idx")
      .collect().map(_.getAs[String]("merged_text")).toSeq
    assert(merged == Seq(
      "cmd one \\\n  arg continued", "cmd two", "cmd three \\\n  tail"))
  }

  test("sessionizeConfigured(^\\s+, previous) == the built-in sessionize") {
    // the built-in one: the parse stage's scan over `is_continuation`
    val ts = Synth.turns(spark, seed, 30L)
    val parsed = Parse.parseColumns(ts.toDF())
    val builtin = Parse(ts, chunkSize = 4)
      .select($"conv_id", $"turn_idx", $"session_id")
    val configured = Parse.sessionizeConfigured(parsed,
        Parse.MultilineConfig("^\\s+"), chunkSize = 4)
      .select($"conv_id", $"turn_idx", $"session_id")
    assert(builtin.exceptAll(configured).isEmpty &&
      configured.exceptAll(builtin).isEmpty)
  }

  test("JSON codec mode: field promotion, corrupt routing, non-string " +
      "message passthrough (json.log / json_with_message.log analogs)") {
    import org.apache.spark.sql.types._
    val ts0 = new Timestamp(Synth.baseEpochMs)
    val fixture = Seq(
      // json.log analog: plain objects, no message field
      Turn("j1", 0, "user", """{ "hello": "world" }""", null, ts0),
      Turn("j1", 1, "user", """{ "hello": "awesome world" }""", null, ts0),
      // json_with_message.log analog: message is an ARRAY / a BOOLEAN
      Turn("j1", 2, "user", """{ "message": ["GET", 32, "/health"] }""", null, ts0),
      Turn("j1", 3, "user", """{ "message": true }""", null, ts0),
      // a string message decodes normally
      Turn("j1", 4, "user", """{ "message": "plain", "hello": "hi" }""", null, ts0),
      // corrupt line -> json_ok=false, never a crash
      Turn("j1", 5, "user", """{ "hello": broken""", null, ts0)
    ).toDS()
    val fields = StructType(Seq(
      StructField("hello", StringType), StructField("message", StringType)))
    val out = Parse.parseJsonColumns(fixture.toDF(), fields)
      .orderBy($"turn_idx")
      .select($"json_ok", $"json_hello", $"json_message")
      .collect()
    assert(out.map(_.getBoolean(0)).toSeq ==
      Seq(true, true, true, true, true, false))
    assert(out(0).getString(1) == "world" && out(1).getString(1) == "awesome world")
    // the reference's passthrough rule: non-string message survives as
    // raw JSON text (spec:429-441), not a null
    assert(out(2).getString(2) == """["GET",32,"/health"]""")
    assert(out(3).getString(2) == "true")
    assert(out(4).getString(2) == "plain")
    assert(out(5).getString(1) == null && out(5).getString(2) == null)
    // text byte-equality invariant: decode never rewrites text
    assert(Parse.parseJsonColumns(fixture.toDF(), fields)
      .select($"text").exceptAll(fixture.toDF().select($"text")).isEmpty)
  }

  test("pipeline codec=json: valid events route by role, corrupt to deadletter, " +
      "fields promoted (the reference's codec config, s3.rb:35)") {
    import org.apache.spark.sql.types._
    val ts0 = new Timestamp(Synth.baseEpochMs)
    val fixture = Seq(
      Turn("j1", 0, "user", """{"message": "hi", "level": "INFO"}""", null, ts0),
      Turn("j1", 1, "assistant", """{"message": ["a", 1], "level": "WARN"}""", null, ts0),
      Turn("j1", 2, "tool", """{"broken""", "search", ts0),
      Turn("j1", 3, "user", """{"message": "bye"}""", null, ts0)
    ).toDS()
    val out = Pipeline(fixture,
      codec = Pipeline.JsonCodec(StructType(Seq(
        StructField("message", StringType), StructField("level", StringType)))))
    val sinks = out.orderBy($"turn_idx").select($"sink").collect()
      .map(_.getString(0)).toSeq
    assert(sinks == Seq("user", "assistant", "deadletter", "user"))
    val msgs = out.orderBy($"turn_idx").select($"json_message").collect()
      .map(_.getString(0)).toSeq
    assert(msgs == Seq("hi", """["a",1]""", null, "bye"))
    // every event its own record; json rows never open header state
    assert(out.filter($"header".isNotNull).count() == 0)
    assert(out.orderBy($"turn_idx").select($"session_id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("pipeline codec=multiline: config-driven continuation pattern replaces " +
      "the whitespace default, continuations never dead-letter") {
    val ts0 = new Timestamp(Synth.baseEpochMs)
    // stack-trace style: record heads grok-parse, continuations match
    // a custom 'at ...' pattern (NOT leading whitespace)
    val fixture = Seq(
      Turn("m1", 0, "tool", "2025-01-01T00:00:00Z ERROR [tool] boom", "python", ts0),
      Turn("m1", 1, "tool", "at frame one", "python", ts0),
      Turn("m1", 2, "tool", "at frame two", "python", ts0),
      Turn("m1", 3, "tool", "2025-01-01T00:00:03Z INFO [tool] recovered", "python", ts0)
    ).toDS()
    val out = Pipeline(fixture,
      codec = Pipeline.MultilineCodec(Parse.MultilineConfig("^at ")))
      .orderBy($"turn_idx")
      .select($"sink", $"session_id").collect()
    assert(out.map(_.getString(0)).toSeq ==
      Seq("tool", "tool", "tool", "tool"),
      "'at ...' continuations must not dead-letter")
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 1L, 1L, 2L),
      "custom pattern groups the trace into the head's record")
    // same fixture under the DEFAULT codec: 'at ...' lines are garbage
    val dflt = Pipeline(fixture).orderBy($"turn_idx")
      .select($"sink").collect().map(_.getString(0)).toSeq
    assert(dflt == Seq("tool", "deadletter", "deadletter", "tool"))

    // what=next: a trailing-backslash line glues the FOLLOWING line into
    // its record, so the glued line continues (never dead-letters) while
    // the garbage after a non-matching line still does. Chunk size 1
    // puts every lag across a chunk boundary.
    val next = Seq(
      Turn("m2", 0, "user", "2025-01-01T00:00:00Z INFO [user] run cmd \\", null, ts0),
      Turn("m2", 1, "user", "--flag value", null, ts0),
      Turn("m2", 2, "user", "2025-01-01T00:00:02Z INFO [user] done", null, ts0),
      Turn("m2", 3, "user", "@@garbage", null, ts0)
    ).toDS()
    for (chunk <- Seq(4096, 1)) {
      val got = Pipeline(next, chunkSize = chunk,
          codec = Pipeline.MultilineCodec(Parse.MultilineConfig("\\\\$",
            what = "next")))
        .orderBy($"turn_idx")
        .select($"sink", $"session_id", $"is_continuation").collect()
      assert(got.map(_.getString(0)).toSeq ==
        Seq("user", "user", "user", "deadletter"), s"chunk=$chunk")
      assert(got.map(_.getLong(1)).toSeq == Seq(1L, 1L, 2L, 3L),
        s"chunk=$chunk")
      assert(got.map(_.getBoolean(2)).toSeq == Seq(false, true, false, false),
        s"chunk=$chunk")
    }
    assert(Pipeline(next).orderBy($"turn_idx").select($"sink").collect()
      .map(_.getString(0)).toSeq == Seq("user", "deadletter", "user",
        "deadletter"), "the glued line dead-letters under the default codec")
  }

  test("header golden case: headers consumed, version stamped on subsequent turns") {
    val ts0 = new Timestamp(Synth.baseEpochMs)
    // cloudfront.log analog: #Version + #Fields headers then 2 data rows
    val fixture = Seq(
      Turn("c1", 0, "system", "#Version: 1.0", null, ts0),
      Turn("c1", 1, "system", "#Fields: date time", null, ts0),
      Turn("c1", 2, "user", "2025-01-01T00:00:00Z INFO [user] data row one", null, ts0),
      Turn("c1", 3, "user", "2025-01-01T00:00:01Z INFO [user] data row two", null, ts0)
    ).toDS()
    val routed = Route(Enrich(Parse(fixture)))
    val out = routed.filter($"sink" =!= "consumed")
      .select($"turn_idx", $"header").orderBy($"turn_idx").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(2, 3))
    assert(out.forall(_.getString(1) == "1.0"))
    assert(routed.filter($"sink" === "consumed").count() == 2)
  }

  test("routing is a total partition of the parsed input") {
    val ts = Synth.turns(spark, seed, nConvs)
    val routed = Route(Enrich(Parse(ts)), excludePattern = "token").cache()
    val n = ts.count()
    assert(routed.count() == n, "no row loss through parse/enrich/route")
    val perSink = routed.groupBy($"sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSink.values.sum == n)
    assert(perSink.keySet.subsetOf(Route.sinkNames.toSet))
    assert(perSink.getOrElse("excluded", 0L) > 0, "exclude pattern fired")
    assert(perSink.getOrElse("deadletter", 0L) > 0, "dead-letter path fired")
    // set equality: union of sinks == input (by key + text)
    val union = routed.select($"conv_id", $"turn_idx", $"text")
    val input = ts.toDF().select($"conv_id", $"turn_idx", $"text")
    assert(union.exceptAll(input).isEmpty && input.exceptAll(union).isEmpty)
    routed.unpersist()
  }

  test("end-to-end cycle + resume: delta pickup, no-op rerun, crash idempotence") {
    val inputPath = s"$scratch/input"
    val sinkRoot = s"$scratch/sinks"
    val n1 = Synth.writeTable(spark, inputPath, seed, 40L)
    val cfg = PipelineConfig(inputPath, sinkRoot, excludePattern = "",
      chunkSize = 64)

    // cycle 1: processes everything
    val r1 = Main.runCycle(spark, cfg, farFuture)
    assert(r1.rowsProcessed == n1)
    val published1 = Route.sinkNames
      .map(s => Sinks.readSink(spark, sinkRoot, s).count()).sum
    assert(published1 == n1, "published committed rows == input")

    // cycle 2 with no new data: a strict no-op
    val r2 = Main.runCycle(spark, cfg, farFuture)
    assert(r2.rowsProcessed == 0L)

    // append a new snapshot (20 more conversations, later ts per conv ids)
    val extra = Synth.turns(spark, seed + 1, 10L)
      .withColumn("ts2",
        (col("ts").cast("long") + 400L * 86400L).cast("timestamp"))
      .drop("ts").withColumnRenamed("ts2", "ts")
      .select($"conv_id", $"turn_idx", $"role", $"text", $"tool", $"ts")
      .withColumn("conv_id", concat(lit("x-"), $"conv_id"))
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
    val nExtra = extra.count()
    extra.write.mode("append").partitionBy("day").parquet(inputPath)

    val farFuture2 = new Timestamp(farFuture.getTime + 500L * 86400000L)
    val r3 = Main.runCycle(spark, cfg, farFuture2)
    assert(r3.rowsProcessed == nExtra, "only the delta is reprocessed")
    val publishedAll = Route.sinkNames
      .map(s => Sinks.readSink(spark, sinkRoot, s).count()).sum
    assert(publishedAll == n1 + nExtra)

    // crash simulation: publish happened but lineage commit didn't.
    // Readers must not see the orphan; the re-run must be idempotent.
    val wms = Lineage.watermarks(spark, sinkRoot)
    // `more` rows land ~900-960 days after base; asOf3 must be beyond them
    val asOf3 = new Timestamp(Synth.baseEpochMs + 2000L * 86400000L)
    val more = Synth.turns(spark, seed + 2, 5L)
      .withColumn("ts2",
        (col("ts").cast("long") + 900L * 86400L).cast("timestamp"))
      .drop("ts").withColumnRenamed("ts2", "ts")
      .select($"conv_id", $"turn_idx", $"role", $"text", $"tool", $"ts")
      .withColumn("conv_id", concat(lit("y-"), $"conv_id"))
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
    val nMore = more.count()
    more.write.mode("append").partitionBy("day").parquet(inputPath)

    // partial run: staged write + publish, NO lineage commit (the crash)
    val batchId = Lineage.batchId(asOf3, wms, Lineage.checkpointId(cfg))
    val delta = Discover.delta(spark, cfg, asOf3, wms)
    val routed = Route(Enrich(Parse(delta.as[Turn], cfg.chunkSize)),
      cfg.excludePattern)
    Sinks.writeStaged(routed, sinkRoot, batchId, cfg.saltBuckets)
    Sinks.publish(spark, sinkRoot, batchId)
    // orphan batch is invisible to committed readers
    val visible = Route.sinkNames
      .map(s => Sinks.readSink(spark, sinkRoot, s).count()).sum
    assert(visible == n1 + nExtra, "uncommitted publish is invisible")

    // re-run (same asOf -> same batch id): republish idempotently + commit
    val r4 = Main.runCycle(spark, cfg, asOf3)
    assert(r4.batchId == batchId, "batch id is a pure function of state")
    assert(r4.rowsProcessed == nMore)
    val finalCount = Route.sinkNames
      .map(s => Sinks.readSink(spark, sinkRoot, s).count()).sum
    assert(finalCount == n1 + nExtra + nMore, "no duplicates after crash re-run")

    // per-turn text byte-equality under stable (conv_id, turn_idx) order
    val roundTrip = Route.sinkNames
      .map(s => Sinks.readSink(spark, sinkRoot, s)
        .select($"conv_id", $"turn_idx", $"text"))
      .reduce(_ unionByName _)
    val source = spark.read.parquet(inputPath)
      .select($"conv_id", $"turn_idx", $"text")
    assert(roundTrip.exceptAll(source).isEmpty &&
      source.exceptAll(roundTrip).isEmpty)
  }

  test("cutoff defers too-fresh rows to the next cycle (spec:559-584 analog)") {
    val inputPath = s"$scratch/cutoff_in"
    val sinkRoot = s"$scratch/cutoff_sinks"
    Synth.writeTable(spark, inputPath, seed, 5L)
    val cfg = PipelineConfig(inputPath, sinkRoot, cutoffSeconds = 3)
    val maxTs = spark.read.parquet(inputPath)
      .agg(max($"ts")).head().getTimestamp(0)

    // asOf such that the newest row is inside the cutoff window
    val asOf1 = new Timestamp(maxTs.getTime + 1000L) // 1s after newest
    val r1 = Main.runCycle(spark, cfg, asOf1)
    val total = spark.read.parquet(inputPath).count()
    assert(r1.rowsProcessed < total, "rows within cutoff are deferred")
    assert(r1.rowsProcessed ==
      spark.read.parquet(inputPath)
        .filter($"ts" <= new Timestamp(asOf1.getTime - 3000L)).count())

    // next cycle picks up exactly the deferred remainder
    val asOf2 = new Timestamp(maxTs.getTime + 10000L)
    val r2 = Main.runCycle(spark, cfg, asOf2)
    assert(r1.rowsProcessed + r2.rowsProcessed == total)
  }

  test("snapshot-pinned discovery: files appended mid-cycle are invisible " +
      "to every action on the pinned delta (mtime-recheck analog, s3.rb:383-390)") {
    val inputPath = s"$scratch/snap_in"
    val n1 = Synth.writeTable(spark, inputPath, seed, 8L)
    val cfg = PipelineConfig(inputPath, s"$scratch/snap_sinks")
    val delta = Discover.delta(spark, cfg, farFuture, Map.empty) // pin here
    assert(delta.count() == n1)

    // append files INTO THE SAME day partitions after the pin — the
    // worst case: an unpinned scan would re-list and double-count these
    // on any recompute (cache eviction, second action)
    val extra = Synth.turns(spark, seed + 9, 4L).toDF()
      .withColumn("conv_id", concat(lit("z-"), $"conv_id"))
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
    val nExtra = extra.count()
    extra.write.mode("append").partitionBy("day").parquet(inputPath)

    // every further action on the SAME delta reads the pinned file list
    assert(delta.count() == n1, "appended files must be invisible mid-cycle")
    assert(delta.groupBy($"day").count().agg(sum($"count")).head().getLong(0) == n1)

    // the NEXT cycle's pin sees old + new exactly once
    val delta2 = Discover.delta(spark, cfg, farFuture, Map.empty)
    assert(delta2.count() == n1 + nExtra)

    // in-flight committer files (_temporary at ANY depth) are invisible:
    // a parquet part under _temporary is exactly the half-written state a
    // concurrent writer exposes mid-commit
    val tmpDir = new java.io.File(
      s"$inputPath/_temporary/0/task_x/day=2025-01-01")
    tmpDir.mkdirs()
    val anyPart = new java.io.File(inputPath).listFiles()
      .filter(_.getName.startsWith("day=")).head.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(anyPart.toPath,
      new java.io.File(tmpDir, "part-inflight.parquet").toPath)
    val delta3 = Discover.delta(spark, cfg, farFuture, Map.empty)
    assert(delta3.count() == n1 + nExtra,
      "files under _temporary must not enter the pinned snapshot")
  }

  test("empty/missing lineage reads as epoch watermark (sincedb_spec analog)") {
    assert(Lineage.watermarks(spark, s"$scratch/nonexistent").isEmpty)
    val df = Lineage.readAt(spark, Lineage.path(s"$scratch/nonexistent"))
    assert(df.isEmpty)
  }

  test("error resilience: a missing/empty input table yields 0 events, no " +
      "crash (AccessDenied/NoSuchKey analog, spec:341-395)") {
    val cfg = PipelineConfig(s"$scratch/does_not_exist", s"$scratch/er_sinks")
    val r = Main.runCycle(spark, cfg, farFuture)
    assert(r.rowsProcessed == 0L && r.publishedSinks.isEmpty)
    // an existing-but-empty dir behaves the same
    new java.io.File(s"$scratch/empty_in").mkdirs()
    val r2 = Main.runCycle(spark,
      PipelineConfig(s"$scratch/empty_in", s"$scratch/er_sinks"), farFuture)
    assert(r2.rowsProcessed == 0L)
  }

  test("temp hygiene: staging dir removed after publish (spec:335-338 analog)") {
    val inputPath = s"$scratch/hyg_in"
    val sinkRoot = s"$scratch/hyg_sinks"
    Synth.writeTable(spark, inputPath, seed, 5L)
    val r = Main.runCycle(spark, PipelineConfig(inputPath, sinkRoot), farFuture)
    assert(r.rowsProcessed > 0)
    val staging = new java.io.File(s"$sinkRoot/_staging")
    assert(!staging.exists() || staging.listFiles().isEmpty,
      "no staged leftovers after a successful publish")
  }

  test("archive-prefix rows are never re-discovered (self-backup guard, s3.rb:365)") {
    val inputPath = s"$scratch/arch_in"
    Synth.writeTable(spark, inputPath, seed, 5L)
    // simulate re-ingested archive rows: same data under the archive prefix
    val archived = spark.read.parquet(inputPath)
      .withColumn("conv_id", concat(lit("archived/"), $"conv_id"))
    archived.write.mode("append").partitionBy("day").parquet(inputPath)
    val cfg = PipelineConfig(inputPath, s"$scratch/arch_sinks")
    val delta = Discover.delta(spark, cfg, farFuture, Map.empty)
    assert(delta.filter($"conv_id".startsWith("archived/")).count() == 0)
    assert(delta.count() * 2 == spark.read.parquet(inputPath).count())
  }

  test("custom routing rules slot between built-ins and role fallback; still a total partition") {
    val ts = Synth.turns(spark, seed, 30L)
    val rules = Seq(
      (col("tool") === "python", "code_tools"),
      (col("level") === "ERROR", "errors"))
    val routed = Route(Parse(ts), excludePattern = "token", customRules = rules)
    assert(routed.count() == ts.count(), "total function: no row loss")
    val sinks = routed.groupBy($"sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sinks.contains("code_tools") && sinks.contains("errors"))
    // precedence: headers/deadletter/excluded still win over custom rules
    assert(routed.filter($"is_header" && $"sink" =!= "consumed").count() == 0)
    assert(routed.filter($"sink" === "code_tools" && $"tool" =!= "python").count() == 0)
  }

  test("lineage compaction keeps history equal and read O(1) after many commits") {
    val root = s"$scratch/compact_sinks"
    val now = new Timestamp(0L)
    (1 to 80).foreach { i =>
      Lineage.commitAt(spark, Lineage.path(root), Seq(
        Lineage.Commit(s"b$i", f"2025-01-${i % 28 + 1}%02d",
          new Timestamp(i * 1000L), i.toLong, now)))
    }
    val before = Lineage.readAt(spark, Lineage.path(root))
      .map(_.toString).sorted
    val wmBefore = Lineage.watermarks(spark, root)
    assert(Lineage.compactAt(spark, Lineage.path(root), maxFiles = 16),
      "compaction triggered")
    val p = new org.apache.hadoop.fs.Path(Lineage.path(root))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(p).count(_.getPath.getName.endsWith(".commits")) == 1)
    val after = Lineage.readAt(spark, Lineage.path(root))
      .map(_.toString).sorted
    assert(after.toSeq == before.toSeq, "history identical after compaction")
    assert(Lineage.watermarks(spark, root) == wmBefore)
    assert(!Lineage.compactAt(spark, Lineage.path(root), maxFiles = 16),
      "idempotent no-op below threshold")

    // crash-window simulation: a compaction that died between the
    // compacted-file move-in and the old-file deletes leaves DUPLICATE
    // commit rows. Every lineage read must be idempotent under that
    // (max-per-day watermarks, distinct batch set), and the next
    // compaction converges back to one file.
    val one = fs.listStatus(p).map(_.getPath)
      .find(_.getName.endsWith(".commits")).get
    org.apache.hadoop.fs.FileUtil.copy(fs, one, fs,
      new org.apache.hadoop.fs.Path(p, "dup-leftover.commits"),
      false, spark.sparkContext.hadoopConfiguration)
    assert(Lineage.watermarks(spark, root) == wmBefore,
      "watermarks unchanged under duplicated history")
    assert(Lineage.committedBatches(spark, root) ==
      before.indices.map(i => s"b${i + 1}").toSet,
      "batch set unchanged under duplicated history")
    assert(Lineage.compactAt(spark, Lineage.path(root), maxFiles = 1),
      "re-compaction converges")
    assert(fs.listStatus(p).count(_.getPath.getName.endsWith(".commits")) == 1)
    assert(Lineage.watermarks(spark, root) == wmBefore)
  }

  test("lineage store: a microsecond last_ts and odd strings round-trip " +
      "exactly, so the batch id and the watermark filter see the commit") {
    val dir = s"$scratch/lin_micros"
    val wm = Timestamp.from(java.time.Instant.parse("2025-01-01T10:00:00.123456Z"))
    val cs = Seq(Lineage.Commit("b1", "2025-01-01", wm, 3L, Lineage.epoch),
      Lineage.Commit("-", "a b-c%+\u00e9", Lineage.epoch, 0L, null),
      Lineage.Commit("", null, Lineage.epoch, 1L, wm))
    Lineage.commitAt(spark, dir, cs)
    assert(Lineage.readAt(spark, dir) == cs)
    val wms = Lineage.stateAt(spark, dir)._1.filter(_._1 == "2025-01-01")
    assert(wms("2025-01-01").getNanos == 123456000)
    assert(Lineage.batchId(farFuture, wms) ==
      Lineage.batchId(farFuture, Map("2025-01-01" -> wm)))
    val above = Timestamp.from(wm.toInstant.plusNanos(1000L))
    val rows = Seq((wm, "2025-01-01"), (above, "2025-01-01")).toDF("ts", "day")
    assert(rows.filter(Discover.watermarkPredicate(wms))
      .select($"ts").as[Timestamp].collect().toSeq == Seq(above),
      "only the row 1 microsecond above the watermark passes")
  }

  test("lineage store: a visible commit file with a bad footer fails the " +
      "read and names the file; a hidden in-flight file is ignored") {
    val dir = new java.io.File(s"$scratch/lin_footer")
    Lineage.commitAt(spark, dir.getPath, Seq(Lineage.Commit("b1",
      "2025-01-01", new Timestamp(1000L), 1L, Lineage.epoch)))
    val good = dir.listFiles().filter(_.getName.endsWith(".commits")).head
    val text = java.nio.file.Files.readString(good.toPath)
    java.nio.file.Files.writeString(
      new java.io.File(dir, ".inflight.commits.tmp").toPath,
      text.replace("b1", "b2"))
    assert(Lineage.committedBatchesAt(spark, dir.getPath) == Set("b1"))
    java.nio.file.Files.writeString(
      new java.io.File(dir, "damaged.commits").toPath, text.replace("b1", "b2"))
    val ex = intercept[IllegalStateException](
      Lineage.stateAt(spark, dir.getPath))
    assert(ex.getMessage.contains("damaged.commits"), ex.getMessage)
  }

  test("lineage store: a compaction cut between its append and its " +
      "deletes reads the same state, and the next one converges") {
    val dir = s"$scratch/lin_cutfold"
    (1 to 5).foreach(i => Lineage.commitAt(spark, dir, Seq(Lineage.Commit(
      s"b$i", s"2025-01-0${i % 3 + 1}", new Timestamp(i * 1000L), i.toLong,
      new Timestamp(i * 2000L)))))
    val state = Lineage.stateAt(spark, dir)
    // the fold's append, with none of its deletes
    Lineage.commitAt(spark, dir, Lineage.readAt(spark, dir))
    assert(Lineage.stateAt(spark, dir) == state)
    assert(Lineage.compactAt(spark, dir, maxFiles = 1))
    assert(new java.io.File(dir).list().count(_.endsWith(".commits")) == 1)
    assert(Lineage.readAt(spark, dir).length == 10, "duplicates kept as rows")
    assert(Lineage.stateAt(spark, dir) == state)
  }

  test("enrich: left joins preserve rows; unmapped tool -> null category") {
    val ts = Synth.turns(spark, seed, nConvs)
    val enriched = Enrich(Parse(ts))
    assert(enriched.count() == ts.count())
    val mystery = enriched.filter($"tool" === "mystery_tool")
    assert(mystery.count() > 0)
    assert(mystery.filter($"tool_category".isNotNull).count() == 0)
    assert(enriched.filter($"actor_class".isNull).count() == 0)
    // the lookups keep the two left joins' column order
    val rest = ts.toDF().columns.filterNot(Set("tool", "role"))
    assert(Enrich(ts.toDF()).columns.toSeq ==
      Seq("tool", "role") ++ rest ++ Seq("actor_class", "tool_category"))
    // an unmapped or null key gives null under either ANSI setting
    val odd = Seq(("x", "mystery_tool"), (null: String, null: String))
      .toDF("role", "tool")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try Seq("true", "false").foreach { on =>
      spark.conf.set("spark.sql.ansi.enabled", on)
      assert(Enrich(odd).select($"actor_class", $"tool_category").collect()
        .forall(r => r.isNullAt(0) && r.isNullAt(1)), s"ansi=$on")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("S6 Glacier eligibility as a pipeline discovery predicate " +
      "(file_restored? analog, s3.rb:155-156, 428-444)") {
    val inputPath = s"$scratch/s6_in"
    val ts0 = new Timestamp(Synth.baseEpochMs)
    val asOf = new Timestamp(Synth.baseEpochMs + 86400000L) // +1 day
    def hdr(ongoing: String, expiry: String) =
      s"""ongoing-request="$ongoing", expiry-date="$expiry""""
    val future = "2026-12-31 00:00:00"
    val past = "2020-01-01 00:00:00"
    val rows = Seq(
      // (conv, storage_class, restore header, expected-eligible)
      ("warm", "STANDARD", null, true),
      ("warm-null-class", null, null, true),
      ("cold-unrestored", "GLACIER", null, false),
      ("cold-inflight", "GLACIER", hdr("true", future), false),
      ("cold-restored", "GLACIER", hdr("false", future), true),
      ("cold-expired", "GLACIER", hdr("false", past), false),
      ("deep-unrestored", "DEEP_ARCHIVE", null, false),
      ("deep-restored", "DEEP_ARCHIVE", hdr("false", future), true),
      // the reference's regex tolerates spaces around `=` and single
      // quotes (s3.rb:431), and Ruby DateTime.parse accepts the
      // AWS-native HTTP-date expiry — all must classify identically
      ("cold-squote-spaces", "GLACIER",
        s"ongoing-request = 'false', expiry-date = '$future'", true),
      ("cold-http-date", "GLACIER",
        hdr("false", "Fri, 31 Dec 2027 00:00:00 GMT"), true),
      ("cold-http-expired", "GLACIER",
        hdr("false", "Wed, 01 Jan 2020 00:00:00 GMT"), false),
      ("cold-garbage-expiry", "GLACIER", hdr("false", "soon-ish"), false))
    rows.zipWithIndex.map { case ((c, sc, rh, _), i) =>
      (c, i, "user", s"2025-01-01T00:00:0${i % 10}Z INFO [user] line $i",
        null: String, ts0, sc, rh, "2025-01-01")
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts",
        "storage_class", "restore_hdr", "day")
      .write.mode("overwrite").partitionBy("day").parquet(inputPath)

    val cfg = PipelineConfig(inputPath, s"$scratch/s6_sinks",
      storageClassCol = "storage_class", restoreHeaderCol = "restore_hdr")
    val got = Discover.delta(spark, cfg, asOf, Map.empty)
      .select($"conv_id").collect().map(_.getString(0)).toSet
    val want = rows.filter(_._4).map(_._1).toSet
    assert(got == want, s"eligible set mismatch: got=$got want=$want")

    // no storage-class config -> every row eligible (the default path)
    val cfgOff = cfg.copy(storageClassCol = null, restoreHeaderCol = null)
    assert(Discover.delta(spark, cfgOff, asOf, Map.empty).count() ==
      rows.size)

    // storage class configured but no restore-header column: cold rows
    // are NEVER eligible (no restore metadata to consult)
    val cfgNoHdr = cfg.copy(restoreHeaderCol = null)
    val gotNoHdr = Discover.delta(spark, cfgNoHdr, asOf, Map.empty)
      .select($"conv_id").collect().map(_.getString(0)).toSet
    assert(gotNoHdr == rows.filter(r => r._2 == null || r._2 == "STANDARD")
      .map(_._1).toSet)
  }

  test("explicit archive op: backup prefix stamped, self-exclusion closes " +
      "the loop, delete mark iff configured (spec:274-322 analog)") {
    val inputPath = s"$scratch/bk_in"
    val sinkRoot = s"$scratch/bk_sinks"
    val n = Synth.writeTable(spark, inputPath, seed, 6L)
    val cfg = PipelineConfig(inputPath, sinkRoot,
      backupAddPrefix = "backup/", archivePrefix = "backup/",
      deleteAfterProcess = true)
    val r = Main.runCycle(spark, cfg, farFuture)
    assert(r.rowsProcessed == n)

    // every archived row carries the prefix; payload columns unchanged
    val archived = spark.read.parquet(s"$sinkRoot/archive/batch=${r.batchId}")
    assert(archived.count() == n)
    assert(archived.filter(!$"conv_id".startsWith("backup/")).count() == 0,
      "backup_add_prefix applied to every archived key")
    val src = spark.read.parquet(inputPath)
      .select($"conv_id", $"turn_idx", $"text")
    val back = archived.select(
      expr("substring(conv_id, 8)").as("conv_id"), $"turn_idx", $"text")
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty,
      "archive is a faithful copy modulo the key prefix")

    // delete-iff-configured: the consumption manifest exists and covers
    // exactly the processed conversations
    val consumed = spark.read.parquet(s"$sinkRoot/_consumed/batch=${r.batchId}")
    assert(consumed.select($"conv_id").distinct().count() ==
      src.select($"conv_id").distinct().count())

    // self-exclusion end-to-end: re-ingesting the archive namespace with
    // the same pipeline config discovers NOTHING (S7c guard on the
    // stamped prefix) — the reference's backup bucket==source bucket
    // warning, made structural
    val reCfg = cfg.copy(inputPath = s"$sinkRoot/archive/batch=${r.batchId}")
    assert(Discover.delta(spark, reCfg, farFuture, Map.empty).count() == 0,
      "archived keys must never be re-discovered")

    // no delete flag -> no manifest
    val cfg2 = PipelineConfig(inputPath, s"$scratch/bk_sinks2",
      backupAddPrefix = "backup/")
    val r2 = Main.runCycle(spark, cfg2, farFuture)
    assert(!new java.io.File(s"$scratch/bk_sinks2/_consumed").exists())
    assert(new java.io.File(
      s"$scratch/bk_sinks2/archive/batch=${r2.batchId}").exists())
  }

  test("archive copy carries the configured S6 metadata columns " +
      "(faithful object copy, s3.rb:169-183)") {
    val inputPath = s"$scratch/bk6_in"
    val sinkRoot = s"$scratch/bk6_sinks"
    val ts0 = new Timestamp(Synth.baseEpochMs)
    Seq(
      ("warm", 0, "user", "2025-01-01T00:00:00Z INFO [user] w",
        null: String, ts0, "STANDARD", null: String, "2025-01-01"),
      ("cold", 1, "user", "2025-01-01T00:00:01Z INFO [user] c",
        null: String, ts0, "GLACIER",
        "ongoing-request=\"false\", expiry-date=\"2099-01-01 00:00:00\"",
        "2025-01-01"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts",
        "storage_class", "restore_hdr", "day")
      .write.mode("overwrite").partitionBy("day").parquet(inputPath)
    val cfg = PipelineConfig(inputPath, sinkRoot,
      storageClassCol = "storage_class", restoreHeaderCol = "restore_hdr",
      backupAddPrefix = "backup/", archivePrefix = "backup/")
    val r = Main.runCycle(spark, cfg, farFuture)
    assert(r.rowsProcessed == 2L)
    val archived = spark.read.parquet(s"$sinkRoot/archive/batch=${r.batchId}")
    assert(Seq("storage_class", "restore_hdr")
      .forall(archived.columns.contains),
      "archive must keep the cold/restore metadata the source row carried")
    val cold = archived.filter($"conv_id" === "backup/cold").head()
    assert(cold.getAs[String]("storage_class") == "GLACIER")
    assert(cold.getAs[String]("restore_hdr").contains("ongoing-request"))
    assert(archived.filter($"conv_id" === "backup/warm").head()
      .getAs[String]("storage_class") == "STANDARD")
  }

  test("lineage keyed by checkpoint identity: two configs sharing a " +
      "sinkRoot advance INDEPENDENT watermarks (sincedb_path + " +
      "MD5(bucket+prefix) analog, s3.rb:337-344)") {
    val inputA = s"$scratch/li_a"
    val inputB = s"$scratch/li_b"
    val sinkRoot = s"$scratch/li_sinks"
    val lin = s"$scratch/li_lineages"
    val nA = Synth.writeTable(spark, inputA, seed, 4L)
    val nB = Synth.writeTable(spark, inputB, seed + 1, 3L)
    val cfgA = PipelineConfig(inputA, sinkRoot, lineagePath = lin)
    val cfgB = PipelineConfig(inputB, sinkRoot, lineagePath = lin)

    val idA = Lineage.checkpointId(cfgA)
    val idB = Lineage.checkpointId(cfgB)
    assert(idA.matches("^[0-9a-f]{32}$") && idB.matches("^[0-9a-f]{32}$"))
    assert(idA != idB, "different discovery identities, different keys")

    val rA = Main.runCycle(spark, cfgA, farFuture)
    assert(rA.rowsProcessed == nA)
    assert(Lineage.stateAt(spark, Lineage.dirFor(cfgA))._1.nonEmpty)
    assert(Lineage.stateAt(spark, Lineage.dirFor(cfgB))._1.isEmpty,
      "pipeline B's watermark must not move when A commits")
    assert(Lineage.watermarks(spark, sinkRoot).isEmpty,
      "default-location lineage untouched when lineagePath is set")

    // B processes its own input in full despite sharing the sinkRoot
    val rB = Main.runCycle(spark, cfgB, farFuture)
    assert(rB.rowsProcessed == nB)
    assert(rB.batchId != rA.batchId,
      "batch ids disjoint across checkpoint identities")

    // both re-runs are no-ops against their OWN watermark
    assert(Main.runCycle(spark, cfgA, farFuture).rowsProcessed == 0L)
    assert(Main.runCycle(spark, cfgB, farFuture).rowsProcessed == 0L)

    // committed readers scoped by lineage location see exactly their
    // pipeline's rows
    val visA = Route.sinkNames.map(s =>
      Sinks.readSink(spark, sinkRoot, s, Lineage.dirFor(cfgA)).count()).sum
    val visB = Route.sinkNames.map(s =>
      Sinks.readSink(spark, sinkRoot, s, Lineage.dirFor(cfgB)).count()).sum
    assert(visA == nA && visB == nB)
  }

  test("committed-day pruning: a day whose watermark reached end-of-day " +
      "is never LISTED, and the delta is unchanged (prefix discipline, " +
      "s3.rb:144)") {
    val inputPath = s"$scratch/cd_in"
    // two explicit day partitions (small-conv Synth stays inside one day)
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    val rows = (0 until 6).map { i =>
      val day = if (i < 3) "2025-03-01" else "2025-03-02"
      ("cd-conv-" + i, 0, "user",
        s"2025-03-01T00:00:0${i}Z INFO [user] row $i", null: String,
        at(s"${day}T0$i:00:00Z"), day)
    }
    rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "day")
      .write.mode("overwrite").partitionBy("day").parquet(inputPath)
    val days = Seq("2025-03-01", "2025-03-02")
    val done = days.head
    val endOfDay = Timestamp.from(java.time.LocalDate.parse(done)
      .plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.minusNanos(1000L))
    val wms = Map(done -> endOfDay)
    assert(Discover.completedDays(wms) == Set(done))
    // a mid-day watermark does NOT complete the day
    val midDay = new Timestamp(endOfDay.getTime - 3600L * 1000L)
    assert(Discover.completedDays(Map(done -> midDay)).isEmpty)

    val all = Discover.listInputFiles(spark, inputPath)
    val pruned = Discover.listInputFiles(spark, inputPath, Set(done))
    assert(pruned.nonEmpty && pruned.size < all.size)
    assert(!pruned.exists(_.contains(s"day=$done")),
      "completed day must not appear in the listing")
    assert(all.filterNot(_.contains(s"day=$done")) == pruned,
      "pruning removes exactly the completed day's files")

    // delta semantics unchanged: with the end-of-day watermark, the
    // delta is every OTHER day's rows (pruned listing == filtered scan)
    val cfg = PipelineConfig(inputPath, s"$scratch/cd_sinks")
    val delta = Discover.delta(spark, cfg, farFuture, wms)
    val expected = spark.read.parquet(inputPath)
      .filter($"day" =!= done).count()
    assert(delta.count() == expected)
    assert(delta.filter($"day" === done).count() == 0)
  }

  test("listInputFiles: relative input path resolves like the absolute one " +
      "(qualification guard — ancestor dirs are not hidden-checked)") {
    val absolute = s"$scratch/rel_in"
    Synth.writeTable(spark, absolute, seed, 3L)
    val relative = absolute.stripPrefix(
      new java.io.File(".").getCanonicalPath + "/")
    assert(!relative.startsWith("/"), s"test needs a relative path, got $relative")
    val viaAbs = Discover.listInputFiles(spark, absolute)
    val viaRel = Discover.listInputFiles(spark, relative)
    assert(viaAbs.nonEmpty)
    assert(viaRel.map(_.split("/rel_in/").last) ==
      viaAbs.map(_.split("/rel_in/").last),
      "relative path must list the same files")
  }

  test("json codec: the bare document `null` is VALID json (json_valid " +
      "semantics), not dead-letter; garbage still is") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val fields = StructType(Seq(StructField("message", StringType)))
    val df = Seq(
      ("a", "null"), ("b", "  null  "), ("c", "nul"), ("d", "NULL"),
      ("e", """{"message":"hi"}"""), ("f", "{broken"),
      ("g", "\tnull\r"), // tab/CR are JSON whitespace -> valid
      ("h", "\u000Bnull") // vertical tab is NOT JSON whitespace
    ).toDF("id", "text")
    val ok = Parse.parseJsonColumns(df, fields)
      .select($"id", $"json_ok").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(ok == Map("a" -> true, "b" -> true, "c" -> false,
      "d" -> false, "e" -> true, "f" -> false, "g" -> true, "h" -> false))
  }

  test("routing precedence: metadata role authoritative for transcript " +
      "rows; parsed grok_role only for placeholder roles (spoof guard)") {
    val ts0 = new Timestamp(Synth.baseEpochMs)
    val spoof = "2025-01-01T00:00:00Z INFO [system] user-authored text"
    val rows = Seq(
      // transcript row: role column wins even when content parses as a
      // DIFFERENT bracketed role
      Turn("t1", 0, "user", spoof, null, ts0),
      // raw-file ingest sentinel: content role is all there is
      Turn("t2", 0, "file", spoof, null, ts0),
      // null role: content role applies
      Turn("t3", 0, null, spoof, null, ts0),
      // placeholder role with unparseable content -> deadletter (not a
      // role sink)
      Turn("t4", 0, "file", "not a grok line", null, ts0))
    val routed = Route(Parse.parseColumns(rows.toDS().toDF()))
    val sinks = routed.select($"conv_id", $"sink").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sinks("t1") == "user", "content must not spoof transcript routing")
    assert(sinks("t2") == "system", "raw-file ingest routes on parsed role")
    assert(sinks("t3") == "system", "null role falls back to parsed role")
    assert(sinks("t4") == "deadletter")
  }

  test("skipped-cold rows land in the per-batch _deferred manifest — " +
      "nothing silently lost past the watermark (improves on s3.rb:152-156)") {
    val inputPath = s"$scratch/def_in"
    val ts0 = new Timestamp(Synth.baseEpochMs)
    val asOf = new Timestamp(Synth.baseEpochMs + 86400000L)
    def hdr(ongoing: String, expiry: String) =
      s"""ongoing-request="$ongoing", expiry-date="$expiry""""
    val rows = Seq(
      ("w1", "STANDARD", null: String, true),
      ("w2", null: String, null: String, true),
      ("c1", "GLACIER", null: String, false),
      ("c2", "GLACIER", hdr("true", "2026-12-31 00:00:00"), false),
      ("c3", "GLACIER", hdr("false", "2026-12-31 00:00:00"), true),
      ("c4", "DEEP_ARCHIVE", hdr("false", "2020-01-01 00:00:00"), false))
    rows.zipWithIndex.map { case ((c, sc, rh, _), i) =>
      (c, 0, "user", s"2025-01-01T00:00:0${i}Z INFO [user] r$i",
        null: String, ts0, sc, rh, "2025-01-01")
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts",
        "storage_class", "restore_hdr", "day")
      .write.mode("overwrite").partitionBy("day").parquet(inputPath)

    val cfg = PipelineConfig(inputPath, s"$scratch/def_sinks",
      storageClassCol = "storage_class", restoreHeaderCol = "restore_hdr")
    val r = Main.runCycle(spark, cfg, asOf)
    assert(r.rowsProcessed == rows.count(_._4))
    val deferred = spark.read
      .parquet(s"${Sinks.deferredDir(cfg.sinkRoot, Lineage.checkpointId(cfg))}/batch=${r.batchId}")
    assert(deferred.select($"conv_id").collect().map(_.getString(0)).toSet ==
      rows.filterNot(_._4).map(_._1).toSet,
      "the manifest holds exactly the ineligible rows")
    // manifest keeps the storage columns for eligibility re-evaluation
    assert(Seq("storage_class", "restore_hdr", "text", "ts")
      .forall(deferred.columns.contains))
    // without S6 config no manifest is written
    val cfg2 = cfg.copy(storageClassCol = null, restoreHeaderCol = null,
      sinkRoot = s"$scratch/def_sinks2")
    val r2 = Main.runCycle(spark, cfg2, asOf)
    assert(!new java.io.File(s"${cfg2.sinkRoot}/_deferred").exists())
    assert(r2.rowsProcessed == rows.size)
  }

  test("day sealing (opt-in): grace-elapsed days commit an end-of-day " +
      "watermark — retroactively too — and drop out of the listing") {
    val inputPath = s"$scratch/seal_in"
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    val rows = (0 until 6).map { i =>
      val day = if (i < 3) "2025-04-01" else "2025-04-02"
      ("sl-" + i, 0, "user", s"2025-04-01T00:00:0${i}Z INFO [user] s$i",
        null: String, at(s"${day}T0$i:00:00Z"), day)
    }
    rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "day")
      .write.mode("overwrite").partitionBy("day").parquet(inputPath)
    val asOf = at("2025-04-10T00:00:00Z")

    // phase 1: sealing DISABLED — watermarks are plain max(ts)
    val cfg = PipelineConfig(inputPath, s"$scratch/seal_sinks")
    val r1 = Main.runCycle(spark, cfg, asOf)
    assert(r1.rowsProcessed == rows.size)
    val wms1 = Lineage.watermarks(spark, cfg.sinkRoot)
    assert(Discover.completedDays(wms1).isEmpty,
      "max(ts) watermarks never complete a day by themselves")

    // phase 2: sealing ENABLED, no new data — the no-data cycle still
    // commits retroactive end-of-day seals and the days stop being listed
    val sealCfg = cfg.copy(sealDaysGraceSeconds = 3600)
    val r2 = Main.runCycle(spark, sealCfg, asOf)
    assert(r2.rowsProcessed == 0L)
    val wms2 = Lineage.watermarks(spark, cfg.sinkRoot)
    assert(Discover.completedDays(wms2) ==
      Set("2025-04-01", "2025-04-02"), s"both days sealed, got $wms2")
    assert(Discover.listInputFiles(spark, inputPath,
      Discover.completedDays(wms2)).isEmpty,
      "sealed days are not LISTED at all")
    // and the next cycle is still a no-op (nothing re-processed)
    assert(Main.runCycle(spark, sealCfg, asOf).rowsProcessed == 0L)

    // a day still inside its grace window is NOT sealed
    val inGrace = cfg.copy(sealDaysGraceSeconds = 30 * 86400)
    val wmsBefore = Lineage.watermarks(spark, cfg.sinkRoot)
    assert(Main.runCycle(spark, inGrace, asOf).rowsProcessed == 0L)
    assert(Lineage.watermarks(spark, cfg.sinkRoot) == wmsBefore,
      "grace not elapsed -> no new seal commits")
  }

  test("a seal-only cycle runs the growth bounds: 65 orphan manifest " +
      "dirs are folded away by the commit that only seals") {
    val inputPath = s"$scratch/sealfold_in"
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    (0 until 4).map { i =>
      ("sf-" + i, 0, "user", s"2025-05-01T00:00:0${i}Z INFO [user] s$i",
        null: String, at(s"2025-05-01T0$i:00:00Z"), "2025-05-01")
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "day")
      .write.mode("overwrite").partitionBy("day").parquet(inputPath)
    val asOf = at("2025-05-10T00:00:00Z")
    val cfg = PipelineConfig(inputPath, s"$scratch/sealfold_sinks")
    assert(Main.runCycle(spark, cfg, asOf).rowsProcessed == 4L)

    // 65 crashed cycles' orphan manifests: one past the fold threshold
    val ns = Sinks.deferredDir(cfg.sinkRoot, Lineage.checkpointId(cfg))
    Seq(("sf-x", 0, at("2025-05-01T00:00:00Z"), "2025-05-01"))
      .toDF("conv_id", "turn_idx", "ts", "day")
      .write.parquet(s"$ns/batch=orphan0")
    (1 until 65).foreach(i => org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$ns/batch=orphan0"),
      new java.io.File(s"$ns/batch=orphan$i")))
    assert(BatchDirs(ns).dirs(spark).size == 65)

    // no new data, sealing on: the cycle's only commit is the seal
    val sealCfg = cfg.copy(sealDaysGraceSeconds = 3600)
    val r = Main.runCycle(spark, sealCfg, asOf)
    assert(r.rowsProcessed == 0L && r.publishedSinks.isEmpty)
    assert(Discover.completedDays(Lineage.watermarks(spark, cfg.sinkRoot)) ==
      Set("2025-05-01"), "the cycle committed the seal")
    assert(BatchDirs(ns).dirs(spark).isEmpty,
      "the seal-only commit folded the namespace (orphans are crash debris)")
  }

  test("sealing is cutoff-safe and manifest-safe: grace clamps to >= " +
      "cutoff (no loss of cutoff-deferred rows) and sealing-only cycles " +
      "still write the deferred-cold manifest") {
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    def hdrless(c: String, sc: String, iso: String, day: String) =
      (c, 0, "user", s"${iso.dropRight(1)}Z INFO [user] x", null: String,
        at(iso), sc, null: String, day)

    // leg 1 (R2): a row the S5 cutoff deferred at the day boundary must
    // NOT be sealed away. Day D: warm 10:00, warm LATE 23:50.
    val in1 = s"$scratch/ss_in1"
    Seq(hdrless("w1", "STANDARD", "2025-05-01T10:00:00Z", "2025-05-01"),
        hdrless("late", "STANDARD", "2025-05-01T23:50:00Z", "2025-05-01"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts",
        "storage_class", "restore_hdr", "day")
      .write.mode("overwrite").partitionBy("day").parquet(in1)
    val cfg1 = PipelineConfig(in1, s"$scratch/ss_sinks1",
      storageClassCol = "storage_class", restoreHeaderCol = "restore_hdr",
      cutoffSeconds = 3600, sealDaysGraceSeconds = 0)
    // cycle 1 at 00:30 next day: the 1h cutoff defers the 23:50 row;
    // an UNclamped grace=0 would seal the day right here and lose it
    val r1 = Main.runCycle(spark, cfg1, at("2025-05-02T00:30:00Z"))
    assert(r1.rowsProcessed == 1L, "only the 10:00 row is cutoff-eligible")
    assert(Discover.completedDays(
      Lineage.watermarks(spark, cfg1.sinkRoot)).isEmpty,
      "grace clamps to cutoff: day must NOT seal inside the cutoff window")
    // cycle 2 at 02:00: past end-of-day + cutoff -> the deferred row is
    // processed AND the day seals in the same commit
    val r2 = Main.runCycle(spark, cfg1, at("2025-05-02T02:00:00Z"))
    assert(r2.rowsProcessed == 1L, "the cutoff-deferred row is NOT lost")
    assert(Discover.completedDays(
      Lineage.watermarks(spark, cfg1.sinkRoot)) == Set("2025-05-01"))

    // leg 2 (R1): a sealing-only cycle (no eligible data) must write the
    // deferred-cold manifest BEFORE the seal hides the partition forever
    val in2 = s"$scratch/ss_in2"
    Seq(hdrless("w2", "STANDARD", "2025-06-01T09:00:00Z", "2025-06-01"),
        hdrless("cold", "GLACIER", "2025-06-01T11:00:00Z", "2025-06-01"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts",
        "storage_class", "restore_hdr", "day")
      .write.mode("overwrite").partitionBy("day").parquet(in2)
    val base2 = PipelineConfig(in2, s"$scratch/ss_sinks2",
      storageClassCol = "storage_class", restoreHeaderCol = "restore_hdr",
      cutoffSeconds = 3)
    // cycle A, sealing OFF: warm processed, cold deferred + manifested
    val rA = Main.runCycle(spark, base2, at("2025-06-02T12:00:00Z"))
    assert(rA.rowsProcessed == 1L)
    // cycle B, sealing ON, no new data: total==0 but seals fire — the
    // manifest for THIS batch must still record the cold row
    val rB = Main.runCycle(spark, base2.copy(sealDaysGraceSeconds = 0),
      at("2025-06-02T13:00:00Z"))
    assert(rB.rowsProcessed == 0L)
    assert(Discover.completedDays(
      Lineage.watermarks(spark, base2.sinkRoot)) == Set("2025-06-01"))
    val manifestB = spark.read
      .parquet(s"${Sinks.deferredDir(base2.sinkRoot, Lineage.checkpointId(base2))}/batch=${rB.batchId}")
    assert(manifestB.select($"conv_id").collect().map(_.getString(0)).toSeq
      == Seq("cold"),
      "sealing-only cycle must manifest the rows the seal will hide")
  }

  test("redriveDeferred recovers a sealed-away cold row once its restore " +
      "completes — exactly once, no duplicates (beyond-reference recovery)") {
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    def row(c: String, sc: String, rh: String, iso: String) =
      (c, 0, "user", s"$iso INFO [user] x", null: String, at(iso), sc, rh,
        "2025-07-01")
    val in = s"$scratch/rd_in"
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts",
      "storage_class", "restore_hdr", "day")
    Seq(row("warm", "STANDARD", null, "2025-07-01T09:00:00Z"),
        row("cold", "GLACIER", null, "2025-07-01T11:00:00Z"))
      .toDF(cols: _*).write.mode("overwrite").partitionBy("day").parquet(in)
    val cfg = PipelineConfig(in, s"$scratch/rd_sinks",
      storageClassCol = "storage_class", restoreHeaderCol = "restore_hdr",
      cutoffSeconds = 3, sealDaysGraceSeconds = 0)

    // cycle 1: warm processed, cold deferred, day sealed in one commit
    val r1 = Main.runCycle(spark, cfg, at("2025-07-03T00:00:00Z"))
    assert(r1.rowsProcessed == 1L)
    assert(Discover.completedDays(
      Lineage.watermarks(spark, cfg.sinkRoot)) == Set("2025-07-01"))

    // re-drive BEFORE the restore completes: nothing is eligible yet
    val r2 = Main.redriveDeferred(spark, cfg, at("2025-07-04T00:00:00Z"))
    assert(r2.rowsProcessed == 0L)

    // the restore completes IN THE SOURCE (object metadata change):
    // rewrite the table with the cold row's header now complete+unexpired
    Seq(row("warm", "STANDARD", null, "2025-07-01T09:00:00Z"),
        row("cold", "GLACIER",
          "ongoing-request=\"false\", expiry-date=\"2027-01-01 00:00:00\"",
          "2025-07-01T11:00:00Z"))
      .toDF(cols: _*).write.mode("overwrite").partitionBy("day").parquet(in)

    // crash-window simulation: a ledger entry whose batch never
    // COMMITTED (crash between ledger write and lineage commit) must be
    // ignored — otherwise the keys would be neither published nor ever
    // re-drivable
    Seq(("cold", 0)).toDF("conv_id", "turn_idx").write.mode("overwrite")
      .parquet(s"${Sinks.redrivenDir(cfg.sinkRoot, Lineage.checkpointId(cfg))}/batch=deadbeefdeadbeef")

    val r3 = Main.redriveDeferred(spark, cfg, at("2025-07-05T00:00:00Z"))
    assert(r3.rowsProcessed == 1L,
      "restored row is recovered despite the orphaned ledger entry")
    // published and visible to committed readers; no duplicates anywhere
    val visible = Route.sinkNames
      .map(s => Sinks.readSink(spark, cfg.sinkRoot, s).select($"conv_id"))
      .reduce(_ unionByName _)
      .collect().map(_.getString(0)).sorted
    assert(visible.toSeq == Seq("cold", "warm"),
      s"exactly one copy of each row, got ${visible.mkString(",")}")
    // watermark/seal state untouched by the re-drive
    assert(Discover.completedDays(
      Lineage.watermarks(spark, cfg.sinkRoot)) == Set("2025-07-01"))

    // idempotence: the ledger makes a second re-drive a no-op, and a
    // normal cycle still discovers nothing (sealed day stays sealed)
    assert(Main.redriveDeferred(spark, cfg,
      at("2025-07-06T00:00:00Z")).rowsProcessed == 0L)
    assert(Main.runCycle(spark, cfg,
      at("2025-07-06T00:00:00Z")).rowsProcessed == 0L)
  }

  test("warm backfill into a SEALED day reopens it for one audit cycle: " +
      "manifested + redrivable exactly once, never silently lost " +
      "(closes the reference's s3.rb:151-153 loss path)") {
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    def row(c: String, iso: String) =
      (c, 0, "user", s"$iso INFO [user] x", null: String, at(iso),
        "2025-09-01")
    val in = s"$scratch/wb_in"
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "day")
    Seq(row("w1", "2025-09-01T10:00:00Z"), row("w2", "2025-09-01T11:00:00Z"))
      .toDF(cols: _*).write.mode("overwrite").partitionBy("day").parquet(in)
    // sealing ON, S6 OFF — the round-3 verdict's exact residual-loss
    // configuration
    val cfg = PipelineConfig(in, s"$scratch/wb_sinks",
      sealDaysGraceSeconds = 0)
    val cid = Lineage.checkpointId(cfg)

    // cycle 1: both rows processed AND the day sealed in one commit
    val r1 = Main.runCycle(spark, cfg, at("2025-09-03T00:00:00Z"))
    assert(r1.rowsProcessed == 2L)
    assert(Discover.completedDays(
      Lineage.watermarks(spark, cfg.sinkRoot)) == Set("2025-09-01"))

    // a warm backfill file lands in the SEALED partition with in-range ts
    Seq(row("late", "2025-09-01T10:30:00Z"))
      .toDF(cols: _*).write.mode("append").partitionBy("day").parquet(in)

    // cycle 2: the dir-mtime reopen check fires; the backfill row is
    // behind the end-of-day watermark (never published by the normal
    // path) but the seal audit manifests it
    val r2 = Main.runCycle(spark, cfg, at("2025-09-03T01:00:00Z"))
    assert(r2.rowsProcessed == 0L,
      "backfill is behind the watermark — normal path must not publish it")
    val m2 = spark.read.parquet(
      s"${Sinks.deferredDir(cfg.sinkRoot, cid)}/batch=${r2.batchId}")
    assert(m2.select($"conv_id").collect().map(_.getString(0)).toSeq ==
      Seq("late"),
      "the reopened-day audit must manifest exactly the backfill row")

    // cycle 3: the refresh commit re-closed the day — no reopen, no new
    // commits, no new manifest dirs
    val batchesBefore =
      Lineage.committedBatchesAt(spark, Lineage.dirFor(cfg)).size
    val dirsBefore =
      BatchDirs(Sinks.deferredDir(cfg.sinkRoot, cid)).dirs(spark).size
    val r3 = Main.runCycle(spark, cfg, at("2025-09-03T02:00:00Z"))
    assert(r3.rowsProcessed == 0L)
    assert(Lineage.committedBatchesAt(spark, Lineage.dirFor(cfg)).size ==
      batchesBefore, "a quiet sealed day must not re-audit every cycle")
    assert(BatchDirs(
      Sinks.deferredDir(cfg.sinkRoot, cid)).dirs(spark).size == dirsBefore)

    // redrive publishes the backfill exactly once; a second redrive and
    // a further normal cycle deliver nothing more
    val rd = Main.redriveDeferred(spark, cfg, at("2025-09-04T00:00:00Z"))
    assert(rd.rowsProcessed == 1L, "the stranded backfill is redrivable")
    val visible = Route.sinkNames
      .map(s => Sinks.readSink(spark, cfg.sinkRoot, s).select($"conv_id"))
      .reduce(_ unionByName _)
      .collect().map(_.getString(0)).sorted
    assert(visible.toSeq == Seq("late", "w1", "w2"),
      s"exactly one copy of every row, got ${visible.mkString(",")}")
    assert(Main.redriveDeferred(spark, cfg,
      at("2025-09-05T00:00:00Z")).rowsProcessed == 0L)
    assert(Main.runCycle(spark, cfg,
      at("2025-09-05T00:00:00Z")).rowsProcessed == 0L)
  }

  test("seal audit finds day partitions at ANY depth: a post-seal " +
      "backfill into a nested day dir is detected, manifested and " +
      "redriven") {
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    def row(c: String, iso: String) =
      (c, 0, "user", s"$iso INFO [user] x", null: String, at(iso),
        "2025-11-01")
    val in = s"$scratch/nest_in"
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "day")
    // day partitions nested one level below the input root
    Seq(row("w1", "2025-11-01T10:00:00Z"), row("w2", "2025-11-01T11:00:00Z"))
      .toDF(cols: _*).write.mode("overwrite").partitionBy("day")
      .parquet(s"$in/src=a")
    val cfg = PipelineConfig(in, s"$scratch/nest_sinks",
      sealDaysGraceSeconds = 0)
    val r1 = Main.runCycle(spark, cfg, at("2025-11-03T00:00:00Z"))
    assert(r1.rowsProcessed == 2L, "nested day partitions are discovered")
    assert(Discover.completedDays(
      Lineage.watermarks(spark, cfg.sinkRoot)) == Set("2025-11-01"))

    Seq(row("late", "2025-11-01T10:30:00Z"))
      .toDF(cols: _*).write.mode("append").partitionBy("day")
      .parquet(s"$in/src=a")
    val r2 = Main.runCycle(spark, cfg, at("2025-11-03T01:00:00Z"))
    assert(r2.rowsProcessed == 0L)
    val m2 = spark.read.parquet(
      s"${Sinks.deferredDir(cfg.sinkRoot, Lineage.checkpointId(cfg))}/batch=${r2.batchId}")
    assert(m2.select($"conv_id").collect().map(_.getString(0)).toSeq ==
      Seq("late"),
      "the audit must scan the nested day partition, not <input>/day=...")
    assert(Main.redriveDeferred(spark, cfg,
      at("2025-11-04T00:00:00Z")).rowsProcessed == 1L)
  }

  test("reauditDays escape hatch: a backfill the mtime check cannot see " +
      "is recovered by a forced re-audit (object-store / nested-append " +
      "blind spot)") {
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    def row(c: String, iso: String) =
      (c, 0, "user", s"$iso INFO [user] x", null: String, at(iso),
        "2025-12-01")
    val in = s"$scratch/ra_in"
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "day")
    Seq(row("w1", "2025-12-01T10:00:00Z"))
      .toDF(cols: _*).write.mode("overwrite").partitionBy("day").parquet(in)
    val cfg = PipelineConfig(in, s"$scratch/ra_sinks",
      sealDaysGraceSeconds = 0)
    val cid = Lineage.checkpointId(cfg)
    val r1 = Main.runCycle(spark, cfg, at("2025-12-03T00:00:00Z"))
    assert(r1.rowsProcessed == 1L)

    // backfill lands, but the day dir's mtime does NOT advance (the
    // object-store / pre-existing-nested-subdir case, simulated by
    // resetting the mtime after the landing)
    Seq(row("late", "2025-12-01T10:30:00Z"))
      .toDF(cols: _*).write.mode("append").partitionBy("day").parquet(in)
    assert(new java.io.File(s"$in/day=2025-12-01").setLastModified(1000L))

    // automatic detection cannot fire: no reopen, nothing manifested
    val dirsBefore =
      BatchDirs(Sinks.deferredDir(cfg.sinkRoot, cid)).dirs(spark).size
    val r2 = Main.runCycle(spark, cfg, at("2025-12-03T01:00:00Z"))
    assert(r2.rowsProcessed == 0L)
    assert(BatchDirs(
      Sinks.deferredDir(cfg.sinkRoot, cid)).dirs(spark).size == dirsBefore,
      "the blind spot is real: no automatic reopen without an mtime bump")

    // the operator forces the audit — the backfill is manifested and
    // redriven exactly once
    val r3 = Main.runCycle(spark,
      cfg.copy(reauditDays = Seq("2025-12-01")), at("2025-12-03T02:00:00Z"))
    assert(r3.rowsProcessed == 0L)
    val m3 = spark.read.parquet(
      s"${Sinks.deferredDir(cfg.sinkRoot, cid)}/batch=${r3.batchId}")
    assert(m3.select($"conv_id").collect().map(_.getString(0)).toSeq ==
      Seq("late"))
    assert(Main.redriveDeferred(spark, cfg,
      at("2025-12-04T00:00:00Z")).rowsProcessed == 1L)
    assert(Main.redriveDeferred(spark, cfg,
      at("2025-12-05T00:00:00Z")).rowsProcessed == 0L)
  }

  test("day/ts-mismatch rows (ts past end-of-day) are audited and the " +
      "commit absorbs their ts — manifested stays behind the watermark") {
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    def row(c: String, iso: String) =
      (c, 0, "user", s"$iso INFO [user] x", null: String, at(iso),
        "2026-01-01")
    val in = s"$scratch/mis_in"
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "day")
    Seq(row("w1", "2026-01-01T10:00:00Z"))
      .toDF(cols: _*).write.mode("overwrite").partitionBy("day").parquet(in)
    val cfg = PipelineConfig(in, s"$scratch/mis_sinks",
      sealDaysGraceSeconds = 0)
    val r1 = Main.runCycle(spark, cfg, at("2026-01-03T00:00:00Z"))
    assert(r1.rowsProcessed == 1L)
    assert(Discover.completedDays(
      Lineage.watermarks(spark, cfg.sinkRoot)) == Set("2026-01-01"))

    // a producer violates day == date(ts): the row lands in the sealed
    // 2026-01-01 partition with a ts past that day's end
    Seq(row("mis", "2026-01-02T00:00:05Z"))
      .toDF(cols: _*).write.mode("append").partitionBy("day").parquet(in)
    val r2 = Main.runCycle(spark, cfg, at("2026-01-03T01:00:00Z"))
    assert(r2.rowsProcessed == 0L)
    val m2 = spark.read.parquet(
      s"${Sinks.deferredDir(cfg.sinkRoot, Lineage.checkpointId(cfg))}/batch=${r2.batchId}")
    assert(m2.select($"conv_id").collect().map(_.getString(0)).toSeq ==
      Seq("mis"),
      "the audit has no ts cap — a ts beyond end-of-day must not hide the row")
    // the refresh commit absorbed the mismatch ts into the watermark,
    // so the manifested row is behind it (redrive's release condition)
    assert(Lineage.watermarks(spark, cfg.sinkRoot)("2026-01-01") ==
      at("2026-01-02T00:00:05Z"))
    assert(Main.redriveDeferred(spark, cfg,
      at("2026-01-04T00:00:00Z")).rowsProcessed == 1L)
    assert(Main.redriveDeferred(spark, cfg,
      at("2026-01-05T00:00:00Z")).rowsProcessed == 0L)
  }

  test("a day FIRST SEEN and sealed in one cycle is audited too: its " +
      "cutoff-deferred day/ts-mismatch row is manifested, and a null-ts " +
      "row is excluded by contract without crashing the commit") {
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    def row(c: String, ts: Timestamp) =
      (c, 0, "user", "2026-02-01T10:00:00Z INFO [user] x", null: String,
        ts, "2026-02-01")
    val in = s"$scratch/fs_in"
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "day")
    Seq(row("w1", at("2026-02-01T10:00:00Z")),
        // day/ts mismatch AND inside the cutoff window at cycle time
        row("mis", at("2026-02-02T01:30:00Z")),
        // schema-contract violation: null event time
        row("nullts", null))
      .toDF(cols: _*).write.mode("overwrite").partitionBy("day").parquet(in)
    val cfg = PipelineConfig(in, s"$scratch/fs_sinks",
      cutoffSeconds = 3600, sealDaysGraceSeconds = 0)
    val cid = Lineage.checkpointId(cfg)

    // ONE cycle: the day has no prior watermark, w1 is processed, the
    // day seals — and the audit must still run (the old prior-wm
    // condition skipped first-seen days, silently losing `mis`)
    val r1 = Main.runCycle(spark, cfg, at("2026-02-02T02:00:00Z"))
    assert(r1.rowsProcessed == 1L, "only w1 is cutoff-eligible")
    assert(Discover.completedDays(
      Lineage.watermarks(spark, cfg.sinkRoot)) == Set("2026-02-01"))
    val m1 = spark.read.parquet(
      s"${Sinks.deferredDir(cfg.sinkRoot, cid)}/batch=${r1.batchId}")
    assert(m1.select($"conv_id").collect().map(_.getString(0)).toSeq ==
      Seq("mis"),
      "the sealing cycle must manifest the cutoff-deferred mismatch row " +
        "even with no prior watermark; null-ts rows are contract-excluded")
    assert(Lineage.watermarks(spark, cfg.sinkRoot)("2026-02-01") ==
      at("2026-02-02T01:30:00Z"), "commit absorbed the manifested ts")

    assert(Main.redriveDeferred(spark, cfg,
      at("2026-02-02T03:00:00Z")).rowsProcessed == 1L)
    assert(Main.redriveDeferred(spark, cfg,
      at("2026-02-02T04:00:00Z")).rowsProcessed == 0L)
    // the null-ts row is neither published nor manifested (the
    // schema-contract exclusion) — but NOT a zero-trace drop: the
    // audit quarantined it to the _violations namespace
    val visible = Route.sinkNames
      .map(s => Sinks.readSink(spark, cfg.sinkRoot, s).select($"conv_id"))
      .reduce(_ unionByName _).collect().map(_.getString(0)).sorted
    assert(visible.toSeq == Seq("mis", "w1"))
    val viol = spark.read.parquet(
      s"${cfg.sinkRoot}/_violations/$cid/batch=${r1.batchId}")
    assert(viol.select($"conv_id").collect().map(_.getString(0)).toSeq ==
      Seq("nullts"),
      "a producer contract violation must be durably operator-visible")

    // a forced re-audit must NOT re-count the same violation — the
    // census anti-joins committed violation batches, so a standing
    // reauditDays config cannot grow it unboundedly
    Main.runCycle(spark, cfg.copy(reauditDays = Seq("2026-02-01")),
      at("2026-02-02T05:00:00Z"))
    val violDirs = BatchDirs(
      Sinks.violationsDir(cfg.sinkRoot, cid)).dirs(spark)
    assert(violDirs.size == 1,
      s"re-audit must not duplicate the census, got $violDirs")
  }

  test("corrupt lineage policy: null last_ts aborts loudly (all days " +
      "listed); null committed_at fails sealing cycles closed, is inert " +
      "without sealing, and --reaudit-days self-heals it") {
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    val in = s"$scratch/cl_in"
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "day")
    Seq(("w1", 0, "user", "2025-03-01T10:00:00Z INFO [user] x",
      null: String, at("2025-03-01T10:00:00Z"), "2025-03-01"))
      .toDF(cols: _*).write.mode("overwrite").partitionBy("day").parquet(in)
    val cfg = PipelineConfig(in, s"$scratch/cl_sinks",
      sealDaysGraceSeconds = 0)
    assert(Main.runCycle(spark, cfg, at("2025-03-03T00:00:00Z"))
      .rowsProcessed == 1L)
    val lineageDir = Lineage.dirFor(cfg)

    // a hand-written/corrupt commit: a COMPLETED day whose only row has
    // a null observation stamp
    Lineage.commitAt(spark, lineageDir, Seq(Lineage.Commit("corrupt1",
      "2025-03-02", Discover.endOfDayTs("2025-03-02").get, 0L, null)))
    // sealing-enabled: fail closed (the day could never reopen)
    val ex1 = intercept[IllegalStateException] {
      Main.runCycle(spark, cfg, at("2025-03-03T01:00:00Z"))
    }
    assert(ex1.getMessage.contains("2025-03-02"))
    // sealing-disabled: the stamp is not consumed — cycle proceeds
    assert(Main.runCycle(spark, cfg.copy(sealDaysGraceSeconds = -1),
      at("2025-03-03T01:00:00Z")).rowsProcessed == 0L)
    // --reaudit-days self-heals: the forced audit re-stamps the day...
    assert(Main.runCycle(spark, cfg.copy(reauditDays = Seq("2025-03-02")),
      at("2025-03-03T02:00:00Z")).rowsProcessed == 0L)
    // ...and a PLAIN sealing cycle runs again
    assert(Main.runCycle(spark, cfg, at("2025-03-03T03:00:00Z"))
      .rowsProcessed == 0L)

    // null last_ts: the watermark is load-bearing on EVERY path —
    // always fatal, with every offending day in one message
    Lineage.commitAt(spark, lineageDir, Seq(
      Lineage.Commit("corrupt2", "2025-03-04", null, 0L,
        at("2025-03-03T00:00:00Z")),
      Lineage.Commit("corrupt3", "2025-03-05", null, 0L,
        at("2025-03-03T00:00:00Z"))))
    val ex2 = intercept[IllegalStateException] {
      Main.runCycle(spark, cfg.copy(sealDaysGraceSeconds = -1),
        at("2025-03-03T04:00:00Z"))
    }
    assert(ex2.getMessage.contains("2025-03-04") &&
      ex2.getMessage.contains("2025-03-05"),
      s"all corrupt days in one message, got: ${ex2.getMessage}")
  }

  test("seal-time audit: a warm backfill that landed BEHIND the watermark " +
      "before the day sealed is manifested by the sealing cycle") {
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    def row(c: String, iso: String) =
      (c, 0, "user", s"$iso INFO [user] x", null: String, at(iso),
        "2025-10-01")
    val in = s"$scratch/sa_in"
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "day")
    Seq(row("w1", "2025-10-01T10:00:00Z"), row("w2", "2025-10-01T11:00:00Z"))
      .toDF(cols: _*).write.mode("overwrite").partitionBy("day").parquet(in)
    val cfg = PipelineConfig(in, s"$scratch/sa_sinks",
      sealDaysGraceSeconds = 3600)
    val cid = Lineage.checkpointId(cfg)

    // cycle 1 mid-day: watermark advances to 11:00, day NOT yet sealed
    val r1 = Main.runCycle(spark, cfg, at("2025-10-01T12:00:00Z"))
    assert(r1.rowsProcessed == 2L)
    assert(Discover.completedDays(
      Lineage.watermarks(spark, cfg.sinkRoot)).isEmpty)

    // a backfill lands BEHIND the committed watermark (10:30 < 11:00):
    // invisible to normal discovery from now on, like the reference's
    // object-behind-sincedb
    Seq(row("late", "2025-10-01T10:30:00Z"))
      .toDF(cols: _*).write.mode("append").partitionBy("day").parquet(in)

    // cycle 2 past end-of-day + grace: the day seals, and the seal-time
    // audit manifests the stranded backfill (published rows excluded)
    val r2 = Main.runCycle(spark, cfg, at("2025-10-02T02:00:00Z"))
    assert(r2.rowsProcessed == 0L)
    assert(Discover.completedDays(
      Lineage.watermarks(spark, cfg.sinkRoot)) == Set("2025-10-01"))
    val m2 = spark.read.parquet(
      s"${Sinks.deferredDir(cfg.sinkRoot, cid)}/batch=${r2.batchId}")
    assert(m2.select($"conv_id").collect().map(_.getString(0)).toSeq ==
      Seq("late"),
      "the seal audit must manifest exactly the unpublished backfill")

    // and it redrives exactly once
    assert(Main.redriveDeferred(spark, cfg,
      at("2025-10-03T00:00:00Z")).rowsProcessed == 1L)
    assert(Main.redriveDeferred(spark, cfg,
      at("2025-10-04T00:00:00Z")).rowsProcessed == 0L)
  }

  test("stranding discipline: a deferred row still AHEAD of the watermark " +
      "is not manifested — it flows through normal discovery exactly once " +
      "and redrive never double-publishes it") {
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    def row(c: String, sc: String, rh: String, iso: String) =
      (c, 0, "user", s"$iso INFO [user] x", null: String, at(iso), sc, rh,
        "2025-08-01")
    val in = s"$scratch/st_in"
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts",
      "storage_class", "restore_hdr", "day")
    // cold row ts 10:00 is AHEAD of the watermark cycle 1 will commit
    // (warm max = 09:00) — the old behavior would still manifest it, and
    // a later normal cycle + redrive would then BOTH deliver it
    Seq(row("warm", "STANDARD", null, "2025-08-01T09:00:00Z"),
        row("cold", "GLACIER", null, "2025-08-01T10:00:00Z"))
      .toDF(cols: _*).write.mode("overwrite").partitionBy("day").parquet(in)
    val cfg = PipelineConfig(in, s"$scratch/st_sinks",
      storageClassCol = "storage_class", restoreHeaderCol = "restore_hdr",
      cutoffSeconds = 3)

    val r1 = Main.runCycle(spark, cfg, at("2025-08-02T00:00:00Z"))
    assert(r1.rowsProcessed == 1L)
    // nothing stranded -> no manifest dir AT ALL (an empty dir per
    // cycle would grow the namespace for no information)
    val m1 = new org.apache.hadoop.fs.Path(
      s"${Sinks.deferredDir(cfg.sinkRoot, Lineage.checkpointId(cfg))}/batch=${r1.batchId}")
    assert(!m1.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(m1),
      "a deferred row the watermark has NOT passed must not be manifested")

    // restore completes in the source; the NORMAL path picks it up
    Seq(row("warm", "STANDARD", null, "2025-08-01T09:00:00Z"),
        row("cold", "GLACIER",
          "ongoing-request=\"false\", expiry-date=\"2027-01-01 00:00:00\"",
          "2025-08-01T10:00:00Z"))
      .toDF(cols: _*).write.mode("overwrite").partitionBy("day").parquet(in)
    val r2 = Main.runCycle(spark, cfg, at("2025-08-03T00:00:00Z"))
    assert(r2.rowsProcessed == 1L, "normal discovery delivers the restored row")

    // redrive finds nothing pending — no double publish
    assert(Main.redriveDeferred(spark, cfg,
      at("2025-08-04T00:00:00Z")).rowsProcessed == 0L)
    val visible = Route.sinkNames
      .map(s => Sinks.readSink(spark, cfg.sinkRoot, s).select($"conv_id"))
      .reduce(_ unionByName _)
      .collect().map(_.getString(0)).sorted
    assert(visible.toSeq == Seq("cold", "warm"),
      s"exactly one copy each, got ${visible.mkString(",")}")
  }

  test("two successful redrives at the SAME pinned asOf get distinct " +
      "batch ids — the second must not replace the first's committed rows") {
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    def row(c: String, sc: String, rh: String, iso: String) =
      (c, 0, "user", s"$iso INFO [user] x", null: String, at(iso), sc, rh,
        "2025-10-01")
    val in = s"$scratch/rr_in"
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts",
      "storage_class", "restore_hdr", "day")
    def writeInput(restored: Set[String]): Unit = {
      def hdr(c: String) = if (restored(c))
        "ongoing-request=\"false\", expiry-date=\"2027-01-01 00:00:00\""
        else null
      Seq(row("warm", "STANDARD", null, "2025-10-01T09:00:00Z"),
          row("cold1", "GLACIER", hdr("cold1"), "2025-10-01T10:00:00Z"),
          row("cold2", "GLACIER", hdr("cold2"), "2025-10-01T11:00:00Z"))
        .toDF(cols: _*).write.mode("overwrite").partitionBy("day")
        .parquet(in)
    }
    writeInput(Set.empty)
    val cfg = PipelineConfig(in, s"$scratch/rr_sinks",
      storageClassCol = "storage_class", restoreHeaderCol = "restore_hdr",
      cutoffSeconds = 3, sealDaysGraceSeconds = 0)
    assert(Main.runCycle(spark, cfg,
      at("2025-10-03T00:00:00Z")).rowsProcessed == 1L)

    val pinned = at("2025-10-05T00:00:00Z") // operator pins --as-of
    writeInput(Set("cold1"))
    val rA = Main.redriveDeferred(spark, cfg, pinned)
    assert(rA.rowsProcessed == 1L)
    writeInput(Set("cold1", "cold2"))
    val rB = Main.redriveDeferred(spark, cfg, pinned)
    assert(rB.rowsProcessed == 1L)
    assert(rA.batchId != rB.batchId,
      "redrive ids must depend on the committed-batch state, not only " +
        "(asOf, wms)")
    val visible = Route.sinkNames
      .map(s => Sinks.readSink(spark, cfg.sinkRoot, s).select($"conv_id"))
      .reduce(_ unionByName _)
      .collect().map(_.getString(0)).sorted
    assert(visible.toSeq == Seq("cold1", "cold2", "warm"),
      s"no clobber: got ${visible.mkString(",")}")
  }

  test("deferred/ledger compaction folds resolved history, keeps pending, " +
      "ignores uncommitted ledgers") {
    val root = s"$scratch/cdf_root"
    val cid = "testcheckpointid"
    val ts0 = new Timestamp(Synth.baseEpochMs)
    def manifest(b: String, keys: (String, Int)*): Unit =
      keys.map { case (c, i) => (c, i, ts0, "2025-09-01") }
        .toDF("conv_id", "turn_idx", "ts", "day")
        .write.mode("overwrite").parquet(s"${Sinks.deferredDir(root, cid)}/batch=$b")
    def ledger(b: String, keys: (String, Int)*): Unit =
      keys.toSeq.toDF("conv_id", "turn_idx")
        .write.mode("overwrite").parquet(s"${Sinks.redrivenDir(root, cid)}/batch=$b")
    manifest("a", ("k1", 0))
    manifest("b", ("k1", 0), ("k2", 0))
    manifest("c", ("k3", 0))
    manifest("d", ("k9", 0)) // NEVER committed: a crashed cycle's orphan
    ledger("x", ("k1", 0)) // committed -> folds, k1 retired
    ledger("y", ("k2", 0)) // NOT committed: crashed-redrive orphan

    // ANOTHER checkpoint identity's backlog under the same sinkRoot:
    // compaction of `cid` must never see it, let alone orphan-delete it
    Seq(("other", 0, ts0, "2025-09-01"))
      .toDF("conv_id", "turn_idx", "ts", "day").write.mode("overwrite")
      .parquet(s"${Sinks.deferredDir(root, "othercid")}/batch=z")

    val committed = Set("a", "b", "c", "x")
    assert(!Sinks.compactDeferred(spark, root, cid, committed, maxDirs = 16),
      "below threshold: no-op")
    assert(Sinks.compactDeferred(spark, root, cid, committed, maxDirs = 2))
    val mDirs = BatchDirs(Sinks.deferredDir(root, cid)).dirs(spark)
    assert(mDirs.size == 1 && mDirs.head.contains("batch=compacted-"))
    val remaining = spark.read.parquet(mDirs.head)
      .select($"conv_id").collect().map(_.getString(0)).sorted
    assert(remaining.toSeq == Seq("k2", "k3"),
      "k1 retired via committed ledger; orphan manifest's k9 dropped " +
        s"(its stranding never committed) — got ${remaining.mkString(",")}")
    assert(BatchDirs(Sinks.redrivenDir(root, cid)).dirs(spark).isEmpty,
      "committed ledger folded away; orphan ledger cleaned up")
    assert(spark.read
      .parquet(s"${Sinks.deferredDir(root, "othercid")}/batch=z")
      .count() == 1L,
      "cross-identity isolation: another pipeline's backlog untouched")
  }

  test("null KEY columns are contract violations like null ts: excluded " +
      "from the delta, quarantined once at seal, never re-manifested by " +
      "a standing re-audit") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    val in = s"$scratch/nk_in"
    val schema = StructType(Seq(
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("role", StringType), StructField("text", StringType),
      StructField("tool", StringType), StructField("ts", TimestampType),
      StructField("day", StringType)))
    val txt = "2026-04-01T10:00:00Z INFO [user] x"
    val rows = Seq(
      Row("w1", 0, "user", txt, null, at("2026-04-01T10:00:00Z"), "2026-04-01"),
      // valid ts, NULL conv_id: pre-fix this row was published AND
      // re-manifested on every re-audit (equi anti-joins never match a
      // null key), an unbounded-manifest edge (ADVICE r4)
      Row(null, 1, "user", txt, null, at("2026-04-01T10:01:00Z"), "2026-04-01"),
      // valid ts, NULL turn_idx: same class
      Row("nkidx", null, "user", txt, null, at("2026-04-01T10:02:00Z"),
        "2026-04-01"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .write.mode("overwrite").partitionBy("day").parquet(in)
    val cfg = PipelineConfig(in, s"$scratch/nk_sinks",
      sealDaysGraceSeconds = 0)
    val cid = Lineage.checkpointId(cfg)

    val r1 = Main.runCycle(spark, cfg, at("2026-04-02T01:00:00Z"))
    assert(r1.rowsProcessed == 1L,
      "only the contract-conformant row is processable")
    // the null-key rows reached NO sink...
    val visible = Route.sinkNames
      .map(s => Sinks.readSink(spark, cfg.sinkRoot, s).select($"conv_id"))
      .reduce(_ unionByName _).collect().map(_.getString(0)).toSeq
    assert(visible == Seq("w1"), s"got $visible")
    // ...were NOT manifested as stranded (redrive could never release a
    // null key — its joins are key equi-joins)...
    val defDir = new org.apache.hadoop.fs.Path(
      s"${Sinks.deferredDir(cfg.sinkRoot, cid)}/batch=${r1.batchId}")
    val fs = defDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(defDir), "null-key rows must not enter the manifest")
    // ...and ARE durably quarantined, exactly once
    val viol = spark.read.parquet(
      s"${cfg.sinkRoot}/_violations/$cid/batch=${r1.batchId}")
    assert(viol.count() == 2L,
      "both null-key rows belong to the violation census")
    // a standing re-audit neither re-counts the census nor starts
    // manifesting the null-key rows
    Main.runCycle(spark, cfg.copy(reauditDays = Seq("2026-04-01")),
      at("2026-04-02T02:00:00Z"))
    Main.runCycle(spark, cfg.copy(reauditDays = Seq("2026-04-01")),
      at("2026-04-02T03:00:00Z"))
    assert(BatchDirs(
      Sinks.violationsDir(cfg.sinkRoot, cid)).dirs(spark).size == 1,
      "re-audits must not duplicate the census")
    assert(BatchDirs(
      Sinks.deferredDir(cfg.sinkRoot, cid)).dirs(spark).isEmpty,
      "re-audits must never manifest contract-violating rows")
  }

  test("cross-cycle dedup (opt-in): a later cycle's duplicate re-routes " +
      "to the duplicate sink exactly once across a crash window; orphan " +
      "fingerprint dirs are invisible; the store accumulates per cycle") {
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    def row(c: String, txt: String, iso: String) =
      (c, 0, "user", txt, null: String, at(iso),
        iso.substring(0, 10))
    val tA = "2026-05-01T10:00:00Z INFO [user] alpha"
    val tB = "2026-05-01T11:00:00Z INFO [user] beta"
    val tC = "2026-05-02T10:00:00Z INFO [user] gamma"
    val in = s"$scratch/xd_in"
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "day")
    Seq(row("a1", tA, "2026-05-01T10:00:00Z"),
        row("a2", tB, "2026-05-01T11:00:00Z"))
      .toDF(cols: _*).write.mode("overwrite").partitionBy("day").parquet(in)
    val cfg = PipelineConfig(in, s"$scratch/xd_sinks",
      dedupAcrossCycles = true)
    val cid = Lineage.checkpointId(cfg)
    val fpDir = Sinks.fingerprintsDir(cfg.sinkRoot, cid)

    val r1 = Main.runCycle(spark, cfg, at("2026-05-01T12:00:00Z"))
    assert(r1.rowsProcessed == 2L)
    val store1 = BatchDirs(fpDir).read(spark,
      Lineage.committedBatchesAt(spark, Lineage.dirFor(cfg))).get
    assert(store1.count() == 2L, "cycle 1 recorded both content fps")

    // cycle 2 data: one DUPLICATE of tA, one novel row
    Seq(row("b1", tA, "2026-05-02T09:00:00Z"),
        row("b2", tC, "2026-05-02T10:00:00Z"))
      .toDF(cols: _*).write.mode("append").partitionBy("day").parquet(in)
    // an ORPHAN fingerprint dir (crashed cycle) claiming tC was seen:
    // it must be ignored, or b2 would be wrongly routed to duplicate
    spark.range(1)
      .select(graft.ops.TextAnalysis.fingerprint(lit(tC)).as("fp"))
      .write.mode("overwrite")
      .parquet(s"$fpDir/batch=deadbeef")

    // crash window: staged write + publish + fingerprint write happened,
    // lineage commit did NOT — readers see nothing; re-run is idempotent
    val asOf2 = at("2026-05-02T12:00:00Z")
    val (wms, _, committedAtStart) =
      Lineage.stateAt(spark, Lineage.dirFor(cfg))
    val batchId2 = Lineage.batchId(asOf2, wms, cid)
    val delta = Discover.delta(spark, cfg, asOf2, wms)
    val piped = Pipeline(delta.as[Turn], cfg.excludePattern)
    val seen = BatchDirs(fpDir).read(spark, committedAtStart).get
    val routedPartial = graft.ops.Dedup.reRouteSeen(piped, seen,
      Route.contentSinks, Route.duplicateSink)
    Sinks.writeStaged(routedPartial, cfg.sinkRoot, batchId2, cfg.saltBuckets)
    Sinks.publish(spark, cfg.sinkRoot, batchId2)
    Sinks.writeFingerprints(routedPartial, fpDir, batchId2)
    assert(Sinks.readSink(spark, cfg.sinkRoot, Route.duplicateSink)
      .count() == 0L, "uncommitted publish invisible to committed readers")

    // the re-run reproduces the same batch id and routing
    val r2 = Main.runCycle(spark, cfg, asOf2)
    assert(r2.batchId == batchId2, "batch id is a pure function of state")
    assert(r2.rowsProcessed == 2L)
    val dup = Sinks.readSink(spark, cfg.sinkRoot, Route.duplicateSink)
      .select($"conv_id").collect().map(_.getString(0)).toSeq
    assert(dup == Seq("b1"),
      s"the cross-cycle duplicate routes to the duplicate sink once, got $dup")
    val users = Sinks.readSink(spark, cfg.sinkRoot, "user")
      .select($"conv_id").collect().map(_.getString(0)).sorted.toSeq
    assert(users == Seq("a1", "a2", "b2"),
      s"novel rows keep their content sink (orphan store ignored), got $users")

    // the store accumulated cycle 2's novel fp: a cycle-3 duplicate of
    // tC now re-routes too
    Seq(row("c1", tC, "2026-05-03T09:00:00Z"))
      .toDF(cols: _*).write.mode("append").partitionBy("day").parquet(in)
    val r3 = Main.runCycle(spark, cfg, at("2026-05-03T12:00:00Z"))
    assert(r3.rowsProcessed == 1L)
    val dup3 = Sinks.readSink(spark, cfg.sinkRoot, Route.duplicateSink)
      .select($"conv_id").collect().map(_.getString(0)).sorted.toSeq
    assert(dup3 == Seq("b1", "c1"),
      s"cycle 3 screens against cycle 2's committed fps, got $dup3")
    // b1 (a duplicate) must NOT have re-recorded tA's fp; store rows
    // stay one per distinct content fp
    val store3 = BatchDirs(fpDir).read(spark,
      Lineage.committedBatchesAt(spark, Lineage.dirFor(cfg))).get
    assert(store3.distinct().count() == 3L,
      "store = {tA, tB, tC}: duplicate-sink rows never re-record fps")
  }

  test("violations compaction folds committed census batches (mixed " +
      "schemas preserved), drops orphans, leaves other identities alone") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val root = s"$scratch/cv_root"
    val cid = "testcheckpointid"
    val ts0 = new Timestamp(Synth.baseEpochMs)
    val v1 = StructType(Seq(
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("role", StringType), StructField("text", StringType),
      StructField("tool", StringType), StructField("ts", TimestampType),
      StructField("day", StringType)))
    def write(b: String, schema: StructType, rows: Row*): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
        .write.mode("overwrite")
        .parquet(s"${Sinks.violationsDir(root, cid)}/batch=$b")
    write("a", v1, Row(null, 0, "user", "t1", null, ts0, "2025-09-01"),
      Row("c1", null, "user", "t2", null, ts0, "2025-09-01"))
    // a LATER engine version's census row carries an extra column — the
    // fold must not lose it
    val v2 = v1.add("storage_class", StringType)
    write("b", v2,
      Row("c2", 2, "user", "t3", null, null, "2025-09-01", "GLACIER"))
    write("orph", v1, Row("cx", 9, "user", "tx", null, ts0, "2025-09-01"))
    // another identity's census: never touched
    write2(s"${Sinks.violationsDir(root, "othercid")}/batch=z", v1,
      Row("other", 0, "u", "t", null, ts0, "2025-09-01"))

    val committed = Set("a", "b")
    assert(!BatchDirs(Sinks.violationsDir(root, cid)).fold(spark, committed,
      maxDirs = 16), "below threshold: no-op")
    assert(BatchDirs(Sinks.violationsDir(root, cid)).fold(spark, committed,
      maxDirs = 2))
    val dirs = BatchDirs(Sinks.violationsDir(root, cid)).dirs(spark)
    assert(dirs.size == 1 && dirs.head.contains("batch=compacted-"),
      s"got $dirs")
    val folded = spark.read.option("mergeSchema", "true").parquet(dirs.head)
    assert(folded.count() == 3L,
      "committed rows preserved, orphan's row dropped (its audit never " +
        "committed; the successor batch re-quarantined it)")
    assert(folded.filter($"storage_class" === "GLACIER").count() == 1L,
      "the newer schema's column survives the fold")
    // the census's frozen-identity dedup read works on the compacted dir
    val identityRead = spark.read.schema(v1).parquet(dirs.head)
    assert(identityRead.count() == 3L &&
      identityRead.filter($"conv_id".isNull).count() == 1L)
    assert(spark.read
      .parquet(s"${Sinks.violationsDir(root, "othercid")}/batch=z")
      .count() == 1L, "cross-identity isolation")
  }

  test("multimodal routed stage e2e: decoded header metadata lands in " +
      "the meta map per format, undecodable non-null blobs re-route to " +
      "deadletter (never dropped), blob-less rows untouched") {
    import graft.ops.Multimodal
    val inputPath = s"$scratch/media_in"
    val sinkRoot = s"$scratch/media_sinks"
    // mixed-media input: image / wav / mp4 / garbage / no blob, cycling
    // on turn_idx — built from the same synthetic payloads the m-ops
    // verify, so every decoded field has a known closed form
    val withMedia = Synth.turns(spark, seed, 30L).map { t =>
      val media: Array[Byte] = (t.turn_idx % 5) match {
        case 0 => Multimodal.synthImagePayload(t.turn_idx.toLong)
        case 1 => Multimodal.synthWavPayload(t.turn_idx.toLong)
        case 2 => Multimodal.synthMp4Payload(t.turn_idx.toLong)
        case 3 => Array[Byte](9, 9, 9, 9) // undecodable garbage
        case _ => null
      }
      (t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts, media)
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "media")
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
    val nIn = withMedia.count()
    withMedia.repartition($"day").write.partitionBy("day")
      .parquet(inputPath)

    val cfg = PipelineConfig(inputPath, sinkRoot, chunkSize = 64,
      mediaCol = "media")
    val r1 = Main.runCycle(spark, cfg, farFuture)
    assert(r1.rowsProcessed == nIn, "every row processed, none dropped")

    // allowMissingColumns: an EMPTY sink reads back as the bare Turn
    // schema (no pipeline columns) — it contributes zero rows either way
    val all = Route.sinkNames.map(s =>
        Sinks.readSink(spark, sinkRoot, s).withColumn("sinkName", lit(s)))
      .reduce(_.unionByName(_, allowMissingColumns = true)).cache()
    assert(all.count() == nIn, "routing stays a total partition")

    // (a) undecodable non-null blobs never reach a content sink...
    val contentRows = all.filter($"sinkName".isin(Route.contentSinks: _*))
    assert(contentRows
      .filter($"turn_idx" % 5 === 3 && $"media".isNotNull).count() == 0L,
      "garbage blobs must not publish to content sinks")
    // ...they land in deadletter, text and blob intact for diagnosis
    val dlGarbage = all.filter($"sinkName" === "deadletter" &&
      $"turn_idx" % 5 === 3)
    assert(dlGarbage.count() > 0L)
    assert(dlGarbage.filter($"text".isNull || $"media".isNull)
      .count() == 0L, "dead-lettered rows keep their payload")
    // nothing with garbage media vanished: every input row with a
    // garbage blob is accounted for across the sinks
    val nGarbage = withMedia.filter($"turn_idx" % 5 === 3).count()
    assert(all.filter($"turn_idx" % 5 === 3).count() == nGarbage)

    // (b) decoded metadata per format, exactly the fields the format
    // defines (null fields filtered out of the map)
    def meta(key: String) = element_at($"meta", key)
    val img = contentRows.filter($"turn_idx" % 5 === 0 && $"media".isNotNull)
    assert(img.count() > 0)
    assert(img.filter(!meta("media_kind").isin("png", "jpeg")).count() == 0)
    assert(img.filter(meta("media_width").isNull ||
      meta("media_height").isNull).count() == 0)
    assert(img.filter(meta("media_channels").isNotNull).count() == 0,
      "images define no audio fields")
    val wav = contentRows.filter($"turn_idx" % 5 === 1)
    assert(wav.count() > 0)
    assert(wav.filter(meta("media_kind") =!= "wav").count() == 0)
    assert(wav.filter(meta("media_channels").isNull ||
      meta("media_sample_rate").isNull || meta("media_bits").isNull ||
      meta("media_duration_ms").isNull).count() == 0)
    assert(wav.filter(meta("media_width").isNotNull).count() == 0)
    val mp4 = contentRows.filter($"turn_idx" % 5 === 2)
    assert(mp4.count() > 0)
    assert(mp4.filter(meta("media_kind") =!= "mp4").count() == 0)
    assert(mp4.filter(meta("media_width").isNull ||
      meta("media_duration_ms").isNull).count() == 0)
    // one decoded value spot-checked against its closed form
    val spot = wav.select($"turn_idx", meta("media_channels"),
      meta("media_sample_rate"), meta("media_duration_ms"),
      meta("media_bits")).head()
    val (chans, rate, bits, dataBytes) = Multimodal.AudioCodec
      .decodeWav(Multimodal.synthWavPayload(spot.getInt(0).toLong)).get
    assert(spot.getString(1).toInt == chans &&
      spot.getString(2).toInt == rate)
    // duration is the CONVERTED ms (the m03 formula), never the raw
    // data byte count decodeWav returns
    assert(spot.getString(3).toLong ==
      dataBytes * 1000L / (rate.toLong * chans * bits / 8))

    // (c) blob-less rows: no media keys in meta, routing untouched
    val none = all.filter($"turn_idx" % 5 === 4)
    assert(none.filter(meta("media_kind").isNotNull).count() == 0)
    assert(none.filter($"sinkName" === "deadletter" && $"parse_ok")
      .count() ==
      all.filter($"turn_idx" % 5 === 2 && $"sinkName" === "deadletter" &&
        $"parse_ok").count(),
      "blob-less and decodable-blob rows dead-letter identically " +
        "(only parse failures)")
    all.unpersist()
  }

  test("multimodal FEATURE stage e2e (opt-in): the cycle publishes real " +
      "checksum/feature/thumbnail columns for pixel/sample-decodable " +
      "blobs, null-flags lossy-codec blobs without re-routing them, and " +
      "the flags off leave the schema untouched") {
    import graft.ops.Multimodal
    val inputPath = s"$scratch/mediafeat_in"
    val sinkRoot = s"$scratch/mediafeat_sinks"
    val withMedia = Synth.turns(spark, seed, 30L).map { t =>
      val media: Array[Byte] = (t.turn_idx % 4) match {
        case 0 => Multimodal.synthPngPayload(t.turn_idx.toLong)
        case 1 => Multimodal.synthWavPayload(t.turn_idx.toLong)
        case 2 => Multimodal.synthMp4Payload(t.turn_idx.toLong)
        case _ => null
      }
      (t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts, media)
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "media")
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
    val nIn = withMedia.count()
    withMedia.repartition($"day").write.partitionBy("day")
      .parquet(inputPath)

    val cfg = PipelineConfig(inputPath, sinkRoot, chunkSize = 64,
      mediaCol = "media", mediaFeatures = true, mediaThumbSide = 4)
    val r1 = Main.runCycle(spark, cfg, farFuture)
    assert(r1.rowsProcessed == nIn)
    val all = Route.sinkNames.map(s =>
        Sinks.readSink(spark, sinkRoot, s).withColumn("sinkName", lit(s)))
      .reduce(_.unionByName(_, allowMissingColumns = true)).cache()
    assert(all.count() == nIn, "routing stays a total partition")

    // (a) PNGs: checksum == CRC32 of the DECODED samples, thumbnail ==
    // resizeNearest over the same decode — recomputed here directly
    // from the fixture payload, row by row
    val png = all.filter($"turn_idx" % 4 === 0 && $"media".isNotNull)
      .select($"turn_idx", $"media_checksum", $"media_feat",
        $"media_thumb").collect()
    assert(png.nonEmpty)
    png.foreach { r =>
      val px = Multimodal.PixelCodec
        .decodePng(Multimodal.synthPngPayload(r.getInt(0).toLong)).get
      val crc = new java.util.zip.CRC32()
      crc.update(px.data)
      assert(r.getLong(1) == crc.getValue, s"turn ${r.getInt(0)} checksum")
      assert(r.getSeq[Float](2).size == 16)
      assert(r.getAs[Array[Byte]](3).toSeq ==
        Multimodal.resizeNearest(px, 4).toSeq, "thumbnail bytes")
    }
    // (b) PCM wavs: feature vector present iff the samples decode
    // (whole frames); checksum matches the sample CRC
    val wav = all.filter($"turn_idx" % 4 === 1 && $"media".isNotNull)
      .select($"turn_idx", $"media_checksum", $"media_feat",
        $"media_thumb").collect()
    assert(wav.nonEmpty)
    wav.foreach { r =>
      Multimodal.PcmCodec.decodePcm16(
        Multimodal.synthWavPayload(r.getInt(0).toLong)) match {
        case Some((ch, rate, samples)) =>
          val (ck, _) = Multimodal.pcmFeatures(ch, rate, samples, 16)
          assert(!r.isNullAt(1) && r.getLong(1) == ck,
            s"turn ${r.getInt(0)} pcm checksum")
        case None => assert(r.isNullAt(2),
          s"turn ${r.getInt(0)}: undecodable samples must null-flag")
      }
      assert(r.isNullAt(3), "wavs have no thumbnail")
    }
    // (c) mp4s: null-flagged features but header metadata intact and
    // the row still in a content sink (never dropped or re-routed)
    val mp4 = all.filter($"turn_idx" % 4 === 2 && $"media".isNotNull)
    assert(mp4.count() > 0)
    assert(mp4.filter($"media_feat".isNotNull ||
      $"media_thumb".isNotNull).count() == 0,
      "lossy-codec blobs must null-flag, never fabricate features")
    assert(mp4.filter(element_at($"meta", "media_kind") =!= "mp4")
      .count() == 0)
    assert(mp4.filter($"sinkName" === "deadletter" && $"parse_ok")
      .count() == 0, "null features must not dead-letter a good row")
    all.unpersist()

    // (d) flags OFF: no feature columns appear anywhere in the schema
    val offRoot = s"$scratch/mediafeat_off_sinks"
    Main.runCycle(spark,
      cfg.copy(sinkRoot = offRoot, mediaFeatures = false,
        mediaThumbSide = 0), farFuture)
    val offCols = Sinks.readSink(spark, offRoot, "assistant").columns
    assert(!offCols.contains("media_feat") &&
      !offCols.contains("media_checksum") &&
      !offCols.contains("media_thumb"),
      "feature columns are strictly opt-in")
  }

  /** The metric-parity fixture: a dead-letter row, an `other`-sink row,
    * an unmapped tool (null category), a null tool, a null role (so a
    * null `role` and a null `tool_category` group under the same sink),
    * and turns over two hours of one day plus a second day.
    */
  private def writeMetricFixture(dest: String): Unit = {
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    def row(c: String, i: Int, role: String, body: String, tool: String,
        iso: String) = (c, i, role, s"$iso INFO [${Option(role).getOrElse(
          "system")}] $body", tool, at(iso), iso.substring(0, 10))
    Seq(row("m1", 0, "user", "hello", null, "2026-05-01T10:15:00Z"),
      row("m1", 1, "assistant", "hi", null, "2026-05-01T10:45:00Z"),
      row("m1", 2, "tool", "lookup", "search", "2026-05-01T11:05:00Z"),
      row("m1", 3, "tool", "odd", "mystery_tool", "2026-05-01T11:30:00Z"),
      row("m1", 4, "tool", "bare", null, "2026-05-01T11:40:00Z"),
      row("m2", 0, null, "boot", null, "2026-05-01T11:50:00Z"),
      row("m2", 1, "narrator", "aside", null, "2026-05-01T11:55:00Z"),
      row("m3", 0, "user", "next day", null, "2026-05-02T09:00:00Z"),
      row("m3", 1, "assistant", "calc", "calculator", "2026-05-02T09:10:00Z"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "day")
      .union(Seq(("m4", 0, "file", "not a grok line", null: String,
        at("2026-05-02T09:20:00Z"), "2026-05-02"))
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "day"))
      .write.mode("overwrite").partitionBy("day").parquet(dest)
  }

  private val metricTables =
    Seq("by_sink_role", "by_sink_tool_category", "by_sink_hour")

  private def parquetFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))

  private def assertSameTable(got: DataFrame, want: DataFrame,
      what: String): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) ==
      want.schema.map(f => f.name -> f.dataType), s"$what: schema")
    // set operations reject map columns: compare those as JSON
    def comparable(df: DataFrame) = df.select(df.schema.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType =>
          to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }: _*)
    val (g, w) = (comparable(got), comparable(want))
    assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty,
      s"$what: rows\n${got.collect().mkString("\n")}\nvs\n" +
        want.collect().mkString("\n"))
  }

  test("metric tables come from ONE aggregate over the staged write and " +
      "equal Aggregate.writeAll on the same routed frame; lineage rows " +
      "equal the per-day groupBy") {
    val in = s"$scratch/metric_in"
    writeMetricFixture(in)
    val cfg = PipelineConfig(in, s"$scratch/metric_sinks")
    val asOf = Timestamp.from(java.time.Instant.parse("2026-06-01T00:00:00Z"))
    val r = Main.runCycle(spark, cfg, asOf)
    assert(r.rowsProcessed == 10L)

    // the same routed frame, through the old distributed writer
    val routed = Pipeline(Discover.delta(spark, cfg, asOf, Map.empty)
      .as[Turn], cfg.excludePattern, cfg.chunkSize,
      codec = Pipeline.codecFor(cfg))
    val refRoot = s"$scratch/metric_ref"
    Aggregate.writeAll(routed, refRoot, r.batchId)
    val sinks = routed.select($"sink").distinct().as[String].collect().toSet
    assert(Set("deadletter", "other", "system").subsetOf(sinks),
      s"fixture must reach deadletter/other/system, got $sinks")
    assert(routed.filter($"tool" === "mystery_tool" &&
      $"tool_category".isNull).count() == 1)

    val base = s"${cfg.sinkRoot}/_metrics/${r.batchId}"
    assert(new java.io.File(base).list().filterNot(_.startsWith("."))
      .filterNot(_ == "_SUCCESS").sorted.toSeq == metricTables.sorted,
      "no table beyond the three")
    metricTables.foreach { t =>
      assert(parquetFiles(s"$base/$t") == 1, s"$t is one data file")
      assertSameTable(spark.read.parquet(s"$base/$t"),
        spark.read.parquet(s"$refRoot/_metrics/${r.batchId}/$t"), t)
    }
    val hours = spark.read.parquet(s"$base/by_sink_hour")
    assert(hours.select($"hour_start").distinct().count() == 3,
      "two hours on day one, one on day two")

    val lineage = Lineage.readAt(spark, Lineage.dirFor(cfg)).toDF()
      .filter($"batch_id" === r.batchId)
      .select($"day", $"last_ts", $"rows".as("n"))
    val want = routed.groupBy($"day")
      .agg(max($"ts").as("last_ts"), count(lit(1)).as("n"))
    assertSameTable(lineage, want, "lineage (day, last_ts, n)")
  }

  test("the committing cycle runs its pipeline plan once: one executed " +
      "query reads the input rows, one more only the ts of its unknown " +
      "files, and no plan caches; a no-op cycle reads no input and leaves " +
      "no staging or metrics dir") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    object plans extends
        org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
          seen.add(qe)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
          seen.add(qe)
      }
      /** A plan and, recursively, the plans of the caches it reads. */
      def withCached(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: collect(p) {
          case c: InMemoryTableScanExec => c.relation.cachedPlan
        }.flatMap(withCached)
      /** The columns each scan of `dir` in `qe`'s plans reads. */
      def scans(qe: QueryExecution, dir: String): Seq[Seq[String]] =
        withCached(qe.executedPlan).flatMap(collect(_) {
          case s: FileSourceScanExec
              if s.relation.location.rootPaths
                .exists(_.toString.contains(dir)) =>
            s.requiredSchema.fieldNames.toSeq
        })
      def caches(qe: QueryExecution): Boolean =
        collect(qe.executedPlan) { case c: InMemoryTableScanExec => c }
          .nonEmpty
      /** Every query of `body`, once the listener bus has delivered them
        * (a sentinel query's event arrives after all earlier ones).
        */
      def of[A](body: => A): (A, Seq[QueryExecution]) = {
        seen.clear()
        spark.listenerManager.register(listener)
        try {
          val a = body
          val sentinel = spark.range(1).select(lit("plan-once-sentinel"))
          sentinel.collect()
          val deadline = System.currentTimeMillis() + 30000L
          def done = seen.toArray(Array.empty[QueryExecution])
            .exists(_.analyzed.toString.contains("plan-once-sentinel"))
          while (!done && System.currentTimeMillis() < deadline)
            Thread.sleep(20)
          assert(done, "listener bus drained")
          (a, seen.toArray(Array.empty[QueryExecution]).toSeq
            .filterNot(_.analyzed.toString.contains("plan-once-sentinel")))
        } finally spark.listenerManager.unregister(listener)
      }
    }
    val in = s"$scratch/planonce_input"
    val n = Synth.writeTable(spark, in, seed, 20L)
    val cfg = PipelineConfig(in, s"$scratch/planonce_sinks")

    val (r1, qs1) = plans.of(Main.runCycle(spark, cfg, farFuture))
    assert(r1.rowsProcessed == n)
    val reads = qs1.map(plans.scans(_, "planonce_input")).filter(_.nonEmpty)
    assert(reads.length == 2 && reads.count(_ == Seq(Seq("ts"))) == 1,
      "the staged write is the only query that reads the input rows; the " +
        s"file ledger's stat reads only ts: $reads")
    assert(!qs1.exists(plans.caches), "no cached relation in any plan")

    val (r2, qs2) = plans.of(Main.runCycle(spark, cfg, farFuture))
    assert(r2.rowsProcessed == 0L)
    assert(qs2.forall(plans.scans(_, "planonce_input").isEmpty),
      "a no-op cycle reads no input file")
    assert(!new java.io.File(Sinks.stagingDir(cfg.sinkRoot, r2.batchId))
      .exists(), "an empty staged write is deleted")
    assert(!new java.io.File(s"${cfg.sinkRoot}/_metrics/${r2.batchId}")
      .exists(), "a no-op writes no metrics")
  }

  test("crash after the staged write, before the lineage commit: the " +
      "re-run's sinks and metric tables equal a crash-free run") {
    val in = s"$scratch/crash_in"
    writeMetricFixture(in)
    val asOf = Timestamp.from(java.time.Instant.parse("2026-06-01T00:00:00Z"))
    // the crashing run's lineage dir sits below a regular FILE: the
    // cycle-start read sees no lineage, and the commit fails after the
    // publish and the metric writes
    val block = new java.io.File(s"$scratch/crash_lineage_block")
    java.nio.file.Files.writeString(block.toPath, "not a dir")
    val crashCfg = PipelineConfig(in, s"$scratch/crash_sinks",
      lineagePath = s"${block.getPath}/lineage")
    intercept[Exception](Main.runCycle(spark, crashCfg, asOf))
    val okCfg = PipelineConfig(in, s"$scratch/crash_ref_sinks",
      lineagePath = s"$scratch/crash_ref_lineage")
    val ref = Main.runCycle(spark, okCfg, asOf)
    val orphanMetrics =
      new java.io.File(s"${crashCfg.sinkRoot}/_metrics/${ref.batchId}")
    assert(orphanMetrics.isDirectory, "the crash hit after the metric writes")
    assert(Route.sinkNames.forall(s => Sinks.readSink(spark,
      crashCfg.sinkRoot, s, Lineage.dirFor(crashCfg)).isEmpty),
      "nothing of the crashed batch is committed")

    block.delete()
    val re = Main.runCycle(spark, crashCfg, asOf)
    assert(re.batchId == ref.batchId && re.rowsProcessed == ref.rowsProcessed)
    assert(re.publishedSinks.sorted == ref.publishedSinks.sorted)
    ref.publishedSinks.foreach { s =>
      assertSameTable(
        Sinks.readSink(spark, crashCfg.sinkRoot, s, Lineage.dirFor(crashCfg)),
        Sinks.readSink(spark, okCfg.sinkRoot, s, Lineage.dirFor(okCfg)),
        s"sink $s")
    }
    metricTables.foreach { t =>
      assertSameTable(
        spark.read.parquet(s"${crashCfg.sinkRoot}/_metrics/${re.batchId}/$t"),
        spark.read.parquet(s"${okCfg.sinkRoot}/_metrics/${ref.batchId}/$t"), t)
    }
    assert(!new java.io.File(s"${crashCfg.sinkRoot}/_staging/${re.batchId}")
      .exists())
  }

  // ---- the file ledger (per-file sincedb) ----------------------------

  /** Writes `rows` (conv_id, turn_idx, role, ts, storage_class) as ONE
    * parquet file at exactly `dest`, replacing any file there; the
    * local filesystem's checksum sidecar of the old file goes with it.
    */
  private def putFile(dest: String,
      rows: Seq[(String, Int, String, Timestamp, String)]): Unit = {
    val tmp = s"$scratch/putfile-${System.nanoTime()}"
    rows.map { case (c, i, role, ts, sc) =>
      (c, i, role, s"${Synth.isoTs(ts.getTime)} INFO [$role] $c/$i",
        null: String, ts, sc)
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts",
        "storage_class")
      .coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    val target = new java.io.File(dest)
    target.getParentFile.mkdirs()
    new java.io.File(target.getParentFile, s".${target.getName}.crc").delete()
    java.nio.file.Files.move(part.toPath, target.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** Two sink roots over one input: `a` keeps its file ledger, `b` has
    * its `_files` dir deleted before every cycle. Each [[cycle]] runs
    * both and checks they return the same result; [[assertSameOutputs]]
    * compares their committed sinks and stranded manifests.
    */
  private final class LedgerTwins(name: String, in: String,
      mk: (String, String) => PipelineConfig) {
    val a = mk(in, s"$scratch/$name/keeps")
    val b = mk(in, s"$scratch/$name/rebuilds")
    def ledgerDir(cfg: PipelineConfig): String =
      FileLedger.dir(Lineage.dirFor(cfg))
    def cycle(asOf: Timestamp): Main.CycleResult = {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(ledgerDir(b)))
      val ra = Main.runCycle(spark, a, asOf)
      val rb = Main.runCycle(spark, b, asOf)
      assert(ra == rb, s"$name: ledger-keeping cycle $ra, rebuilt $rb")
      ra
    }
    def assertSameOutputs(): Unit = {
      Route.sinkNames.foreach { s =>
        assertSameTable(
          Sinks.readSink(spark, a.sinkRoot, s, Lineage.dirFor(a)),
          Sinks.readSink(spark, b.sinkRoot, s, Lineage.dirFor(b)),
          s"$name: sink $s")
      }
      def manifest(cfg: PipelineConfig) =
        BatchDirs(Sinks.deferredDir(cfg.sinkRoot, Lineage.checkpointId(cfg)))
          .read(spark, Lineage.committedBatchesAt(spark, Lineage.dirFor(cfg)))
          .map(_.select($"conv_id", $"turn_idx").collect().toSet)
      assert(manifest(a) == manifest(b), s"$name: stranded manifests")
    }
    /** The single ledger file of `a`. */
    def onlyLedgerFile(): java.io.File = {
      val fs = new java.io.File(ledgerDir(a)).listFiles()
        .filter(_.getName.endsWith(".ledger"))
      assert(fs.length == 1, s"$name: ledger files ${fs.toSeq}")
      fs.head
    }
  }

  private def tsAt(minutes: Long): Timestamp =
    new Timestamp(Synth.baseEpochMs + minutes * 60000L)

  test("file ledger: the kept ledger and one rebuilt every cycle commit " +
      "the same rows over cutoff-deferred, late, cold, day/ts-mismatch " +
      "and rewritten files under an input path with a space") {
    val in = s"$scratch/ledger eq/in put"
    val d1 = s"$in/day=2025-01-01"
    val tw = new LedgerTwins("ledger_eq", in, (i, root) =>
      PipelineConfig(i, root, storageClassCol = "storage_class"))
    // cycle 1 at +60 min: c1's turn 5 (+70) is past the cutoff; the cold
    // c2 rows are stranded behind the watermark; c3's one row sits in
    // the day before its ts (a day/ts mismatch) and is past the cutoff
    // too. Committed, it moves that day's watermark past its end, and
    // the ledger drops the day's covered file from then on
    putFile(s"$d1/f1.parquet", (0 until 5).map(i =>
      ("c1", i, "user", tsAt(10L + 10 * i), null: String)) :+
      (("c1", 5, "user", tsAt(70L), null: String)))
    putFile(s"$d1/f2.parquet", Seq(("c2", 0, "user", tsAt(20L), "GLACIER"),
      ("c2", 1, "assistant", tsAt(21L), "GLACIER")))
    putFile(s"$in/day=2024-12-31/f3.parquet",
      Seq(("c3", 0, "user", tsAt(1500L), null)))
    assert(tw.cycle(tsAt(60L)).rowsProcessed == 5L)
    // every listed file is keyed in the ledger exactly as the walk lists
    // it: the scan's URI-encoded file path maps back to the walk's path
    val listed = Discover.listInputFilesDetecting(spark, in, Map.empty)._1
      .map(FileLedger.Key.of).toSet
    assert(listed.exists(_.path.contains("in put/day=")))
    assert(FileLedger.read(spark, tw.ledgerDir(tw.a)).keySet == listed)

    // cycle 2: a late file behind day one's watermark lands; the deferred
    // and the mismatched rows commit, the late rows drop as before
    putFile(s"$d1/f4.parquet", Seq(("c4", 0, "user", tsAt(5L), null),
      ("c4", 1, "assistant", tsAt(6L), null)))
    assert(tw.cycle(tsAt(4320L)).rowsProcessed == 2L)

    // cycle 3: the late file is rewritten in place, larger, with rows
    // above the watermark; its stale entry no longer matches
    putFile(s"$d1/f4.parquet", Seq(("c4", 0, "user", tsAt(100L), null),
      ("c4", 1, "assistant", tsAt(101L), null),
      ("c4", 2, "user", tsAt(102L), null)))
    assert(tw.cycle(tsAt(4330L)).rowsProcessed == 3L)

    // cycle 4: nothing new, and no file is pinned
    assert(tw.cycle(tsAt(4340L)).rowsProcessed == 0L)
    val (wms, _, _) = Lineage.stateAt(spark, Lineage.dirFor(tw.a))
    assert(Discover.discover(spark, tw.a, tsAt(4340L), wms, Map.empty)
      .files.isEmpty, "every file is covered by the watermark")
    tw.assertSameOutputs()
  }

  /** Commits a file with one cutoff-deferred row, damages the one
    * ledger file with `damage`, then checks the next cycle commits the
    * deferred row as a run without the ledger does.
    */
  private def tornLedgerCase(name: String)(damage: String => String): Unit = {
    val in = s"$scratch/$name/in"
    val tw = new LedgerTwins(name, in, (i, root) => PipelineConfig(i, root))
    putFile(s"$in/day=2025-01-01/f1.parquet", (0 until 5).map(i =>
      ("c1", i, "user", tsAt(10L + 10 * i), null: String)) :+
      (("c1", 5, "user", tsAt(70L), null: String)))
    assert(tw.cycle(tsAt(60L)).rowsProcessed == 5L)
    val f = tw.onlyLedgerFile()
    val text = java.nio.file.Files.readString(f.toPath)
    assert(text.contains(s" ${tsAt(70L).getTime * 1000L}\n"),
      s"the entry records the deferred row's ts: $text")
    java.nio.file.Files.writeString(f.toPath, damage(text))
    new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    assert(tw.cycle(tsAt(4320L)).rowsProcessed == 1L,
      "the damaged entry is unknown, so the file is read again")
    tw.assertSameOutputs()
  }

  test("file ledger: a truncated ledger file (a cut-off max ts, no " +
      "footer) is ignored, never read as a lower max") {
    val maxTs = (tsAt(70L).getTime * 1000L).toString
    tornLedgerCase("ledger_torn")(t =>
      t.substring(0, t.indexOf(maxTs) + 4))
  }

  test("file ledger: a garbage line or a changed max fails the footer " +
      "checksum, and the file is statted again") {
    val maxTs = (tsAt(70L).getTime * 1000L).toString
    tornLedgerCase("ledger_garbage")(t =>
      "garbage\n" + t.replace(s" $maxTs\n", " 0\n"))
  }

  test("file ledger: an input file rewritten at the same path with a new " +
      "size is read again") {
    val in = s"$scratch/ledger_rewrite/in"
    val f1 = s"$in/day=2025-01-01/f1.parquet"
    val tw = new LedgerTwins("ledger_rewrite", in,
      (i, root) => PipelineConfig(i, root))
    putFile(f1, (0 until 3).map(i =>
      ("c1", i, "user", tsAt(10L + 10 * i), null: String)))
    assert(tw.cycle(tsAt(4320L)).rowsProcessed == 3L)
    val before = new java.io.File(f1).length()
    putFile(f1, (0 until 5).map(i =>
      ("c1", i, "user", tsAt(10L + 10 * i), null: String)))
    assert(new java.io.File(f1).length() != before)
    assert(tw.cycle(tsAt(4330L)).rowsProcessed == 2L,
      "the rewritten file's rows above the watermark commit")
    tw.assertSameOutputs()
  }

  test("without sealing, a day completed by a row past its end is still " +
      "listed: a later file with rows above its watermark commits") {
    val in = s"$scratch/unsealed_done/in"
    val cfg = PipelineConfig(in, s"$scratch/unsealed_done/sinks")
    val day = s"$in/day=2024-12-31"
    putFile(s"$day/f1.parquet", Seq(("c1", 0, "user", tsAt(1500L), null)))
    assert(Main.runCycle(spark, cfg, tsAt(4320L)).rowsProcessed == 1L)
    assert(Discover.completedDays(Lineage.watermarks(spark, cfg.sinkRoot)) ==
      Set("2024-12-31"), "the row past the day's end completes the day")
    putFile(s"$day/f2.parquet", Seq(("c2", 0, "user", tsAt(1600L), null)))
    assert(Main.runCycle(spark, cfg, tsAt(4330L)).rowsProcessed == 1L,
      "the row above the watermark commits")
    assert(Route.sinkNames.map(s => Sinks.readSink(spark, cfg.sinkRoot, s)
      .filter($"conv_id" === "c2").count()).sum == 1L)
  }

  test("file ledger text: every prefix of a ledger file parses to all of " +
      "its entries or none; an unparseable line is skipped on its own") {
    val entries = Map(
      FileLedger.Key("file:/in put/day=2025-01-01/a b.parquet", 10L, 20L) ->
        Some(1735689612345678L),
      FileLedger.Key("file:/in/day=2025-01-02/c%d.parquet", 11L, 21L) -> None)
    def parse(t: String) =
      CheckpointStore.parse(t).fold(Map.empty[FileLedger.Key,
        FileLedger.MaxTs])(FileLedger.entries)
    val text = CheckpointStore.format(FileLedger.lines(entries))
    assert(parse(text) == entries)
    (0 until text.length).foreach { n =>
      val got = parse(text.substring(0, n))
      assert(got.isEmpty || got == entries, s"prefix of $n chars: $got")
    }
    // a line that fits the footer but is not an entry drops alone
    val body = "not an entry\n"
    val crc = new java.util.zip.CRC32
    crc.update(body.getBytes("UTF-8"))
    assert(parse(
      s"${body}#end 1 ${java.lang.Long.toHexString(crc.getValue)}\n").isEmpty)
    val withGood = text.substring(0, text.indexOf("#end")) + body
    val crc2 = new java.util.zip.CRC32
    crc2.update(withGood.getBytes("UTF-8"))
    assert(parse(
      s"${withGood}#end 3 ${java.lang.Long.toHexString(crc2.getValue)}\n") ==
      entries)
  }

  test("file ledger fold: past 64 ledger files one file keeps the entries " +
      "of the listed files, and exactly the folded files are deleted") {
    val dir = s"$scratch/ledger_fold/_files"
    val keys = (0 until 70).map(i =>
      FileLedger.Key(s"file:/in/day=2025-01-01/f$i.parquet", i.toLong, 1L))
    keys.foreach(k => FileLedger.append(spark, dir, Map(k -> Some(k.length))))
    assert(!FileLedger.fold(spark, dir, keys.toSet, maxFiles = 70))
    val listed = keys.take(50).toSet
    assert(FileLedger.fold(spark, dir, listed))
    assert(new java.io.File(dir).list().count(_.endsWith(".ledger")) == 1)
    assert(FileLedger.read(spark, dir) ==
      listed.map(k => k -> Some(k.length)).toMap)
  }

  private def write2(dest: String,
      schema: org.apache.spark.sql.types.StructType,
      rows: org.apache.spark.sql.Row*): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .write.mode("overwrite").parquet(dest)
}
