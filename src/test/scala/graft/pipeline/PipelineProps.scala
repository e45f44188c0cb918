package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property-based checks (an upgrade over the reference's example-based
  * RSpec suite, SURVEY.md §5): the distributed prefix-scan primitives
  * must equal their naive single-window definitions for ARBITRARY
  * inputs and chunk sizes, a scan continued from a carry-in must equal
  * one scan over the whole conversation, routing must partition any
  * input, and the literal watermark predicate must implement exactly
  * the (day unseen) OR (ts > wm) semantics.
  */
object PipelineProps extends Properties("pipeline") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // every property over genRows uses forAllNoShrink: a shrunk list can
  // repeat a (conv_id, turn_idx) key, which the scans do not order, and
  // each shrink step re-runs the Spark scans
  private val genRows: Gen[List[(String, Int, Int)]] = for {
    nConvs <- Gen.choose(1, 4)
    rows <- Gen.listOfN(60, for {
      c <- Gen.choose(0, nConvs - 1)
      v <- Gen.choose(0, 3)
    } yield (s"c$c", v))
  } yield rows.groupBy(_._1).toList.flatMap { case (c, vs) =>
    vs.zipWithIndex.map { case ((_, v), i) => (c, i, v) }
  }

  private val genChunk: Gen[Int] = Gen.choose(1, 9)

  property("prefixSum == naive running sum for any input and chunk size") =
    Prop.forAllNoShrink(genRows, genChunk) { (rows, chunk) =>
      rows.isEmpty || {
        val df = rows.toDF("conv_id", "turn_idx", "v")
        val got = PrefixOps.scanMany(df, Nil, Some(col("v") -> "run"),
            chunkSize = chunk)
          .select($"conv_id", $"turn_idx", $"run")
        val w = Window.partitionBy($"conv_id").orderBy($"turn_idx")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val naive = df.withColumn("run", sum($"v".cast("long")).over(w))
          .select($"conv_id", $"turn_idx", $"run")
        got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty
      }
    }

  property("propagateLastNonNull == naive ignoreNulls window") =
    Prop.forAllNoShrink(genRows, genChunk) { (rows, chunk) =>
      rows.isEmpty || {
        // v == 0 -> null marker, else a string value
        val df = rows.toDF("conv_id", "turn_idx", "v")
          .withColumn("mark", when($"v" > 0, concat(lit("m"), $"v")))
        val got = PrefixOps.scanMany(df, Seq(col("mark") -> "hdr"), None,
            chunkSize = chunk)
          .select($"conv_id", $"turn_idx", $"hdr")
        val w = Window.partitionBy($"conv_id").orderBy($"turn_idx")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val naive = df
          .withColumn("hdr", last($"mark", ignoreNulls = true).over(w))
          .select($"conv_id", $"turn_idx", $"hdr")
        got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty
      }
    }

  property("scanMany carry-in == one scan over earlier rows + rows, " +
      "for lastCols, sum and lag together and singly") =
    // no shrinking: a shrunk `splits` loses conversations' entries and a
    // shrunk row can repeat a (conv, turn) key, neither a valid input
    Prop.forAllNoShrink(genRows, genChunk,
        Gen.listOfN(4, Gen.choose(0, 20))) {
      (rows, chunk, splits) =>
      rows.isEmpty || {
        // conversation c<i> splits at turn splits(i): 0 = no earlier
        // rows (no carry-in row), past its length = no later rows
        val df = rows.map { case (c, i, v) =>
            (c, i, v, splits(c.stripPrefix("c").toInt))
          }.toDF("conv_id", "turn_idx", "v", "k")
          .withColumn("mark", when($"v" > 0, concat(lit("m"), $"v")))
          .withColumn("mark2", when($"v" % 2 === 1, concat(lit("f"), $"v")))
          .withColumn("lagv", when($"v" =!= 0, $"v"))
        val lasts = Seq(col("mark") -> "hdr", col("mark2") -> "hdr2")
        val sumOf = Some(col("v") -> "run")
        val lagOf = Some(col("lagv") -> "prev")
        // the earlier rows' state at each conversation's last row: the
        // outputs' values, and the lag's input value. One carry frame
        // serves every shape (columns a shape does not produce are
        // ignored)
        val earlier = df.filter($"turn_idx" < $"k")
        val carry = PrefixOps.scanMany(earlier, lasts, sumOf,
            chunkSize = chunk, lag = lagOf)
          .groupBy($"conv_id")
          .agg(max_by($"hdr", $"turn_idx").as("hdr"),
            max_by($"hdr2", $"turn_idx").as("hdr2"),
            max_by($"run", $"turn_idx").as("run"),
            max_by($"lagv", $"turn_idx").as("prev"))
        val shapes = Seq(
          (lasts, sumOf, lagOf, Seq("hdr", "hdr2", "run", "prev")),
          (lasts, None, None, Seq("hdr", "hdr2")),
          (Nil, sumOf, None, Seq("run")),
          (Nil, None, lagOf, Seq("prev")))
        shapes.forall { case (l, s, g, outs) =>
          val keep = (Seq("conv_id", "turn_idx") ++ outs).map(col)
          val got = PrefixOps.scanMany(df.filter($"turn_idx" >= $"k"), l, s,
              chunkSize = chunk, lag = g, carryIn = Some(carry))
            .select(keep: _*)
          val expect = PrefixOps.scanMany(df, l, s, chunkSize = chunk,
              lag = g)
            .filter($"turn_idx" >= $"k").select(keep: _*)
          got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty
        }
      }
    }

  private val genText: Gen[String] = Gen.oneOf(
    Gen.const("2025-01-01T00:00:00Z INFO [user] plain body"),
    Gen.const("#Version: 9"),
    Gen.const("#Fields: a b"),
    Gen.const("   continuation line"),
    Gen.const("@@garbage not a log line"),
    Gen.alphaNumStr.map(s => s"junk $s"))

  private val genRole: Gen[String] =
    Gen.oneOf("user", "assistant", "tool", "system", "alien", "")

  property("lagGatedPrefixSum == lagOne -> prefixSum composition " +
      "(the r9 fused what=next scan) for any input and chunk size") =
    Prop.forAllNoShrink(genRows, genChunk) { (rows, chunk) =>
      rows.isEmpty || {
        // text "2"/"3" belongs (v > 1); v == 0 -> a null lag value
        val df = rows.toDF("conv_id", "turn_idx", "v")
          .withColumn("text", $"v".cast("string"))
          .withColumn("mark", when($"v" =!= 0, $"v"))
        val w = Window.partitionBy($"conv_id").orderBy($"turn_idx")
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // what=next record ids == naive lag -> running sum of record starts
        val sid = Parse.sessionizeConfigured(df,
            Parse.MultilineConfig("^[23]$", what = "next"), chunkSize = chunk)
          .select($"conv_id", $"turn_idx", $"session_id")
        val naiveSid = df
          .withColumn("_start",
            when(coalesce(lag($"v" > 1, 1).over(w), lit(false)), 0L)
              .otherwise(1L))
          .withColumn("session_id", sum($"_start").over(wRun))
          .select($"conv_id", $"turn_idx", $"session_id")
        // the scan's lag == naive lag: null on a conversation's first row,
        // and a null previous value stays null
        val prev = PrefixOps.scanMany(df, Nil, None, chunkSize = chunk,
            lag = Some($"mark" -> "prev"))
          .select($"conv_id", $"turn_idx", $"prev")
        val naivePrev = df.withColumn("prev", lag($"mark", 1).over(w))
          .select($"conv_id", $"turn_idx", $"prev")
        sid.exceptAll(naiveSid).isEmpty && naiveSid.exceptAll(sid).isEmpty &&
          prev.exceptAll(naivePrev).isEmpty && naivePrev.exceptAll(prev).isEmpty
      }
    }

  property("routing assigns every row exactly one known sink") =
    forAll(Gen.listOfN(40, Gen.zip(genRole, genText)),
      Gen.oneOf("", "junk", "body", "\\d+")) { (rows, pattern) =>
      rows.isEmpty || {
        val ts0 = new Timestamp(Synth.baseEpochMs)
        val turns = rows.zipWithIndex.map { case ((r, t), i) =>
          Turn(s"c${i % 3}", i, r, t, null, ts0)
        }.toDS()
        val routed = Route(Parse(turns), excludePattern = pattern)
        val n = routed.count()
        val sinks = routed.groupBy($"sink").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        n == rows.size && sinks.values.sum == n &&
          sinks.keySet.subsetOf(Route.sinkNames.toSet)
      }
    }

  property("sessionizeConfigured == naive window for any pattern/negate/what/chunk") =
    forAll(
      Gen.listOfN(30, Gen.oneOf("SEP", "data line", "  pad", "SEP tail")),
      Gen.oneOf(true, false),
      Gen.oneOf("previous", "next"),
      genChunk) { (texts, negate, what, chunk) =>
      texts.isEmpty || {
        val ts0 = new Timestamp(Synth.baseEpochMs)
        val ds = texts.zipWithIndex.map { case (t, i) =>
          Turn(s"c${i % 2}", i, "user", t, null, ts0)
        }.toDS()
        val df = ds.toDF()
        val cfg = Parse.MultilineConfig("^SEP", negate, what)
        val got = Parse.sessionizeConfigured(df, cfg, chunkSize = chunk)
          .select($"conv_id", $"turn_idx", $"session_id")
        val w = Window.partitionBy($"conv_id").orderBy($"turn_idx")
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val matches = $"text".rlike("^SEP")
        val belongs = if (negate) !matches else matches
        val continues = what match {
          case "previous" => belongs
          case "next" => coalesce(lag(belongs, 1).over(w), lit(false))
        }
        val naive = df.withColumn("is_continuation", continues)
          .withColumn("_start", when($"is_continuation", 0L).otherwise(1L))
          .withColumn("session_id", sum($"_start").over(wRun))
          .select($"conv_id", $"turn_idx", $"session_id", $"is_continuation")
        val naiveIds = naive.drop("is_continuation")
        // the pipeline's multiline codec: same record ids, and its routing
        // flag is the same continuation rule
        val piped = Pipeline(ds, chunkSize = chunk,
            codec = Pipeline.MultilineCodec(cfg))
          .select($"conv_id", $"turn_idx", $"session_id", $"is_continuation")
        got.exceptAll(naiveIds).isEmpty && naiveIds.exceptAll(got).isEmpty &&
          piped.exceptAll(naive).isEmpty && naive.exceptAll(piped).isEmpty
      }
    }

  property("S6 split is a PARTITION of the delta: eligible + deferred == " +
      "unfiltered, disjoint, for arbitrary class/header combos") =
    forAll(Gen.listOfN(15, Gen.zip(
      Gen.oneOf(List("STANDARD", "GLACIER", "DEEP_ARCHIVE", null)),
      Gen.oneOf(List(null,
        "ongoing-request=\"false\", expiry-date=\"2027-01-01 00:00:00\"",
        "ongoing-request=\"true\", expiry-date=\"2027-01-01 00:00:00\"",
        "ongoing-request=\"false\", expiry-date=\"2020-01-01 00:00:00\"",
        "not a restore header"))))) { rows =>
      rows.isEmpty || {
        val dir = SparkTestSession.scratchDir("s6prop")
        try {
          val ts0 = new Timestamp(Synth.baseEpochMs)
          rows.zipWithIndex.map { case ((sc, rh), i) =>
            (s"p$i", 0, "user", s"2025-01-01T00:00:00Z INFO [user] r$i",
              null: String, ts0, sc, rh, "2025-01-01")
          }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts",
              "storage_class", "restore_hdr", "day")
            .write.mode("overwrite").partitionBy("day").parquet(dir)
          val asOf = new Timestamp(Synth.baseEpochMs + 86400000L)
          val cfg = PipelineConfig(dir, s"$dir-sinks",
            storageClassCol = "storage_class",
            restoreHeaderCol = "restore_hdr")
          val disc = Discover.discover(spark, cfg, asOf, Map.empty,
            Map.empty)
          val (elig, defer) = (disc.delta, disc.deferredCold)
          def ids(df: org.apache.spark.sql.DataFrame) =
            df.select($"conv_id").collect().map(_.getString(0)).toSet
          val all = ids(Discover.delta(spark,
            cfg.copy(storageClassCol = null, restoreHeaderCol = null),
            asOf, Map.empty))
          val (e, d) = (ids(elig), ids(defer))
          (e ++ d) == all && (e & d).isEmpty
        } finally org.apache.commons.io.FileUtils
          .deleteQuietly(new java.io.File(dir))
      }
    }

  property("literal watermark predicate == reference semantics") =
    forAll(
      // a null day (a __HIVE_DEFAULT_PARTITION__ analog) has no
      // watermark, so the reference keeps the row
      Gen.listOfN(30, Gen.zip(
        Gen.frequency(1 -> Gen.const(None),
          5 -> Gen.choose(1, 5).map(d => Some(f"2025-01-$d%02d"))),
        Gen.choose(0L, 100L))),
      Gen.mapOf(Gen.zip(Gen.choose(1, 5).map(d => f"2025-01-$d%02d"),
        Gen.choose(0L, 100L).map(s => new Timestamp(s * 1000L))))) {
      (rows, wms) =>
      rows.isEmpty || {
        val df = rows.zipWithIndex.map { case ((d, s), i) =>
          (i, d, new Timestamp(s * 1000L))
        }.toDF("id", "day", "ts")
        val got =
          if (wms.isEmpty) df else df.filter(Discover.watermarkPredicate(wms))
        val expect = rows.zipWithIndex.filter { case ((d, s), _) =>
          d.flatMap(wms.get) match {
            case None => true
            case Some(wm) => s * 1000L > wm.getTime
          }
        }.map(_._2).toSet
        got.select($"id").collect().map(_.getInt(0)).toSet == expect
      }
    }

  property("resolveClusters == reference union-find for any pair graph") =
    forAll(Gen.listOfN(25,
      Gen.zip(Gen.choose(0, 15), Gen.choose(0, 15)))) { rawPairs =>
      val pairs = rawPairs.collect { case (a, b) if a != b =>
        (f"n$a%02d", f"n$b%02d")
      }
      pairs.isEmpty || {
        // reference: driver-side union-find over the same undirected graph
        val parent = scala.collection.mutable.Map[String, String]()
        def find(x: String): String = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        def union(a: String, b: String): Unit = {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.Ordering.String.max(ra, rb)) =
            math.Ordering.String.min(ra, rb)
        }
        pairs.foreach { case (a, b) => union(a, b) }
        val expect = parent.keys
          .map(n => n -> find(n)).toMap // min id per component by union rule
        val res = graft.ops.Dedup.resolveClustersIter(
          pairs.toDF("id_a", "id_b"))
        val got = res.labels.collect()
          .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2)))
          .toMap
        res.release()
        res.converged &&
          got.keySet == expect.keySet &&
          got.forall { case (id, (label, keep)) =>
            label == expect(id) && keep == (id == label)
          }
      }
    }
}
