package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the "would this survive 100x
  * scale-up" checks. Each test pins a property the pipeline relies on
  * at 10^12-turn scale: scan pushdown, partition pruning, no join for
  * the enrichment dims, top-k without a global sort.
  * Regressions here are silent performance cliffs, so they are tested
  * like correctness.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private lazy val scratch = {
    val dir = SparkTestSession.scratchDir("planspec")
    sys.addShutdownHook(
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)))
    Synth.writeTable(spark, s"$dir/input", 42L, 30L)
    dir
  }

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  // enrich is a constant lookup: no BroadcastHashJoin, BroadcastExchange
  // or SortMergeJoin anywhere in the plan
  test("full pipeline pass plans no join for the enrich dims") {
    val turns = spark.read.schema(
        Schema.turnSchema.add("day", org.apache.spark.sql.types.StringType))
      .parquet(s"$scratch/input").as[Turn]
    val plan = physical(Pipeline(turns))
    Seq("BroadcastHashJoin", "BroadcastExchange", "SortMergeJoin")
      .foreach(op => assert(!plan.contains(op), s"$op in:\n$plan"))
  }

  test("discover pushes the ts cutoff into the parquet scan; watermarks " +
      "stay literal predicates") {
    val cfg = PipelineConfig(s"$scratch/input", s"$scratch/sinks")
    val wms = Map("2025-01-01" -> new Timestamp(Synth.baseEpochMs + 3600000L))
    val asOf = new Timestamp(Synth.baseEpochMs + 365L * 86400000L)
    val plan = Discover.delta(spark, cfg, asOf, wms)
      .queryExecution.executedPlan.toString
    // the cutoff bound reaches the scan as a data filter (row-group stats
    // skipping); the watermark disjunction mixes `day` and `ts`, so it is
    // applied by the Filter above the scan and pushes no `ts > wm` bound
    val pushed = "PushedFilters: \\[[^\\]]*".r.findFirstIn(plan)
    assert(pushed.exists(_.contains("LessThanOrEqual(ts,")),
      s"expected the ts cutoff in PushedFilters, got:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      "small watermark maps must be literal predicates, not joins")
  }

  test("literal watermark predicate == broadcast-join fallback (same delta)") {
    val cfg = PipelineConfig(s"$scratch/input", s"$scratch/sinks")
    val asOf = new Timestamp(Synth.baseEpochMs + 365L * 86400000L)
    // plain reads infer the `day` partition column as DATE; cast back
    val days = spark.read.parquet(s"$scratch/input")
      .groupBy($"day".cast("string").as("day"))
      .agg(avg($"ts".cast("long")).cast("timestamp").as("mid"))
      .collect().map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    // pick watermarks mid-day for half the days: both paths must agree
    val wms = days.toSeq.sortBy(_._1).take(days.size / 2).toMap
    val cols = Schema.turnSchema.fieldNames.map(col).toSeq :+ col("day")
    val literalPath = Discover.delta(spark, cfg, asOf, wms).select(cols: _*)
    // the broadcast-join fallback, inlined with identical semantics
    val wmDf = wms.toSeq.toDF("day", "wm")
    val joined = spark.read
      .schema(Schema.turnSchema.add("day", org.apache.spark.sql.types.StringType))
      .parquet(cfg.inputPath)
      .join(broadcast(wmDf), Seq("day"), "left")
      .filter(col("wm").isNull || col("ts") > col("wm"))
      .drop("wm")
      .filter(Discover.cutoffPredicate(asOf, cfg.cutoffSeconds))
      .filter(length(col("text")) > 0)
      .select(cols: _*)
    assert(literalPath.exceptAll(joined).isEmpty &&
      joined.exceptAll(literalPath).isEmpty)
  }

  test("partition pruning: filter on day scans only matching partitions") {
    val someDay = spark.read.parquet(s"$scratch/input")
      .select($"day".cast("string")).head().getString(0)
    val pruned = spark.read.parquet(s"$scratch/input")
      .filter($"day" === someDay)
    pruned.count() // materialize so the AQE final plan is available
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains(someDay),
      s"expected partition filter in scan, got:\n$plan")
  }

  test("column pruning: narrow projection reads a narrow schema") {
    val df = spark.read.parquet(s"$scratch/input")
      .select($"conv_id", $"turn_idx")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema") && !scan.contains("text"),
      s"scan must not read unused fat columns:\n$scan")
  }

  test("cosine top-k plans as TakeOrderedAndProject, not a global sort") {
    val emb = spark.range(100).select($"id".as("vec_id"),
      array((0 until 8).map(i => (rand(i) * 2 - 1).cast("float")): _*)
        .as("embedding"))
    val topk = graft.ops.Similarity.cosineTopK(emb, "vec_id", "embedding",
      Seq.fill(8)(0.5), 10)
    val plan = physical(topk)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition heap + driver merge:\n$plan")
  }

  test("bucketed transcript table eliminates the per-conversation exchange") {
    // At 100 TB the transcript table is written bucketed by conv_id so
    // every per-conversation operation (prefix scans, groupBy, the
    // salted sink write) reuses the stored partitioning instead of
    // shuffling — this pins that Spark actually elides the Exchange.
    // default warehouse = ./spark-warehouse (gitignored); the dir is a
    // static conf, so it can't be pointed at the scratch dir per-test
    Synth.turns(spark, 42L, 20L).toDF()
      .write.bucketBy(8, "conv_id").sortBy("conv_id", "turn_idx")
      .mode("overwrite").saveAsTable("turns_bucketed")
    try {
      val agg = spark.table("turns_bucketed")
        .groupBy($"conv_id").agg(count(lit(1)).as("n"))
      agg.count()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed groupBy(conv_id) must not shuffle:\n$plan")
      // and an unbucketed read of the same data DOES shuffle
      val unbucketed = Synth.turns(spark, 42L, 20L).toDF()
        .groupBy($"conv_id").agg(count(lit(1)).as("n"))
      unbucketed.count()
      assert(unbucketed.queryExecution.executedPlan.toString
        .contains("Exchange"))
    } finally spark.sql("DROP TABLE IF EXISTS turns_bucketed")
  }

  test("e02 near-dup pairs: bucketed equi-join, never a cartesian product") {
    // The LSH-bucketed pair generation must plan the self-join as an
    // equi-join on the bucket id — an all-pairs `id_a < id_b` join is a
    // BroadcastNestedLoopJoin/CartesianProduct, i.e. O(n^2) rows moved:
    // correct at sf0.01, a job-killer at 10^9 vectors.
    val plan = physical(
      graft.Queries.e02(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"e02 must join by LSH bucket, not all-pairs:\n$plan")
  }

  test("d15 contamination screen: benchmark side broadcast, corpus never " +
      "shuffled on its own size") {
    // The corpus scan is the 100 TB side; the benchmark shingle set is
    // tiny. The overlap join must be a broadcast LEFT SEMI — a sort-merge
    // or nested-loop here would shuffle/replicate the full corpus.
    val plan = physical(
      graft.Queries.d15(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark overlap must broadcast the tiny side:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"corpus must never shuffle/replicate on its own size:\n$plan")
  }

  test("d24 LM scoring: both gram lookups are BROADCAST hash joins — " +
      "the exploded corpus is never shuffled on its own size") {
    val docs = Seq((1L, "the table join batch zzz"),
      (2L, "a a value table")).toDF("doc_id", "text")
    val lm = graft.Queries.d24Lm.toDF("gram", "logp_x1e6")
    val plan = physical(graft.ops.TextAnalysis.lmScore(docs, lm))
    assert(plan.contains("BroadcastHashJoin"),
      s"LM table must broadcast, got:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      "the token stream must never shuffle for the LM lookups")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("cross-cycle dedup re-route joins by fingerprint key — no " +
      "cartesian/nested-loop even when the seen-set outgrows broadcast") {
    // the seen store can be years of published fps: with stats above
    // the broadcast threshold the planner must still pick a keyed
    // equi-join (the 100 TB path is a bucketed-store co-partitioned
    // join; a nested-loop here is O(rows x fps))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
      val routed = spark.range(5000).select(
        concat(lit("t"), $"id").as("text"),
        when($"id" % 2 === 0, "user").otherwise("deadletter").as("sink"))
      val seen = spark.range(100000)
        .select(md5(concat(lit("s"), $"id")).as("fp"))
      val out = graft.ops.Dedup.reRouteSeen(routed, seen,
        Route.contentSinks, Route.duplicateSink)
      out.count()
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"dedup re-route must join on the fp key:\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("incremental LSH against the PERSISTED band store: the stored " +
      "side reaches the (band, sig) semi-join with ZERO exchanges and " +
      "is never re-shingled — the first wide op above the store is the " +
      "bucket aggregate") {
    // The 100 TB contract of Dedup.incrementalLshPairs: the stored band
    // table (corpus-sized) is touched by ONE broadcast semi-join on the
    // touched-bucket keys — no shuffle of the stored side before it,
    // and no re-derivation from the documents table. This walks the
    // physical tree instead of string-matching so the assertion is
    // about the stored scan's ACTUAL ancestor chain.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val docs =
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      def bandsOf(df: org.apache.spark.sql.DataFrame) =
        graft.ops.Dedup.lshBands(
          graft.ops.Dedup.minhashSignatures(df, "doc_id", "text", 3, 8),
          "doc_id", 8, 2)
      val root = SparkTestSession.scratchDir("bandstore")
      graft.ops.Dedup.writeBands(bandsOf(docs.filter($"doc_id" < 250)),
        root, "c1", "b1", "doc_id")
      val stored = graft.ops.Dedup.readBands(spark, root, "c1", Set("b1"),
        dedupRows = false).get
      val out = graft.ops.Dedup.incrementalLshPairs(stored,
        bandsOf(docs.filter($"doc_id" >= 250)), "doc_id")
      val exec = out.queryExecution.executedPlan
      def isBandScan(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("_bands"))
        case _ => false
      }
      // path from the root to the stored scan (the scan appears once)
      def pathTo(p: SparkPlan): Option[List[SparkPlan]] =
        if (isBandScan(p)) Some(List(p))
        else p.children.view.flatMap(pathTo).headOption.map(p :: _)
      val chain = pathTo(exec).getOrElse(
        fail(s"stored band scan not found in plan:\n$exec"))
      // the first join/exchange met walking UP from the stored scan must
      // be the broadcast LEFT SEMI on the touched buckets; every node
      // below it is narrow (union/project/filter)
      val firstWide = chain.reverse.tail.find(n =>
        n.isInstanceOf[ShuffleExchangeExec] ||
          n.isInstanceOf[BroadcastHashJoinExec] ||
          n.nodeName.toLowerCase.contains("join"))
      firstWide match {
        case Some(j: BroadcastHashJoinExec) =>
          assert(j.joinType.sql == "LEFT SEMI",
            s"stored side must meet a LEFT SEMI first, got $j")
        case other => fail("stored side must reach a broadcast semi-join " +
          s"before any exchange/other join, met: $other\nplan:\n$exec")
      }
      // no re-shingle: nothing between the semi-join and the stored scan
      // reads the documents table or computes minhash bands
      val belowSemi = chain.dropWhile(n => !(n eq firstWide.get)).tail
      belowSemi.foreach { n =>
        assert(!n.isInstanceOf[ShuffleExchangeExec],
          s"stored side must be exchange-free below the semi-join:\n$exec")
        n match {
          case f: FileSourceScanExec => assert(isBandScan(f),
            s"stored side must read the band store, not re-derive:\n$exec")
          case _ =>
        }
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("incremental LSH touches the stored bands only through keyed " +
      "joins — no cartesian/nested-loop against the corpus-sized side") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def bandsOf(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Dedup.lshBands(
        graft.ops.Dedup.minhashSignatures(df, "doc_id", "text", 3, 8),
        "doc_id", 8, 2)
    val plan = physical(graft.ops.Dedup.incrementalLshPairs(
      bandsOf(docs.filter($"doc_id" < 250)),
      bandsOf(docs.filter($"doc_id" >= 250)), "doc_id"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"incremental pairing must stay bucket/key-joined:\n$plan")
  }

  test("d18 cluster resolution: every propagation step is an equi-join " +
      "on the id key — no cartesian/nested-loop, iterations hard-bounded") {
    // label propagation at 10^9 nodes lives or dies on the per-iteration
    // join being a hash/sort equi-join; a BroadcastNestedLoopJoin or
    // CartesianProduct here is O(V*E) rows moved. The pin targets the
    // UN-checkpointed production step (Dedup.propagationStep) — the
    // full d18 plan is truncated to LogicalRDD leaves by the eager
    // localCheckpoints, so asserting on it would be vacuous.
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val edges = pairs.select($"id_a".as("src"), $"id_b".as("dst"))
      .union(pairs.select($"id_b".as("src"), $"id_a".as("dst"))).distinct()
    val labels = edges.select($"src".as("id")).distinct()
      .withColumn("label", $"id")
    val plan = physical(graft.ops.Dedup.propagationStep(edges, labels))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"label propagation must join by key, not all-pairs:\n$plan")
    // the bound is a hard stop, not advisory (OpsSpec covers the
    // over-segmentation semantics of an early stop)
    // 200 nodes: pointer jumping reaches ~2^k nodes after k rounds, so
    // 3 capped iterations cover at most ~30 hops — the cap still fires
    val chain = (0 until 200).map(i => (f"c$i%03d", f"c${i + 1}%03d"))
    val res = graft.ops.Dedup.resolveClustersIter(
      chain.toDF("id_a", "id_b"), maxIters = 3)
    assert(res.iterations == 3 && !res.converged)
    res.release()
  }

  test("d14 chunking is a pure narrow explode — zero exchanges") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = physical(
      graft.ops.TextAnalysis.chunkPlan(docs, window = 32, stride = 24))
    assert(!plan.contains("Exchange"),
      s"chunking must not shuffle (narrow explode):\n$plan")
    // the BPE-token-window re-base (d14's actual body, minus its
    // presentation orderBy): per-word native tokenization inside the
    // same narrow map — still zero exchanges
    val bpePlan = physical(
      graft.ops.TextAnalysis.chunkPlan(docs, window = 32, stride = 24,
        tokensExpr = Some(flatten(transform(
          graft.ops.Bpe.normalizeWords($"text"),
          w => graft.functions.BpeExprs.bpeTokens(w,
            graft.ops.Bpe.realVocab))))))
    assert(!bpePlan.contains("Exchange"),
      s"BPE-window chunking must not shuffle either:\n$bpePlan")
  }

  test("redrive pending-side join: an oversized backlog is never the " +
      "build side of a forced broadcast — a shuffled LeftSemi feeds the " +
      "pipeline") {
    // a years-long cold backlog can be arbitrarily large; a broadcast()
    // hint on it would OOM the driver. With stats above the broadcast
    // threshold the planner must pick a shuffled semi-join — this pins
    // that Main.pendingSemiJoin leaves the choice to the planner.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
      val current = spark.range(1000).select(
        concat(lit("conv-"), $"id").as("conv_id"),
        ($"id" % 50).cast("int").as("turn_idx"),
        lit("x").as("text"))
      val pending = spark.range(100000).select(
        concat(lit("conv-"), $"id").as("conv_id"),
        ($"id" % 50).cast("int").as("turn_idx"))
      val joined = Main.pendingSemiJoin(current, pending)
      joined.count() // AQE final plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi"),
        s"only the backlog's rows may feed Pipeline (semi-join):\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"an above-threshold backlog must not be broadcast:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("routing + parse stay inside whole-stage codegen") {
    val routed = Route(Parse.parseColumns(
      spark.read.parquet(s"$scratch/input")))
    routed.count() // materialize so the AQE final plan is available
    val plan = physical(routed)
    // toString renders WholeStageCodegen stages as a `*(n)` prefix
    assert(plan.contains("*(1)"),
      s"parse/route column exprs must be codegen'd:\n$plan")
  }

  test("multiline what=next pipeline pays the grok pipeline's (conv_id, " +
      "_chunk) windows: one prefix scan, not two") {
    // the record boundary under what=next reads the PREVIOUS row's
    // match; that lag must ride the same (conv, chunk) scan as the
    // headers and record ids instead of a second fat-row decomposition
    val helper = new AdaptiveSparkPlanHelper {}
    def chunkWindows(codec: Pipeline.Codec): Int = {
      val df = Pipeline(Synth.turns(spark, 42L, 5L), codec = codec)
      df.collect() // AQE final plan; every column, so no window is pruned
      helper.collect(df.queryExecution.executedPlan) {
        case w: WindowExec if w.partitionSpec.flatMap(_.references)
            .map(_.name) == Seq("conv_id", "_chunk") => w
      }.size
    }
    val grok = chunkWindows(Pipeline.GrokCodec)
    val next = chunkWindows(Pipeline.MultilineCodec(
      Parse.MultilineConfig("\\\\$", what = "next")))
    assert(grok > 0)
    assert(next == grok,
      s"what=next runs $next (conv_id, _chunk) windows, grok runs $grok")
  }
}
