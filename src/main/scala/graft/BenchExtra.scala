package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Measurement and evidence main beside the byte-frozen mains
  * (`graft.Bench`, `graft.ScalingBench`, `graft.Verify`); the whole
  * cycle is measured by `perfbench/`. Every subcommand runs in one
  * `BenchPipeline.session`, reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS
  * as `graft.Bench` does, and times with [[best]].
  *
  * Usage: runMain graft.BenchExtra <subcommand>
  *   time <q,...|all>                    noop-sink time per declared query
  *   explain <q,...|all> <dir> <suffix>  writes `<dir>/<q><suffix>.txt`,
  *                                       the formatted final (AQE) plan
  *   hash <outFile> [q,...]              one md5 + row count per query over
  *                                       its collected output (queries carry
  *                                       their own ORDER BY): identical
  *                                       hashes before and after a change
  *                                       == identical results
  *   plans <out.md>                      the formatted plans of the
  *                                       load-bearing shapes (PLANS.md)
  *   stages                              MinHash-LSH / cluster-resolution
  *                                       sub-stage split on documents
  *   pairs                               re-derived vs persisted pair set,
  *                                       and incremental LSH against a
  *                                       persisted band store vs re-derive
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    implicit val spark: SparkSession = BenchPipeline.session(cpus.toInt)
    def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def query(n: String) = SparkEntry.queries(n)(spark, sfDir)
    try args.toList match {
      case List("time", sel) =>
        queryNames(sel).foreach(n => best(n)(noop(query(n))))
      case List("explain", sel, dir, suffix) =>
        Files.createDirectories(Paths.get(dir))
        queryNames(sel).foreach { n =>
          Files.writeString(Paths.get(dir, s"$n$suffix.txt"), formatted(query(n)))
        }
      case "hash" :: out :: sel if sel.size <= 1 =>
        hash(out, queryNames(sel.headOption.getOrElse("all")), query)
      case List("plans", out) => plans(out)
      case List("stages") => stages(docs)
      case List("pairs") => pairs(docs, sfDir)
      case _ =>
        System.err.println("usage: BenchExtra time <q,...|all> | explain " +
          "<q,...|all> <dir> <suffix> | hash <outFile> [q,...] | " +
          "plans <out.md> | stages | pairs")
        sys.exit(2)
    } finally spark.stop()
  }

  private def queryNames(sel: String): Seq[String] =
    (if (sel == "all") SparkEntry.queries.keys.toSeq else sel.split(",").toSeq)
      .sorted

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** A warm-up pass (JIT + codegen), then 3 timed runs; prints all three
    * and returns the best — shared hosts see bursty CPU steal, so only
    * the minimum is comparable across runs.
    */
  private def best(label: String)(f: => Unit)(
      implicit spark: SparkSession): Double = {
    spark.sparkContext.setJobDescription(label)
    f
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.setJobDescription(null)
    System.err.println(f"[extra] $label best=${ts.min}%.3f " +
      s"runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    ts.min
  }

  /** The formatted plan after one action, so AQE's final plan shows. */
  private def formatted(df: DataFrame): String = {
    df.count()
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** A fresh temp dir under the working directory's `target/`. */
  private def scratch(prefix: String): String = {
    val target = Files.createDirectories(Paths.get("target").toAbsolutePath)
    Files.createTempDirectory(target, prefix).toString
  }

  /** The MinHash-LSH derivation every dedup query shares: 3-shingles,
    * 8 hashes, 2-row bands.
    */
  private def bandsOf(df: DataFrame): DataFrame = Dedup.lshBands(
    Dedup.minhashSignatures(df, "doc_id", "text", 3, 8), "doc_id", 8, 2)

  private def pairsOf(df: DataFrame): DataFrame =
    Dedup.lshCandidatePairs(bandsOf(df), "doc_id")

  private def hash(out: String, names: Seq[String],
      query: String => DataFrame): Unit = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val results = names.map { n =>
      val h = try {
        val rows = query(n).collect()
        md.reset()
        md.digest(rows.map(_.toString).mkString("\n").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString + s":rows=${rows.length}"
      } catch { case e: Throwable => s"ERROR:${e.getMessage}".take(120) }
      System.err.println(s"[qh] $n $h")
      s""""$n":"$h""""
    }
    Files.writeString(Paths.get(out), results.mkString("{", ",", "}\n"))
  }

  private def stages(docs: DataFrame)(implicit spark: SparkSession): Unit = {
    best("docs_scan")(noop(docs))
    best("shingle_rows")(noop(Dedup.shingleRows(docs, "doc_id", "text", 3)))
    best("shingle_md5") {
      noop(Dedup.shingleRows(docs, "doc_id", "text", 3)
        .select(col("doc_id"), md5(col("shingle")).as("h")))
    }
    best("minhash_sigs") {
      noop(Dedup.minhashSignatures(docs, "doc_id", "text", 3, 8))
    }
    best("lsh_bands")(noop(bandsOf(docs)))
    best("lsh_pairs")(noop(pairsOf(docs)))
    best("resolve_clusters_from_pairs") {
      noop(Dedup.resolveClusters(pairsOf(docs)))
    }
    val res = Dedup.resolveClustersIter(pairsOf(docs))
    System.err.println(s"[extra] resolve_iters=${res.iterations} " +
      s"converged=${res.converged} labels=${res.labels.count()}")
    res.release()
  }

  /** What pair-set materialization buys: the d18/d19-class consumers
    * (cluster resolution; curated-corpus census) when each RE-DERIVES
    * the pair set vs when both read ONE persisted pair table (the
    * production shape). Then incremental LSH: a new batch (the top 10%
    * of doc ids) against the persisted band table of the rest, vs the
    * full derivation restricted to new-involving pairs (what d21 runs
    * standalone). Prints one JSON line.
    */
  private def pairs(docs: DataFrame, sfDir: String)(
      implicit spark: SparkSession): Unit = {
    val root = scratch("pairbench")
    try {
      def curated(p: DataFrame): Unit = Dedup.dropNearDups(docs, "doc_id", p)
        .groupBy(col("source")).count().collect()
      val tResolveDerive = best("rederive.resolve") {
        Dedup.resolveClusters(pairsOf(docs)).count()
      }
      val tCuratedDerive = best("rederive.curated")(curated(pairsOf(docs)))
      val tWrite = best("persisted.write_once") {
        Dedup.writePairs(pairsOf(docs), root, "docs", "b1")
      }
      val stored = Dedup.readPairs(spark, root, "docs", Set("b1")).get
      val nPairs = stored.count()
      val tResolveP = best("persisted.resolve") {
        Dedup.resolveClusters(stored).count()
      }
      val tCuratedP = best("persisted.curated")(curated(stored))

      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val cut = maxId - maxId / 10
      val newDocs = docs.filter(col("doc_id") >= cut)
      Dedup.writeBands(bandsOf(docs.filter(col("doc_id") < cut)),
        root, "docs", "b1", "doc_id")
      // dedupRows = false: the incremental consumer is set-semantic, so
      // the read-side distinct would add a full exchange of the stored
      // band table for nothing (the PlanSpec stored-side pin)
      val bands = Dedup.readBands(spark, root, "docs", Set("b1"),
        dedupRows = false).get
      def incremental = Dedup.incrementalLshPairs(bands, bandsOf(newDocs),
        "doc_id")
      val nInc = incremental.count()
      val tIncStored = best("incremental.stored_bands")(incremental.count())
      val tIncFull = best("incremental.full_rederive") {
        val p = pairsOf(docs)
        val newIds = newDocs.select(col("doc_id").as("id_a"))
        p.join(newIds, Seq("id_a"), "left_semi")
          .unionByName(p.join(newIds.withColumnRenamed("id_a", "id_b"),
            Seq("id_b"), "left_semi").select(col("id_a"), col("id_b")))
          .distinct().count()
      }
      println(s"""{"sf":"$sfDir","n_pairs":$nPairs,""" +
        s""""rederive":{"resolve":$tResolveDerive,"curated":$tCuratedDerive,""" +
        s""""total":${tResolveDerive + tCuratedDerive}},""" +
        s""""persisted":{"write_once":$tWrite,"resolve":$tResolveP,""" +
        s""""curated":$tCuratedP,""" +
        s""""total":${tWrite + tResolveP + tCuratedP}},""" +
        s""""incremental_lsh":{"n_new_pairs":$nInc,""" +
        s""""stored_bands":$tIncStored,"full_rederive":$tIncFull}}""")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  /** Writes `out`: the formatted physical plans of the load-bearing
    * shapes, as committed evidence of what the engine relies on
    * (pushdown, pruning, broadcast, codegen spans, top-k). PlanSpec
    * asserts these properties as tests; this file makes them readable.
    */
  private def plans(out: String)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    import graft.pipeline._
    val dir = scratch("plans")
    try {
      Synth.writeTable(spark, s"$dir/input", 42L, 50L)
      val md = new StringBuilder
      def section(title: String, notes: String, df: DataFrame): Unit =
        md ++= s"\n## $title\n\n$notes\n\n```\n${formatted(df)}```\n"
      def turns = spark.read.schema(
          Schema.turnSchema.add("day", org.apache.spark.sql.types.StringType))
        .parquet(s"$dir/input").as[Turn]
      def vectors(n: Long) = spark.range(n).select($"id".as("vec_id"),
        array((0 until 8).map(i => (rand(i) * 2 - 1).cast("float")): _*)
          .as("embedding"))

      md ++= "# PLANS — formatted physical plans of the load-bearing queries\n"
      md ++= s"\nGenerated by `runMain graft.BenchExtra plans $out` on the " +
        "synthetic table;\neach property shown here is pinned as a test " +
        "in PlanSpec.\n"

      val cfg = PipelineConfig(s"$dir/input", s"$dir/sinks")
      val wms = Map("2025-01-01" -> new Timestamp(Synth.baseEpochMs + 3600000L))
      val asOf = new Timestamp(Synth.baseEpochMs + 365L * 86400000L)
      section("Incremental discovery (constant-map watermark lookup)",
        "`PushedFilters` carries only the cutoff `ts <= asOf - cutoff` and " +
          "the contract guards; there is no `PartitionFilters` term. The " +
          "per-day watermark is one `element_at` lookup in a literal map, " +
          "applied by the Filter after the scan: it skips no row group and " +
          "no partition, and no map size plans a watermark join.",
        Discover.delta(spark, cfg, asOf, wms))

      section("Full pipeline pass (parse -> route -> enrich -> fused prefix scan)",
        "One wide exchange (the (conv, chunk) repartition for the window); " +
          "enrichment is two constant-map lookups, so no join or broadcast " +
          "exchange; the carry join is SHUFFLE_HASH " +
          "(hinted — AQE's broadcast conversion measured 6-20x slower); " +
          "parse/route/enrich all inside WholeStageCodegen spans.",
        Pipeline(turns))

      section("Committing cycle: staged write",
        "The one run of the cycle's pipeline plan: the full pipeline pass " +
          "under the sink layout's salted repartition on (conv_id, " +
          "pmod(hash(turn_idx), 16)) and the (sink, conv_id, turn_idx) " +
          "sort, written partitioned by sink. Nothing is cached; every " +
          "later consumer reads the files.",
        Sinks.sinkLayout(Pipeline(turns), cfg.saltBuckets))

      section("Committing cycle: metrics aggregate",
        "ONE grouping-sets aggregate (Expand -> partial + final hash " +
          "aggregate) over a five-column read-back of the staged files, " +
          "`sink` from the `sink=` dir names: the per-day watermarks and " +
          "the three metric tables' rows, told apart by grouping_id().",
        {
          Sinks.writeStaged(Pipeline(turns), cfg.sinkRoot, "plans",
            cfg.saltBuckets)
          Aggregate.stagedAggregate(spark,
            Sinks.stagingDir(cfg.sinkRoot, "plans"))
        })

      section("Per-sink aggregate (single grouped pass)",
        "Partial (map-side) + final hash aggregate; the fat `text`/`body` " +
          "columns are pruned out of the shuffle because routing runs " +
          "before the wide step.",
        Pipeline(turns)
          .groupBy($"sink", $"role", $"tool_category",
            window($"ts", "1 hour").getField("start").as("hour_start"))
          .agg(count(lit(1)).as("n_turns")))

      section("Exact cosine top-k",
        "TakeOrderedAndProject: per-partition heap + driver merge, " +
          "never a global sort shuffle.",
        graft.ops.Similarity.cosineTopK(vectors(1000),
          "vec_id", "embedding", Seq.fill(8)(0.5), 10))

      section("LSH-bucketed near-dup pairs (e02 shape)",
        "The self-join is an EQUI-join on the LSH bucket id (SortMerge/" +
          "ShuffledHash on `_b`), never BroadcastNestedLoopJoin/Cartesian — " +
          "pairs form only within buckets, with a per-bucket size cap.",
        graft.ops.Similarity.cosineNearDupPairs(vectors(300),
          "vec_id", "embedding", dims = 8, threshold = 0.35, nPlanes = 4))

      section("d18 label-propagation step (cluster-resolution shape)",
        "One iteration of `Dedup.resolveClusters` — the PRODUCTION " +
          "`Dedup.propagationStep`, not a replica: ONE edges->labels " +
          "EQUI-join delivering neighbor labels as messages, unioned with " +
          "tagged self-messages, folded by ONE grouped min — every " +
          "shuffle keyed on the id, no cartesian/nested-loop anywhere " +
          "(r9 removed the former fold-back left join: one less " +
          "join+exchange per iteration). The operator repeats exactly " +
          "this step under an eager localCheckpoint (plan truncation), so " +
          "the per-iteration plan IS the whole story; PlanSpec pins the " +
          "same step's shape.",
        {
          val pairs = spark.range(200).select(
            concat(lit("n"), $"id" % 50).as("id_a"),
            concat(lit("n"), $"id" % 80).as("id_b"))
          val edges = pairs.select($"id_a".as("src"), $"id_b".as("dst"))
            .union(pairs.select($"id_b".as("src"), $"id_a".as("dst")))
            .distinct()
          val labels = edges.select($"src".as("id")).distinct()
            .withColumn("label", $"id")
          Dedup.propagationStep(edges, labels)
        })

      section("Incremental LSH against the persisted band store (d21 " +
          "production shape)",
        "The stored band table enters through a FileScan and meets ONE " +
          "BroadcastHashJoin LEFT SEMI on the touched (band, sig) keys — " +
          "no exchange below it, no re-shingle of the stored frame " +
          "(PlanSpec walks the ancestor chain); the first wide op above " +
          "the store is the bucket aggregate.",
        {
          val docs = spark.range(300).select($"id".as("doc_id"),
            concat(lit("text sample line number "), $"id" % 37).as("text"))
          Dedup.writeBands(bandsOf(docs.filter($"doc_id" < 250)),
            dir, "plans", "b1", "doc_id")
          Dedup.incrementalLshPairs(
            Dedup.readBands(spark, dir, "plans", Set("b1"),
              dedupRows = false).get,
            bandsOf(docs.filter($"doc_id" >= 250)), "doc_id")
        })

      section("BPE-token-window chunking (d14 shape)",
        "Per-word native BPE tokenization (codegen'd ranks-map " +
          "expression) + windowing, all inside one narrow " +
          "Project/Generate chain — ZERO exchanges; the 48k-merge table " +
          "never appears in the plan (one per-JVM hash map).",
        {
          val docs = spark.range(200).select($"id".as("doc_id"),
            concat(lit("alpha beta42 gamma delta epsilon zeta "),
              $"id" % 17).as("text"))
          graft.ops.TextAnalysis.chunkPlan(docs, window = 32, stride = 24,
            tokensExpr = Some(flatten(transform(
              graft.ops.Bpe.normalizeWords($"text"),
              w => graft.functions.BpeExprs.bpeTokens(w,
                graft.ops.Bpe.realVocab)))))
        })

      section("N-gram LM scoring with stupid backoff (d24 shape)",
        "The exploded token stream meets the LM table through TWO " +
          "BroadcastHashJoins (bigram key, unigram key) — the corpus is " +
          "never shuffled on its own size; the only Exchange is the " +
          "final per-doc hash aggregate (map-side partial first).",
        {
          val docs = spark.range(300).select($"id".as("doc_id"),
            concat(lit("the table join batch value hash "),
              $"id" % 23).as("text"))
          graft.ops.TextAnalysis.lmScore(docs,
            graft.Queries.d24Lm.toDF("gram", "logp_x1e6"))
        })

      Files.writeString(Paths.get(out), md.toString)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
