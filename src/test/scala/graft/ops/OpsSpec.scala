package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{BatchDirs, SparkTestSession}

/** Unit coverage for the training-data operators whose full semantics
  * the DuckDB oracle can't express (dedup survivors, LSH recall,
  * multimodal plumbing), plus source-format fidelity (concatenated
  * gzip members, the 16-event fixture analog:
  * reference spec/fixtures/multiple_compressed_streams.gz, spec:443-450).
  */
class OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("concatenated gzip members read as one stream (multi-stream fixture analog)") {
    val dir = SparkTestSession.scratchDir("gz")
    val f = new java.io.File(s"$dir/multi.log.gz")
    val out = new java.io.FileOutputStream(f)
    // two independently-gzipped members, 8 lines each, back to back
    for (m <- 0 until 2) {
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write((0 until 8).map(i => s"member$m line$i").mkString("", "\n", "\n")
        .getBytes("UTF-8"))
      gz.finish()
    }
    out.close()
    val lines = spark.read.textFile(f.getPath)
    assert(lines.count() == 16, "both gzip members must be decoded")
    assert(lines.filter($"value".startsWith("member1")).count() == 8)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("custom gzip_pattern dispatch: a '.gee.zip' gzip file decodes, " +
      "broken gzip is skipped, plain files pass through (s3.rb:89,326; spec:466-467)") {
    import graft.sources.GzipPatternSource
    val dir = SparkTestSession.scratchDir("geezip")
    // gzip content under a name Hadoop's extension dispatch can't see,
    // with TWO concatenated members (the multi-stream fixture analog)
    val f = new java.io.File(s"$dir/uncompressed.log.gee.zip")
    val out = new java.io.FileOutputStream(f)
    for (m <- 0 until 2) {
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write((0 until 8).map(i => s"member$m line$i").mkString("", "\n", "\n")
        .getBytes("UTF-8"))
      gz.finish()
    }
    out.close()
    // a plain text neighbor: must NOT be gunzipped
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/plain.log"), "alpha\nbeta\n")
    // a broken "gzip" file: skipped without crashing (s3.rb:292-301)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/broken.gee.zip"),
      Array[Byte](0x1f, 0x0b, 1, 2, 3))

    // reference test config: gzip_pattern = "gee.zip$" (spec:466-467)
    val lines = GzipPatternSource.readLines(spark, s"$dir/*", "gee\\.zip$")
      .cache()
    val gz = lines.filter($"path".endsWith("uncompressed.log.gee.zip"))
    assert(gz.count() == 16, "both concatenated members decode")
    assert(gz.filter($"line".startsWith("member1")).count() == 8)
    assert(lines.filter($"path".endsWith("plain.log"))
      .orderBy($"line_no").collect().map(_.line).toSeq ==
      Seq("alpha", "beta"))
    assert(lines.filter($"path".endsWith("broken.gee.zip")).count() == 0,
      "broken file skipped, job alive")
    // and WITHOUT the custom pattern the same gzip file is (wrongly,
    // but by design) read as raw bytes — proving dispatch is the regex
    val raw = GzipPatternSource.readLines(spark, s"$dir/uncompressed.log.gee.zip")
    assert(raw.filter($"line".startsWith("member")).count() == 0)
    lines.unpersist()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("parallelized: small batch inputs gain partitions, already-wide " +
      "inputs and streaming frames pass through untouched") {
    val small = spark.range(100).coalesce(1).toDF()
    assert(Dedup.parallelized(small).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // result multiset unchanged by the round-robin
    assert(Dedup.parallelized(small).agg(sum(col("id"))).head.getLong(0)
      == 4950L)
    val wide = spark.range(100)
      .repartition(spark.sparkContext.defaultParallelism + 3).toDF()
    assert(Dedup.parallelized(wide) eq wide)
    val stream = spark.readStream.format("rate").load()
    assert(stream.isStreaming && (Dedup.parallelized(stream) eq stream))
  }

  test("parallelized decides without a Spark job: a shuffled input " +
      "passes through, a leaf scan is still repartitioned") {
    import org.apache.spark.ListenerBusShim
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf[T](f: => T): (T, Int) = {
      ListenerBusShim.drain(sc)
      jobs.set(0)
      val r = f
      ListenerBusShim.drain(sc)
      (r, jobs.get)
    }
    val dir = SparkTestSession.scratchDir("parjobs")
    (0 until 40).map(i => (i.toLong, s"doc text ${i % 7}"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/docs")
    val docs = spark.read.parquet(s"$dir/docs")
    sc.addSparkListener(listener)
    try {
      val shuffled = Dedup.dropExactDups(docs, "doc_id", "text")
      val (passed, n) = jobsOf(Dedup.parallelized(shuffled))
      assert(n == 0, s"building on a shuffled frame ran $n job(s)")
      assert(passed eq shuffled)
      val (leaf, m) = jobsOf(Dedup.parallelized(docs))
      assert(m == 0, s"probing a leaf scan ran $m job(s)")
      assert(leaf.rdd.getNumPartitions == sc.defaultParallelism)
      assert(leaf.count() == 40L)
    } finally sc.removeSparkListener(listener)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("hashSampleFlag: deterministic, rate-monotone, null keys dropped") {
    val df = (0L until 200L).map(i => (i, s"doc$i")).toDF("id", "name")
    def kept(rate: Int): Long = df.filter(
      TextAnalysis.hashSampleFlag(col("id"), "t|", lit(rate))).count()
    assert(kept(0) == 0L && kept(16) == 200L)
    val k4 = kept(4)
    assert(k4 > 20 && k4 < 80, s"~25% expected, got $k4")
    assert(k4 <= kept(8), "monotone in the rate")
    assert(kept(4) == k4, "deterministic across invocations")
    // null keys must be DROPPED at any rate (not silently kept) — the
    // SQL-oracle strpos semantics
    val withNull = Seq((java.lang.Long.valueOf(1L), "a"),
      (null.asInstanceOf[java.lang.Long], "b")).toDF("id", "name")
    assert(withNull.filter(TextAnalysis.hashSampleFlag(col("id"), "t|",
      lit(16))).count() == 1L, "null key dropped even at rate 16")
  }

  test("gzip bomb guard: an object exceeding the decompressed-bytes cap " +
      "is skipped like a broken file, others still read") {
    import graft.sources.GzipPatternSource
    val dir = SparkTestSession.scratchDir("gzbomb")
    // ~1 MB of zeros compresses to ~1 KB — over a 64 KB cap it must be
    // skipped; OOM is not an acceptable failure mode for one bad object
    val bomb = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/bomb.log.gz"))
    val line = ("x" * 255 + "\n").getBytes("UTF-8")
    (0 until 4096).foreach(_ => bomb.write(line))
    bomb.close()
    val small = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/small.log.gz"))
    small.write("tiny one\ntiny two\n".getBytes("UTF-8"))
    small.close()

    val capped = GzipPatternSource.readLines(spark, s"$dir/*",
      maxBytes = 64L * 1024).cache()
    assert(capped.filter($"path".endsWith("bomb.log.gz")).count() == 0,
      "oversized object skipped, job alive")
    assert(capped.filter($"path".endsWith("small.log.gz")).count() == 2,
      "well-sized neighbors unaffected")
    // with the default cap the same file reads fine (the cap is a guard,
    // not a truncation)
    val uncapped = GzipPatternSource.readLines(spark, s"$dir/bomb.log.gz")
    assert(uncapped.count() == 4096)
    capped.unpersist()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("raw log files -> pipeline ('generated events' shared example analog, " +
      "spec:325-339): one event per line, source key in metadata, gzip transparent") {
    import graft.sources.GzipPatternSource
    import graft.pipeline.Pipeline
    val dir = SparkTestSession.scratchDir("rawlogs")
    // uncompressed.log analog: 2 grok lines -> 2 events
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/uncompressed.log"),
      "2025-01-01T00:00:00Z INFO [user] line one\n" +
        "2025-01-01T00:00:01Z INFO [assistant] line two\n")
    // compressed.log.gz analog: 2 more events, gzip-transparent
    val gzOut = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/compressed.log.gz"))
    gzOut.write(("2025-01-01T00:00:02Z WARN [tool] gz one\n" +
      "2025-01-01T00:00:03Z INFO [user] gz two\n").getBytes("UTF-8"))
    gzOut.close()

    val turns = GzipPatternSource.readAsTurns(spark, s"$dir/*")
    val routed = Pipeline(turns)
    assert(routed.count() == 4, "2 events per fixture file")
    // every event carries its source key (the [@metadata][s3][key]
    // invariant, s3.rb:254) == its conv identity == the file path
    val metas = routed.select($"conv_id", $"meta").collect()
    assert(metas.forall(r =>
      r.getMap[String, String](1)("source_conv") == r.getString(0)))
    assert(routed.filter($"conv_id".endsWith("uncompressed.log")).count() == 2)
    assert(routed.filter($"conv_id".endsWith("compressed.log.gz")).count() == 2)
    // all four grok-parse and route by role
    assert(routed.filter($"parse_ok").count() == 4)
    assert(routed.groupBy($"sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("user" -> 2, "assistant" -> 1, "tool" -> 1))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("invalid UTF-8 bytes sanitize to U+FFFD on read and survive the parse (invalid_utf8.gbk fixture analog)") {
    val dir = SparkTestSession.scratchDir("gbk")
    val f = new java.io.File(s"$dir/invalid.log")
    // two lines; the first embeds GBK bytes that are invalid UTF-8
    val out = new java.io.FileOutputStream(f)
    out.write("2025-01-01T00:00:00Z INFO [user] before ".getBytes("UTF-8"))
    out.write(Array[Byte](0xC4.toByte, 0xE3.toByte, 0xBA.toByte, 0xC3.toByte))
    out.write(" after\n".getBytes("UTF-8"))
    out.write("2025-01-01T00:00:01Z WARN [tool] clean line\n".getBytes("UTF-8"))
    out.close()
    val lines = spark.read.text(f.getPath)
    assert(lines.count() == 2, "both lines decode (no crash)")
    val texts = lines.collect().map(_.getString(0))
    assert(texts.exists(_.contains("�")),
      "invalid bytes become the replacement char, deterministically")
    // the sanitized line still parses: the grok fields are intact
    import graft.pipeline._
    val parsed = Parse.parseColumns(lines.withColumnRenamed("value", "text"))
    assert(parsed.filter(col("parse_ok")).count() == 2)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("dropExactDups keeps exactly one survivor (min id) per duplicate group") {
    val docs = Seq(
      (1L, "the same text"), (2L, "  THE   SAME TEXT "), // normalized dups
      (3L, "unique one"), (4L, "the same text"), (5L, "another")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropExactDups(docs, "doc_id", "text")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L))
    val groups = Dedup.exactDupGroups(docs, "doc_id", "text").collect()
    assert(groups.length == 1 && groups.head.getAs[Long]("n_docs") == 3L)
  }

  test("minhash LSH finds the planted near-dup pair; jaccard verifies it") {
    val base = (0 until 30).map(i => s"token$i").mkString(" ")
    val nearDup = base.replace("token7", "tokenX") // high jaccard
    val docs = ((0L, base) +: (1L, nearDup) +:
      (2L until 12L).map(i => (i, (0 until 30).map(j => s"w${i}_$j").mkString(" "))))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, rowsPerBand = 2, jaccardThreshold = 0.5)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((0L, 1L)), s"expected only the planted pair, got ${pairs.toSeq}")
  }

  test("kmeansIteration (driver-collect) == the DataFrame-native per-(cluster,dim) means") {
    import graft.ops.Similarity
    val dims = 8
    val rng = new scala.util.Random(11)
    val emb = (0L until 100L).map(i =>
      (i, Array.fill(dims)(rng.nextFloat() * 2 - 1).toSeq))
      .toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 4)
    val assigned = Similarity.ivfAssign(emb, "embedding", cents)
    val driverSide = Similarity.kmeansIteration(assigned, "embedding", dims)
      .flatMap { case (cid, arr) =>
        arr.zipWithIndex.map { case (m, d) => (cid, d) -> m }
      }.toMap
    val dfSide = assigned
      .select(col("ivf_cluster"), posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy(col("ivf_cluster"), col("d"))
      .agg(avg(col("v").cast("double")).as("m"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(driverSide.keySet == dfSide.keySet)
    driverSide.foreach { case (k, v) =>
      assert(math.abs(v - dfSide(k)) < 1e-9, s"mean mismatch at $k")
    }
  }

  test("LSH skew cap is REPORTED, not silent: oversized buckets surface " +
      "and their members emit no pairs") {
    // 8 identical docs (one degenerate bucket of 8) + 2 distinct docs
    val docs = ((0L until 8L).map(i => (i, "same boilerplate text here ok")) ++
      Seq((8L, "a unique document alpha beta"),
        (9L, "another unique doc gamma delta"))).toDF("doc_id", "text")
    val bands = Dedup.lshBands(
      Dedup.minhashSignatures(docs, "doc_id", "text", 3, 8), "doc_id", 8, 2)
    val dropped = Dedup.lshOversizedBuckets(bands, "doc_id", maxBucket = 4)
      .collect()
    assert(dropped.nonEmpty, "the hot bucket must be reported")
    assert(dropped.forall(_.getAs[Long]("n") == 8L))
    val pairs = Dedup.lshCandidatePairs(bands, "doc_id", maxBucket = 4)
    assert(pairs.filter($"id_a" < 8 && $"id_b" < 8).count() == 0,
      "capped-bucket members emit no pairs")
    // with a big enough cap the same bucket DOES pair
    assert(Dedup.lshCandidatePairs(bands, "doc_id", maxBucket = 100)
      .count() >= 28, "8 identical docs -> C(8,2) pairs")
  }

  test("dropSeen: cross-cycle incremental dedup via left_anti on fingerprints") {
    val cycle1 = Seq((1L, "doc one"), (2L, "doc two")).toDF("doc_id", "text")
    val seen = cycle1.select(
      graft.ops.TextAnalysis.fingerprint($"text").as("fp"))
    val cycle2 = Seq(
      (3L, "doc two"), // exact dup of a published doc
      (4L, "  DOC ONE "), // normalized dup
      (5L, "doc three") // fresh
    ).toDF("doc_id", "text")
      .withColumn("sink", lit("user"))
    val out = Dedup.reRouteSeen(cycle2, seen,
      graft.pipeline.Route.contentSinks, graft.pipeline.Route.duplicateSink)
    val sinks = out.select($"doc_id", $"sink").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sinks == Map(3L -> "duplicate", 4L -> "duplicate", 5L -> "user"))
    assert(out.columns.toSeq == cycle2.columns.toSeq,
      "schema passes through unchanged")
  }

  test("simhash: near-identical docs collide, disjoint docs do not") {
    val a = (0 until 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, a), (2L, a + " extraA"), (3L, "wholly different words here"))
      .toDF("doc_id", "text")
    val hs = docs.select($"doc_id", Dedup.simhash16($"text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d12 = java.lang.Long.bitCount(hs(1L) ^ hs(2L))
    val d13 = java.lang.Long.bitCount(hs(1L) ^ hs(3L))
    assert(d12 < d13, s"near-dup hamming $d12 must beat unrelated $d13")
  }

  test("lshTopK recall: bucket-pruned top-k finds the exact top-1") {
    val dims = 16
    val rng = new scala.util.Random(7)
    val vecs = (0L until 200L).map { i =>
      (i, Array.fill(dims)(rng.nextFloat() * 2 - 1).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val query = vecs(17)._2.map(_.toDouble)
    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", query, 1)
      .head().getLong(0)
    val approx = Similarity.lshTopK(df, "vec_id", "embedding", query, 1)
      .head().getLong(0)
    assert(exact == 17L && approx == 17L,
      "the query's own vector must be its top-1 in both paths")
  }

  test("IVF: assignment partitions the corpus, probe-pruned search finds the exact top-1, kmeans iteration preserves k") {
    val dims = 16
    val rng = new scala.util.Random(3)
    // clustered data: 4 well-separated centers + noise
    val centers = Array.fill(4, dims)(rng.nextGaussian() * 10)
    val vecs = (0L until 200L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => (x + rng.nextGaussian() * 0.1).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroids(df, "vec_id", "embedding", 4)
    val assigned = Similarity.ivfAssign(df, "embedding", cents).cache()
    // total partition: every vector in exactly one cluster
    assert(assigned.count() == 200)
    assert(assigned.groupBy($"ivf_cluster").count().count() == 4)

    // probe-pruned search: query = vector 17's own embedding
    val query = vecs(17)._2.map(_.toDouble)
    val top = Similarity.ivfTopK(assigned, "vec_id", "embedding", cents,
      query, k = 1, nprobe = 1).head()
    assert(top.getLong(0) == 17L, "nprobe=1 finds the vector in its own cluster")

    // one Lloyd iteration returns k refined centroids of the right arity
    val refined = Similarity.kmeansIteration(assigned, "embedding", dims)
    assert(refined.map(_._1).toSet.size == 4 &&
      refined.forall(_._2.length == dims))
    assigned.unpersist()
  }

  test("multimodal decode: deterministic features, blobs dropped, resize rewrites dims only") {
    val media = Multimodal.synthMedia(spark, 200L)
    val feats = Multimodal.decodeFeatures(media).collect()
    assert(feats.length == 200)
    assert(feats.forall(_.feat.get.length == 16))
    // deterministic: same id -> same checksum on re-run
    val again = Multimodal.decodeFeatures(Multimodal.synthMedia(spark, 200L))
      .collect().map(f => f.media_id -> f.checksum).toMap
    assert(feats.forall(f => again(f.media_id) == f.checksum))

    // overflow guard: ids large enough that id * 2654435761 wraps Long
    // negative must still produce the true mathematical body length
    // (floorMod; Java % would throw NegativeArraySizeException here)
    val bigId = 4000000000L
    assert(bigId * 2654435761L < 0, "test id must exercise the wrap")
    val big = Multimodal.synthPayload(bigId, "image", 1, 1, 0)
    assert(big.length == 16 + 256 +
      Math.floorMod(bigId * 2654435761L, 1024L).toInt)
  }

  test("kmeans++ seeding spreads seeds across clusters: IVF recall at " +
      "nprobe=1 on an id-skewed fixture beats (>=) id-ordered seeding") {
    // 4 true clusters on disjoint axis pairs of R^8; ids 0..24 ALL in
    // cluster 0 — id-ordered seeding (ivfCentroids) takes its 4 seeds
    // from ONE cluster, the exact pathology D^2 seeding fixes
    val dims = 8
    def vec(cluster: Int, j: Int): Seq[Float] = {
      val a = Array.fill(dims)(0.0f)
      a(cluster * 2) = 1.0f
      a(cluster * 2 + 1) = 0.05f * ((j % 5) + 1) // deterministic jitter
      a.toSeq
    }
    val rows = for (c <- 0 until 4; j <- 0 until 25)
      yield (c * 25L + j, vec(c, j))
    val df = rows.toDF("vec_id", "embedding")

    val idSeeds = Similarity.ivfCentroids(df, "vec_id", "embedding", 4)
    assert(idSeeds.map(_._1).forall(_ < 25),
      "fixture sanity: id-ordered seeds all come from cluster 0")
    val kpp = Similarity.kmeansPlusPlusSeeds(df, "vec_id", "embedding", 4)
    assert(kpp.map(_._1 / 25).toSet.size == 4,
      s"D^2 greedy must pick one seed per cluster, got ids ${kpp.map(_._1)}")

    def recall(seeds: Seq[(Long, Seq[Double])]): Double = {
      val assigned = Similarity.ivfAssign(df, "embedding", seeds).cache()
      val scores = (0 until 4).map { c =>
        val q = (0 until dims).map(d => if (d == c * 2) 1.0 else 0.0)
        val exact = Similarity.cosineTopK(df, "vec_id", "embedding", q, 10)
          .collect().map(_.getLong(0)).toSet
        val approx = Similarity.ivfTopK(assigned, "vec_id", "embedding",
          seeds, q, 10, nprobe = 1).collect().map(_.getLong(0)).toSet
        (exact intersect approx).size.toDouble / 10.0
      }
      assigned.unpersist()
      scores.sum / scores.size
    }
    val (rKpp, rId) = (recall(kpp), recall(idSeeds))
    assert(rKpp >= rId,
      s"kmeans++ recall $rKpp must be >= id-ordered recall $rId")
    assert(rKpp == 1.0,
      s"one seed per cluster + nprobe=1 must give full recall, got $rKpp")

    // degenerate-input surface: exhausted corpus returns the seeds that
    // exist; an all-zero or empty frame returns none; a zero-norm
    // vector never hijacks the D^2 argmax (its distance is NaN)
    val tiny = rows.take(3).toDF("vec_id", "embedding")
    assert(Similarity.kmeansPlusPlusSeeds(tiny, "vec_id", "embedding", 8)
      .size == 3, "k beyond the corpus yields every seedable point")
    val withZero = (rows.take(6) :+ (999L, Seq.fill(dims)(0.0f)))
      .toDF("vec_id", "embedding")
    val zs = Similarity.kmeansPlusPlusSeeds(withZero, "vec_id",
      "embedding", 3)
    assert(!zs.map(_._1).contains(999L),
      s"zero-norm vectors must not be chosen as seeds, got ${zs.map(_._1)}")
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.kmeansPlusPlusSeeds(empty, "vec_id", "embedding", 2)
      .isEmpty)
  }

  test("writeClusters fails CLOSED on non-convergence unless the " +
      "operator opts into persisting the over-segmentation") {
    val root = SparkTestSession.scratchDir("wclust")
    val chain = (0 until 200).map(i => (f"c$i%03d", f"c${i + 1}%03d"))
      .toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      Dedup.writeClusters(chain, root, "c1", "bad", maxIters = 2)
    }
    assert(ex.getMessage.contains("over-segmentation"))
    assert(!new java.io.File(s"$root/_clusters/c1/batch=bad").exists(),
      "nothing may be persisted on the refused path")
    val dest = Dedup.writeClusters(chain, root, "c1", "ok",
      maxIters = 2, allowOverSegmented = true)
    assert(spark.read.parquet(dest).count() == 201L,
      "explicit opt-in persists the partial labels")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("ImageCodec parses REAL spec fixtures: a CRC'd 1x1 PNG, a JPEG " +
      "with APP1+COM segments and progressive SOF2; rejects garbage " +
      "without throwing") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // a genuine minimal PNG prefix: signature + IHDR for 1x1 RGBA8 with
    // its REAL CRC (1f 15 c4 89) — byte-for-byte the file `convert` or
    // any encoder emits, independent of our synth construction
    val png1x1 = b(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a,
      0x00, 0x00, 0x00, 0x0d, 0x49, 0x48, 0x44, 0x52,
      0x00, 0x00, 0x00, 0x01, 0x00, 0x00, 0x00, 0x01,
      0x08, 0x06, 0x00, 0x00, 0x00, 0x1f, 0x15, 0xc4, 0x89)
    assert(Multimodal.ImageCodec.decodeDims(png1x1)
      .contains(("png", 1, 1)))

    // a JPEG the way cameras emit them: SOI, APP1 (Exif placeholder),
    // COM, then a PROGRESSIVE frame header (SOF2) with h=480 w=640
    val jpegProg = b(0xff, 0xd8,
      0xff, 0xe1, 0x00, 0x08, 0x45, 0x78, 0x69, 0x66, 0x00, 0x00, // APP1
      0xff, 0xfe, 0x00, 0x04, 0x68, 0x69, // COM "hi"
      0xff, 0xc2, 0x00, 0x11, 0x08, 0x01, 0xe0, 0x02, 0x80, // SOF2 480x640
      0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
    assert(Multimodal.ImageCodec.decodeDims(jpegProg)
      .contains(("jpeg", 640, 480)))

    // DHT (C4) must be walked PAST, not mistaken for a frame header
    val jpegDht = b(0xff, 0xd8,
      0xff, 0xc4, 0x00, 0x04, 0x00, 0x01, // DHT stub
      0xff, 0xc0, 0x00, 0x11, 0x08, 0x00, 0x02, 0x00, 0x03, // SOF0 2x3
      0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
    assert(Multimodal.ImageCodec.decodeDims(jpegDht)
      .contains(("jpeg", 3, 2)))

    // rejection surface: never a throw
    assert(Multimodal.ImageCodec.decodeDims(
      b(0xff, 0xd8, 0xff, 0xff, 0xff, 0xff)).isEmpty,
      "a payload cut mid fill-run must classify, not AIOOBE")
    assert(Multimodal.ImageCodec.decodeDims(null).isEmpty)
    assert(Multimodal.ImageCodec.decodeDims(Array.empty[Byte]).isEmpty)
    assert(Multimodal.ImageCodec.decodeDims(b(0x89, 0x50)).isEmpty)
    assert(Multimodal.ImageCodec.decodeDims(
      b(0xff, 0xd8, 0xff, 0xd9)).isEmpty, "EOI before any SOF")
    // a corrupt SOF declaring an impossible length must classify as
    // undecodable, not read the NEXT segment's bytes as dimensions
    assert(Multimodal.ImageCodec.decodeDims(
      b(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x02,
        0x08, 0x01, 0xe0, 0x02, 0x80, 0x03)).isEmpty,
      "undersized SOF length must not yield garbage dims")
    assert(Multimodal.ImageCodec.decodeDims(
      png1x1.take(20)).isEmpty, "truncated IHDR")
    // every synthesized payload round-trips to its closed-form dims
    (0L until 32L).foreach { id =>
      val (w, h) = Multimodal.synthImageDims(id)
      val fmt = if (id % 2 == 0) "png" else "jpeg"
      assert(Multimodal.ImageCodec.decodeDims(
        Multimodal.synthImagePayload(id)).contains((fmt, w, h)),
        s"id=$id")
    }
  }

  test("incremental LSH == full derivation restricted to new-involving " +
      "pairs; persisted bands round-trip with committed-batch gating") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def bandsOf(df: org.apache.spark.sql.DataFrame) = Dedup.lshBands(
      Dedup.minhashSignatures(df, "doc_id", "text", 3, 8), "doc_id", 8, 2)
    val split = 250L
    val stored = bandsOf(docs.filter($"doc_id" < split))
    val incoming = bandsOf(docs.filter($"doc_id" >= split))

    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0).toString, r.get(1).toString)).toSet
    val full = pairSet(
      Dedup.lshCandidatePairs(bandsOf(docs), "doc_id"))
    val fullNewInvolving = full.filter { case (a, b) =>
      a.toLong >= split || b.toLong >= split }
    val incremental = pairSet(
      Dedup.incrementalLshPairs(stored, incoming, "doc_id"))
    assert(incremental == fullNewInvolving,
      s"incremental must equal the full derivation's new-involving " +
        s"subset (inc=${incremental.size} full=${fullNewInvolving.size})")
    assert(fullNewInvolving.nonEmpty, "fixture sanity: new pairs exist")

    // persisted band state: write old bands as a committed batch plus an
    // orphan; the read-back union drives the same incremental result
    val root = SparkTestSession.scratchDir("bands")
    Dedup.writeBands(stored, root, "c1", "b1", "doc_id")
    Dedup.writeBands(incoming.limit(3), root, "c1", "orphan", "doc_id")
    assert(Dedup.readBands(spark, root, "c1", Set.empty).isEmpty)
    val storedBack = Dedup.readBands(spark, root, "c1", Set("b1")).get
    assert(pairSet(Dedup.incrementalLshPairs(storedBack, incoming,
      "doc_id")) == fullNewInvolving,
      "round-tripped bands must drive the identical incremental result")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("AudioCodec parses the canonical 44-byte WAV layout and walks " +
      "chunk order; rejects garbage without throwing") {
    // the classic header every encoder emits: RIFF/WAVE, fmt (PCM,
    // stereo, 44100 Hz, 16-bit), data with 4 payload bytes
    val bb = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(40)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1).putShort(2).putInt(44100).putInt(44100 * 2 * 2)
    bb.putShort(4).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(4)
    bb.putInt(0xCAFEBABE)
    val canonical = java.util.Arrays.copyOf(bb.array(), bb.position())
    assert(Multimodal.AudioCodec.decodeWav(canonical)
      .contains((2, 44100, 16, 4L)))

    // data BEFORE fmt (legal RIFF; some encoders emit it) still parses
    val bb2 = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb2.put("RIFF".getBytes("US-ASCII")).putInt(48)
    bb2.put("WAVE".getBytes("US-ASCII"))
    bb2.put("data".getBytes("US-ASCII")).putInt(2).putShort(7)
    bb2.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb2.putShort(1).putShort(1).putInt(8000).putInt(8000 * 2)
    bb2.putShort(2).putShort(16)
    val dataFirst = java.util.Arrays.copyOf(bb2.array(), bb2.position())
    assert(Multimodal.AudioCodec.decodeWav(dataFirst)
      .contains((1, 8000, 16, 2L)))

    // adversarial chunk size near 2^32: Int truncation would advance
    // the walk by ZERO bytes and hang the executor task forever — the
    // Long-arithmetic advance must terminate promptly with None
    val bb3 = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb3.put("RIFF".getBytes("US-ASCII")).putInt(16)
    bb3.put("WAVE".getBytes("US-ASCII"))
    bb3.put("JUNK".getBytes("US-ASCII")).putInt(0xFFFFFFF8)
    bb3.putInt(0)
    assert(Multimodal.AudioCodec.decodeWav(
      java.util.Arrays.copyOf(bb3.array(), bb3.position())).isEmpty,
      "corrupt huge chunk size must terminate, not loop")

    assert(Multimodal.AudioCodec.decodeWav(null).isEmpty)
    assert(Multimodal.AudioCodec.decodeWav(Array.empty[Byte]).isEmpty)
    assert(Multimodal.AudioCodec.decodeWav(
      "RIFFxxxxJUNK".getBytes("US-ASCII")).isEmpty, "not a WAVE")
    assert(Multimodal.AudioCodec.decodeWav(canonical.take(20)).isEmpty,
      "truncated before fmt/data")
    // synthesized payloads round-trip their closed forms
    (0L until 32L).foreach { id =>
      val (ch, rate, bits, dataBytes) = Multimodal.synthWavParams(id)
      assert(Multimodal.AudioCodec.decodeWav(
        Multimodal.synthWavPayload(id))
        .contains((ch, rate, bits, dataBytes.toLong)), s"id=$id")
    }
  }

  test("resolveClusters (d18): multi-hop pairs fold into one component " +
      "with the min-id survivor; disjoint clusters stay disjoint") {
    // A~B and B~C but A!~C (the transitive case LSH pair output
    // produces); x~y a separate component
    val pairs = Seq(("b", "a"), ("b", "c"), ("x", "y"))
      .toDF("id_a", "id_b")
    val res = Dedup.resolveClustersIter(pairs)
    assert(res.converged,
      s"tiny graph must converge (ran ${res.iterations} iters)")
    val got = res.labels.orderBy($"id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSeq
    assert(got == Seq(
      ("a", "a", true), ("b", "a", false), ("c", "a", false),
      ("x", "x", true), ("y", "x", false)),
      s"got $got")
    res.release() // frees the final checkpoint's blocks (ADVICE r4)
  }

  test("resolveClusters pointer jumping: a 50-long chain converges in " +
      "O(log n) iterations, not O(n)") {
    // versioned/serial documents produce exactly this shape: each
    // revision pairs only with its neighbors. Plain neighbor-min
    // propagation needs ~50 rounds here; the shortcut step doubles the
    // label reach per round.
    val chain = (0 until 50).map(i => (f"v$i%02d", f"v${i + 1}%02d"))
      .toDF("id_a", "id_b")
    val res = Dedup.resolveClustersIter(chain)
    assert(res.converged, "50-chain must converge within the default cap")
    assert(res.iterations <= 7,
      s"pointer jumping must converge a 50-chain in <=7 iterations " +
        s"(got ${res.iterations})")
    assert(res.labels.select($"cluster_id").distinct().count() == 1)
    assert(res.labels.filter($"keep").collect().map(_.getString(0)).toSeq
      == Seq("v00"), "min id survives")
    res.release()
  }

  test("pair materialization: persisted pairs feed cluster resolution " +
      "and curated builds identically to direct derivation; uncommitted " +
      "dirs are invisible") {
    val root = SparkTestSession.scratchDir("pairs")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 8)
    val pairs = Dedup.lshCandidatePairs(
      Dedup.lshBands(sigs, "doc_id", 8, 2), "doc_id")

    // compute ONCE, persist; an orphan (uncommitted) dir is planted too
    Dedup.writePairs(pairs, root, "corpus1", "b1")
    Dedup.writePairs(pairs.limit(1), root, "corpus1", "orphan")
    assert(Dedup.readPairs(spark, root, "corpus1", Set.empty).isEmpty,
      "no committed batch -> no pair table, not an empty fabrication")
    val persisted = Dedup.readPairs(spark, root, "corpus1", Set("b1")).get
    assert(persisted.exceptAll(pairs).count() == 0 &&
      pairs.exceptAll(persisted).count() == 0,
      "round-trip must preserve the pair set exactly")

    // cluster resolution over the PERSISTED pairs == direct derivation
    def labelSet(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.get(0).toString, r.get(1).toString, r.getBoolean(2)))
        .toSet
    val direct = labelSet(Dedup.resolveClusters(pairs))
    val cdir = Dedup.writeClusters(persisted, root, "corpus1", "b1")
    val stored = spark.read.parquet(cdir)
    assert(labelSet(stored) == direct,
      "persisted labels must equal the direct resolution")

    // curated build consuming the persisted label table == one-shot op
    val keptDirect = Dedup.dropNearDups(docs, "doc_id", pairs)
      .select($"doc_id").collect().map(_.get(0).toString).toSet
    val keptStored = Dedup.dropNonSurvivors(docs, "doc_id", stored)
      .select($"doc_id").collect().map(_.get(0).toString).toSet
    assert(keptStored == keptDirect)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("mergeClusters: folding new pairs into resolved labels equals " +
      "from-scratch resolution over the union, across seeded random " +
      "splits (incl. cross-component merges and empty halves)") {
    val rng = new scala.util.Random(7)
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2)))
        .toMap
    for (trial <- 0 until 10) {
      val n = 4 + rng.nextInt(10)
      val pairs = Seq.fill(6 + rng.nextInt(14)) {
        (f"n${rng.nextInt(n)}%02d", f"n${rng.nextInt(n)}%02d")
      }.filter(p => p._1 != p._2)
      if (pairs.nonEmpty) {
        val cut = rng.nextInt(pairs.size + 1) // 0 and size are legal
        val (h1, h2) = pairs.splitAt(cut)
        val full = Dedup.resolveClustersIter(pairs.toDF("id_a", "id_b"))
        val base = Dedup.resolveClustersIter(h1.toDF("id_a", "id_b"))
        val merged = Dedup.mergeClusters(base.labels,
          h2.toDF("id_a", "id_b"))
        assert(merged.converged, s"trial $trial must converge")
        assert(labelMap(merged.labels) == labelMap(full.labels),
          s"trial $trial: merge(resolve(h1), h2) must equal " +
            s"resolve(all) [cut=$cut pairs=$pairs]")
        Seq(full, base, merged).foreach(_.release())
      }
    }
  }

  test("resolveClusters bounds iterations and over-segments (never " +
      "over-merges) when the cap fires") {
    // a diameter-7 chain: 0-1-2-...-7
    val chain = (0 until 7).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
      .toDF("id_a", "id_b")
    // a cap below one iteration is rejected up front, never an NPE from
    // a labels frame no iteration assigned
    intercept[IllegalArgumentException](
      Dedup.resolveClustersIter(chain, maxIters = 0))
    val cappedRes = Dedup.resolveClustersIter(chain, maxIters = 2)
    assert(!cappedRes.converged && cappedRes.iterations == 2,
      "the cap must fire on a long chain")
    val capped = cappedRes.labels
    val labels = capped.select($"cluster_id").distinct().count()
    assert(labels > 1, "early stop over-segments")
    // every partial label is still a member of the true component —
    // labels only decrease toward the true min, never cross components
    assert(capped.filter(!$"cluster_id".startsWith("n")).count() == 0)
    cappedRes.release()
    // and with the default cap the same chain fully converges
    val fullRes = Dedup.resolveClustersIter(chain)
    assert(fullRes.converged)
    val full = fullRes.labels
    assert(full.select($"cluster_id").distinct().count() == 1)
    assert(full.filter($"keep").collect().map(_.getString(0)).toSeq ==
      Seq("n00"), "min id survives")
    fullRes.release()
  }

  test("VideoCodec: synthetic MP4s decode to their closed forms on both " +
      "version parities; hostile blobs (truncated, non-ftyp, corrupt " +
      "2^32 size, undersized box) classify, never throw or hang") {
    for (id <- 0L until 16L) {
      val (w, h, ts, dur) = Multimodal.synthMp4Params(id)
      val got = Multimodal.VideoCodec.decodeMp4(
        Multimodal.synthMp4Payload(id))
      assert(got.contains((w, h, dur * 1000L / ts)),
        s"id=$id: got $got, want ($w, $h, ${dur * 1000L / ts})")
    }
    assert(Multimodal.VideoCodec.decodeMp4(null).isEmpty)
    assert(Multimodal.VideoCodec.decodeMp4(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.VideoCodec.decodeMp4(
      "no ftyp anywhere in this blob".getBytes("US-ASCII")).isEmpty,
      "the ftyp brand gate must reject non-MP4 payloads")
    // truncated mid-moov: a valid payload cut right after the moov
    // header — classify, don't throw
    val full = Multimodal.synthMp4Payload(3L) // v1: ftyp ++ moov ++ mdat
    assert(Multimodal.VideoCodec.decodeMp4(
      java.util.Arrays.copyOf(full, 40)).isEmpty)
    // corrupt size near 2^32: must TERMINATE (Long arithmetic clamps to
    // the payload end; an Int truncation would advance by <= 0 forever)
    val huge = java.nio.ByteBuffer.allocate(32)
    huge.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0)
    huge.putInt(0xFFFFFFF0).put("moov".getBytes("US-ASCII"))
      .putLong(0L)
    assert(Multimodal.VideoCodec.decodeMp4(huge.array()).isEmpty)
    // a box declaring size < header (would not advance): corrupt
    val tiny = java.nio.ByteBuffer.allocate(32)
    tiny.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0)
    tiny.putInt(5).put("moov".getBytes("US-ASCII")).putLong(0L)
    assert(Multimodal.VideoCodec.decodeMp4(tiny.array()).isEmpty)
    // size==0 (box extends to end of enclosure): patch the moov size of
    // a valid v1 payload to 0 — the walk must still find mvhd + tkhd
    // (the mdat bytes after them parse as an unknown child and skip)
    val zeroSized = full.clone()
    assert(new String(zeroSized, 20, 4, "US-ASCII") == "moov",
      "fixture layout: moov directly after the 16-byte ftyp")
    zeroSized(16) = 0; zeroSized(17) = 0; zeroSized(18) = 0; zeroSized(19) = 0
    val (w3, h3, ts3, dur3) = Multimodal.synthMp4Params(3L)
    assert(Multimodal.VideoCodec.decodeMp4(zeroSized)
      .contains((w3, h3, dur3 * 1000L / ts3)),
      "a size==0 moov covers the rest of the file and still parses")
  }

  test("VideoCodec skips sound traks (0x0 tkhd dims) and requires both " +
      "mvhd and a video trak") {
    // hand-assembled: ftyp + moov{mvhd v0, ONE sound trak} -> no dims
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(typ.getBytes("US-ASCII"))
        .put(payload)
      bb.array()
    }
    val mvhd = {
      val bb = java.nio.ByteBuffer.allocate(24)
      bb.putInt(0).putInt(0).putInt(0).putInt(1000).putInt(5000)
      java.util.Arrays.copyOf(bb.array(), 20)
    }
    val tkhdSound = {
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.putInt(0) // version 0
      bb.put(new Array[Byte](72)) // times/ids/duration/reserved/matrix
      bb.putInt(0).putInt(0) // width = height = 0: a sound track
      bb.array()
    }
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0))
    val soundOnly = ftyp ++
      box("moov", box("mvhd", mvhd) ++ box("trak", box("tkhd", tkhdSound)))
    assert(Multimodal.VideoCodec.decodeMp4(soundOnly).isEmpty,
      "an audio-only MP4 has no video dims to report")
    // and a moov with a trak but NO mvhd -> no duration -> None
    val tkhdVideo = tkhdSound.clone()
    val bbv = java.nio.ByteBuffer.wrap(tkhdVideo)
    bbv.putInt(76, 320 << 16); bbv.putInt(80, 240 << 16)
    val noMvhd = ftyp ++ box("moov", box("trak", box("tkhd", tkhdVideo)))
    assert(Multimodal.VideoCodec.decodeMp4(noMvhd).isEmpty)
  }

  test("AudioCodec rejects a truncated `fmt ` chunk (declared size < 16) " +
      "instead of reading the next chunk's header bytes as metadata") {
    val bb = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(56)
    bb.put("WAVE".getBytes("US-ASCII"))
    // fmt declares size 12 — the chunk payload ends before block-align/
    // bits, which land inside the following data chunk's header
    bb.put("fmt ".getBytes("US-ASCII")).putInt(12)
    bb.putShort(1.toShort).putShort(2.toShort).putInt(44100)
      .putInt(44100 * 4)
    bb.put("data".getBytes("US-ASCII")).putInt(8)
    bb.put(new Array[Byte](8))
    assert(Multimodal.AudioCodec.decodeWav(
      java.util.Arrays.copyOf(bb.array(), bb.position())).isEmpty,
      "a truncated fmt chunk must classify as undecodable, not decode " +
        "with garbage channel/rate/bits")
  }

  test("BPE: the once-through rank fold equals the TEXTBOOK reference " +
      "(lowest-rank pair, leftmost, one merge per step) on randomized " +
      "words; the merges table is layered; overlap self-pairs fold " +
      "non-overlapping") {
    // layering invariant: every multi-char element is the output of a
    // strictly-earlier merge — the shape of a learned table
    val outputs = Bpe.merges.map { case (a, b) => a + b }
    Bpe.merges.zipWithIndex.foreach { case ((a, b), r) =>
      for (el <- Seq(a, b) if el.length > 1) {
        val creator = outputs.indexOf(el)
        assert(creator >= 0 && creator < r,
          s"merge $r ($a,$b): element '$el' must be created by an " +
            s"earlier rank, found $creator")
      }
    }
    // overlap semantics: the self-pair (o, o) merges leftmost first,
    // through the native expression on the demo table
    def sparkToks(ws: Seq[String]): Map[String, Seq[String]] =
      ws.toDF("w")
        .select($"w", graft.functions.BpeExprs.bpeTokens($"w", "demo")
          .as("t"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val fixed = sparkToks(Seq("ooo", "oooo", "ooooo", "the", "standing",
      "thermal", "120012", "llama", "atoll"))
    assert(fixed("ooo") == Seq("oo", "o"))
    assert(fixed("oooo") == Seq("oo", "oo"),
      "greedy left fold, never the overlapping [o, oo, o]")
    assert(fixed("ooooo") == Seq("oo", "oo", "o"))
    assert(fixed("the") == Seq("the"))
    // randomized equivalence against the driver-side textbook loop
    val rng = new scala.util.Random(42)
    val alphabet = "aeilnorstdgh012o" // bias toward merge-active chars
    val words = Seq.fill(80)(
      (0 to rng.nextInt(11)).map(_ => alphabet(rng.nextInt(alphabet.length)))
        .mkString).filter(_.nonEmpty).distinct
    val got = sparkToks(words)
    for (w <- words)
      assert(got(w) == Bpe.tokenizeReference(w),
        s"word '$w': native ${got(w)} != textbook ${Bpe.tokenizeReference(w)}")
  }

  test("real-vocab BPE: the generated layered table is GPT-2-scale and " +
      "structurally layered; the native expression equals the textbook " +
      "reference on randomized words; counts match token arrays") {
    import graft.functions.{BpeExprs, BpeNative, BpeVocab}
    val merges = BpeVocab.merges(Bpe.realVocab)
    assert(merges.size == 47952, "36 chars: 36^2 + 36^3 merges")
    assert(merges.size >= 10000, "the real-vocab bar")
    // layered: every multi-char operand is a layer-1 output (all
    // charset bigrams are, by construction) whose rank precedes the
    // merge using it — check the boundary and a deterministic sample
    val n = Bpe.realVocabCharset.length
    def l1Rank(bigram: String): Int =
      Bpe.realVocabCharset.indexOf(bigram(0)) * n +
        Bpe.realVocabCharset.indexOf(bigram(1)) + 1
    assert(merges.take(n * n).forall { case (a, b) =>
      a.length == 1 && b.length == 1 })
    merges.zipWithIndex.drop(n * n).take(500).foreach { case ((a, b), r) =>
      assert(a.length == 2 && b.length == 1 && l1Rank(a) - 1 < r,
        s"layer-2 merge $r ($a,$b) must consume an earlier rank's output")
    }
    // native == textbook reference on randomized alphanumeric words
    val ranksMap = merges.zipWithIndex
      .map { case (p, i) => p -> (i + 1) }.toMap
    val rng = new scala.util.Random(7)
    val cs = Bpe.realVocabCharset
    val words = Seq.fill(120)(
      (0 to rng.nextInt(14)).map(_ => cs(rng.nextInt(cs.length)))
        .mkString).filter(_.nonEmpty).distinct
    val got = words.toDF("w")
      .select($"w", BpeExprs.bpeTokens($"w", Bpe.realVocab).as("t"),
        BpeExprs.bpeTokenCount($"w", Bpe.realVocab).as("c"))
      .collect()
      .map(r => r.getString(0) -> ((r.getSeq[String](1), r.getInt(2))))
      .toMap
    for (w <- words) {
      val want = Bpe.tokenizeReference(w, ranksMap)
      assert(got(w)._1 == want,
        s"word '$w': native ${got(w)._1} != textbook $want")
      assert(got(w)._2 == want.size)
      assert(got(w)._1.mkString == w, "tokens must reassemble the word")
    }
    // the long-word HEAP path (words past ScanMax) equals both the
    // textbook reference and the short-word scan implementation —
    // randomized lengths straddling the threshold plus a multi-KB run
    // (the case the heap exists for; the scan is still fine as a
    // REFERENCE at 5k chars, it is the megabyte case it cannot do)
    val rk = BpeVocab.ranks(Bpe.realVocab)
    val longWords = Seq.fill(25)(
      (0 until (BpeNative.ScanMax - 8 + rng.nextInt(120)))
        .map(_ => cs(rng.nextInt(cs.length))).mkString) :+
      (0 until 5000).map(_ => cs(rng.nextInt(cs.length))).mkString
    for (w <- longWords) {
      val heap = BpeNative.tokenizeHeap(w, rk).toSeq
      assert(heap == BpeNative.tokenizeScan(w, rk).toSeq,
        s"heap != scan on len=${w.length}")
      if (w.length <= 300)
        assert(heap == Bpe.tokenizeReference(w, ranksMap),
          s"heap != textbook on len=${w.length}")
      assert(heap.mkString == w)
    }
    // chars outside the charset never merge but never throw
    assert(BpeNative.tokenize("a_b", BpeVocab.ranks(Bpe.realVocab)).toSeq
      == Seq("a", "_", "b"))
    assert(BpeNative.tokenize("", BpeVocab.ranks(Bpe.realVocab)).isEmpty)
    // null in -> null out (UnaryExpression null-safety)
    val nullRow = Seq((1, Option.empty[String])).toDF("i", "w")
      .select(BpeExprs.bpeTokenCount($"w", Bpe.realVocab)).head()
    assert(nullRow.isNullAt(0))
  }

  test("demo vocab three-way equivalence: Catalyst rank fold == native " +
      "ranks-map expression == textbook, on the overlap fixtures and " +
      "randomized words") {
    import graft.functions.{BpeExprs, BpeTokens}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val rng = new scala.util.Random(99)
    val alphabet = "aeilnorstdgh012o"
    val words = (Seq("ooo", "oooo", "ooooo", "the", "standing", "atoll") ++
      Seq.fill(60)((0 to rng.nextInt(11))
        .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString))
      .filter(_.nonEmpty).distinct
    // the three: the expression under whole-stage codegen, the same
    // expression's interpreted eval, and the driver-side textbook loop
    val got = words.toDF("w")
      .select($"w", BpeExprs.bpeTokens($"w", "demo").as("native"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    for (w <- words) {
      val native = got(w)
      val interpreted = BpeTokens(Literal(w), "demo").eval()
        .asInstanceOf[ArrayData].toSeq[AnyRef](
          org.apache.spark.sql.types.StringType).map(_.toString)
      val textbook = Bpe.tokenizeReference(w)
      assert(interpreted == textbook,
        s"'$w': interpreted $interpreted != textbook $textbook")
      assert(native == textbook,
        s"'$w': native $native != textbook $textbook")
    }
  }

  test("file: BPE vocab loader — a learned-merges file equals the " +
      "in-memory table it encodes (expression AND BpeNative), comments " +
      "and blank lines skipped, malformed lines THROW") {
    import graft.functions.{BpeExprs, BpeNative, BpeVocab}
    val dir = java.nio.file.Paths.get(SparkTestSession.scratchDir("bpevocab"))
    // encode the DEMO table as a merges file, rank = line order, with
    // the noise a hand-maintained file accumulates: comments, blank
    // lines, stray surrounding whitespace
    val lines = new scala.collection.mutable.ArrayBuffer[String]()
    lines += "# demo vocab as a learned-merges file"
    lines += ""
    Bpe.merges.zipWithIndex.foreach { case ((a, b), i) =>
      lines += s"$a $b"
      if (i % 5 == 0) lines += "  # rank comment"
      if (i % 7 == 0) lines += "   "
    }
    val f = dir.resolve("demo_merges.txt")
    java.nio.file.Files.writeString(f, lines.mkString("\n"))
    val name = s"file:$f"
    assert(BpeVocab.merges(name) == Bpe.merges.toIndexedSeq,
      "file: must load exactly the encoded ranks, noise skipped")
    // tokenization equivalence on randomized words: file: == demo,
    // through the codegen'd expression and through BpeNative directly
    val rng = new scala.util.Random(31)
    val alphabet = "aeilnorstdgh012o"
    val words = (Seq("the", "standing", "ooo") ++ Seq.fill(40)(
      (0 to rng.nextInt(11))
        .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString))
      .filter(_.nonEmpty).distinct
    val got = words.toDF("w")
      .select($"w", BpeExprs.bpeTokens($"w", name).as("file"),
        BpeExprs.bpeTokens($"w", "demo").as("demo"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"'${r.getString(0)}': file: != demo through the expression")
    }
    val fileRanks = BpeVocab.ranks(name)
    for (w <- words)
      assert(BpeNative.tokenize(w, fileRanks).toSeq
          == Bpe.tokenizeReference(w),
        s"'$w': BpeNative over file: ranks != textbook")
    // malformed line: the loader THROWS (pinned behavior — a silently
    // skipped rank would shift every later rank and corrupt the vocab)
    val bad = dir.resolve("bad_merges.txt")
    java.nio.file.Files.writeString(bad, "a b\na b c\n")
    val e = intercept[IllegalArgumentException] {
      BpeVocab.merges(s"file:$bad")
    }
    assert(e.getMessage.contains("malformed merges line"),
      s"want the loud malformed-line error, got: ${e.getMessage}")
    val empty = dir.resolve("empty_field.txt")
    java.nio.file.Files.writeString(empty, "a \n")
    intercept[IllegalArgumentException] {
      BpeVocab.merges(s"file:$empty")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("file: BPE vocab SparkFiles fallback — a vocab shipped with " +
      "addFile resolves by basename when the path is not a local file " +
      "(the --files executor path)") {
    import graft.functions.{BpeExprs, BpeVocab}
    val dir = java.nio.file.Paths.get(SparkTestSession.scratchDir("bpeship"))
    // unique basename per run: SparkFiles resolves by basename and the
    // ranks cache is keyed by name — both must see a fresh identity
    val base = s"shipped_merges_${System.nanoTime()}.txt"
    val f = dir.resolve(base)
    java.nio.file.Files.writeString(f,
      Bpe.merges.map { case (a, b) => s"$a $b" }.mkString("\n"))
    spark.sparkContext.addFile(f.toString)
    // the name deliberately does NOT resolve as a local path from the
    // test's working directory, forcing the SparkFiles.get branch.
    // Resolution must happen INSIDE a task (the production path: a
    // real cluster's executors fetch --files into the task's artifact
    // dir before the task body runs; driver-side SparkFiles.get is not
    // the shipped-file contract) — so the only access here is through
    // the expression over a repartitioned frame.
    val name = s"file:$base"
    assert(!new java.io.File(base).isFile,
      "precondition: the bare basename must not exist in cwd")
    val got = Seq("the", "standing", "atoll").toDF("w").repartition(2)
      .select(BpeExprs.bpeTokens($"w", name).as("t"),
        BpeExprs.bpeTokens($"w", "demo").as("d"))
      .collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // the task's resolution populated the per-JVM ranks cache with the
    // full shipped table
    assert(BpeVocab.ranks(name).size() == Bpe.merges.size)
    // deliberately NO cleanup: an addFile SOURCE must outlive the
    // SparkContext — every later task in the shared test session
    // re-verifies all added files against their sources, so deleting
    // the file here poisons every subsequent suite (observed: dozens of
    // unrelated failures). The dir lives under target/ scratch.
  }

  test("baseline JPEG decode (m08): fixtures decode to their closed " +
      "forms across gray/4:4:4/4:2:0; restart intervals are " +
      "value-neutral; hostile battery classifies, never throws") {
    // closed-form agreement, every output sample, first 12 ids
    for (id <- 0L until 12L) {
      val (w, h, mode) = Jpeg.synthJpegParams(id)
      val px = Jpeg.decodeBaseline(Jpeg.synthJpegPayload(id))
        .getOrElse(fail(s"id=$id must decode"))
      assert((px.width, px.height) == ((w, h)))
      assert(px.channels == (if (mode == 0) 1 else 3))
      val qf = Jpeg.synthJpegQf(id)
      val qfc = Jpeg.synthJpegQfC(id)
      for (y <- 0 until h; x <- 0 until w) {
        val (bx, by) = (x / 8, y / 8)
        val yv = Jpeg.synthJpegDcY(id, bx, by) * qf + 128
        if (mode == 0) {
          assert((px.data(y * w + x) & 0xff) == yv,
            s"id=$id gray ($x,$y)")
        } else {
          val (cx, cy) = if (mode == 2) (bx / 2, by / 2) else (bx, by)
          val cb = Jpeg.synthJpegDcCb(id, cx, cy) * qfc + 128
          val cr = Jpeg.synthJpegDcCr(id, cx, cy) * qfc + 128
          def cl(v: Double): Int =
            math.max(0, math.min(255, math.floor(v + 0.5).toInt))
          val o = (y * w + x) * 3
          assert((px.data(o) & 0xff) == cl(yv + 1.402 * (cr - 128)),
            s"id=$id R ($x,$y)")
          assert((px.data(o + 1) & 0xff) ==
            cl(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
            s"id=$id G ($x,$y)")
          assert((px.data(o + 2) & 0xff) == cl(yv + 1.772 * (cb - 128)),
            s"id=$id B ($x,$y)")
        }
      }
    }
    // restart markers are value-neutral (DC predictors reset on both
    // the encode and decode side)
    for (id <- 0L until 6L) {
      val plain = Jpeg.decodeBaseline(Jpeg.synthJpegPayload(id)).get
      val rst = Jpeg.decodeBaseline(Jpeg.synthJpegPayload(id, 2)).get
      assert(plain.data.toSeq == rst.data.toSeq, s"id=$id restart")
    }
    // ---- hostile battery over a valid payload ----
    val base = Jpeg.synthJpegPayload(4L) // color 4:4:4, 48x16
    def findMarker(m: Int): Int = {
      val i = base.indices.dropRight(1).indexWhere(i =>
        (base(i) & 0xff) == 0xff && (base(i + 1) & 0xff) == m)
      assert(i >= 0, f"fixture must contain marker FF$m%02X"); i
    }
    def patched(at: Int, v: Int*): Array[Byte] = {
      val c = base.clone()
      v.indices.foreach(j => c(at + j) = v(j).toByte); c
    }
    // truncated scan: cut shortly after SOS
    val sosAt = findMarker(0xda)
    assert(Jpeg.decodeBaseline(
      java.util.Arrays.copyOf(base, sosAt + 16)).isEmpty,
      "truncated scan must classify undecodable")
    // corrupt entropy data: 0xF0 is an invalid Huffman prefix under
    // the fixture's DC table (codes are 0000..1011)
    val scanStart = sosAt + 2 + 2 + 10 // marker + len(2) + body(1+6+3)
    assert(Jpeg.decodeBaseline(patched(scanStart, 0xf0)).isEmpty,
      "invalid Huffman code must classify undecodable")
    // dimension bomb: huge declared dims must gate BEFORE allocation
    val sofAt = findMarker(0xc0)
    assert(Jpeg.decodeBaseline(
      patched(sofAt + 5, 0xff, 0xff, 0xff, 0xff)).isEmpty,
      "dimension bomb must classify undecodable")
    // progressive (SOF2) is outside the baseline profile
    assert(Jpeg.decodeBaseline(patched(sofAt + 1, 0xc2)).isEmpty,
      "progressive must classify undecodable")
    // a referenced-but-never-declared Huffman table: retag the first
    // DHT as a COM segment (same length, now skipped)
    val dhtAt = findMarker(0xc4)
    assert(Jpeg.decodeBaseline(patched(dhtAt + 1, 0xfe)).isEmpty,
      "missing DC table must classify undecodable")
    assert(Jpeg.decodeBaseline(base).isDefined, "base stays decodable")
    assert(Jpeg.decodeBaseline(null).isEmpty)
    assert(Jpeg.decodeBaseline(Array[Byte](0xff.toByte, 0xd8.toByte))
      .isEmpty)
  }

  test("baseline JPEG AC path: a hand-encoded block with AC " +
      "coefficients (runs, sizes, EOB) decodes to the naive " +
      "double-IDCT reference computed independently here") {
    // single 8x8 grayscale block; quant = 3 everywhere; coefficients:
    // DC=9, AC at zigzag 1 (value 5), then a 2-zero run to zigzag 4
    // (value -2), EOB
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int, body: Array[Int]): Unit = {
      out.write(0xff); out.write(m)
      val len = body.length + 2
      out.write(len >> 8); out.write(len & 0xff)
      body.foreach(out.write)
    }
    out.write(0xff); out.write(0xd8)
    marker(0xdb, Array(0x00) ++ Array.fill(64)(3))
    marker(0xc0, Array(8, 0, 8, 0, 8, 1, 1, 0x11, 0))
    // DC table: 12 codes of length 4 (code == category)
    marker(0xc4, Array(0x00, 0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
      0, 0) ++ (0 to 11))
    // AC table: length-2 codes 00=EOB, 01=(r0,s3), 10=(r2,s2)
    marker(0xc4, Array(0x10, 0, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
      0, 0, 0x00, 0x03, 0x22))
    marker(0xda, Array(1, 1, 0x00, 0, 63, 0))
    // entropy bits: DC cat4 code "0100" + 9 as "1001"; AC "01" + 5 as
    // "101"; AC "10" + -2 as "01" (size-2 one's-complement-ish
    // encoding: v + (1<<s) - 1 = 1 = "01"); EOB "00" -> pad with 1s
    val bits = "0100" + "1001" + "01" + "101" + "10" + "01" + "00"
    val padded = bits + "1" * ((8 - bits.length % 8) % 8)
    padded.grouped(8).foreach(b => out.write(Integer.parseInt(b, 2)))
    out.write(0xff); out.write(0xd9)
    val px = Jpeg.decodeBaseline(out.toByteArray)
      .getOrElse(fail("AC fixture must decode"))
    assert((px.width, px.height, px.channels) == ((8, 8, 1)))
    // naive reference: direct T.81 IDCT double loop, written here
    // independently of the decoder's separable implementation
    val coef = new Array[Int](64)
    coef(0) = 9 * 3
    coef(1) = 5 * 3 // zigzag 1 == natural (r0, c1)
    coef(1 * 8 + 1) = -2 * 3 // zigzag 4 == natural (r1, c1)
    def cFn(u: Int) = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    for (y <- 0 until 8; x <- 0 until 8) {
      var s = 0.0
      for (r <- 0 until 8; c <- 0 until 8)
        s += cFn(r) * cFn(c) / 4.0 * coef(r * 8 + c) *
          math.cos((2 * x + 1) * c * math.Pi / 16.0) *
          math.cos((2 * y + 1) * r * math.Pi / 16.0)
      // the separable decoder sums in a different ORDER, so allow the
      // one-ulp-at-a-boundary case by comparing against both the naive
      // value and its +-1 neighborhood ONLY when s sits within 1e-9 of
      // a .5 boundary; everywhere else the match must be exact
      val frac = s + 128.0 + 0.5
      val want = math.max(0.0, math.min(255.0, math.floor(frac))).toInt
      val got = px.data(y * 8 + x) & 0xff
      if (math.abs(frac - math.rint(frac)) < 1e-9)
        assert(math.abs(got - want) <= 1,
          s"($x,$y): boundary case, got $got want ~$want")
      else assert(got == want, s"($x,$y): got $got want $want")
    }
  }

  test("baseline JPEG non-MCU-aligned dims (12x10) crop correctly, and " +
      "4:2:2 sampling (h=2,v=1) upsamples horizontally") {
    def buildJpeg(w: Int, h: Int, comps: Seq[Int], bits: String): Array[Byte] = {
      // comps: per-component HV byte; quant table 0 with q00=8 shared
      val out = new java.io.ByteArrayOutputStream()
      def marker(m: Int, body: Array[Int]): Unit = {
        out.write(0xff); out.write(m)
        val len = body.length + 2
        out.write(len >> 8); out.write(len & 0xff)
        body.foreach(out.write)
      }
      out.write(0xff); out.write(0xd8)
      marker(0xdb, Array(0x00, 8) ++ Array.fill(63)(16))
      marker(0xc0, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff,
        comps.size) ++
        comps.zipWithIndex.flatMap { case (hv, i) => Seq(i + 1, hv, 0) })
      marker(0xc4, Array(0x00, 0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0,
        0, 0, 0) ++ (0 to 11))
      marker(0xc4, Array(0x10, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
        0, 0, 0, 0x00))
      marker(0xda, Array(comps.size) ++
        comps.indices.flatMap(i => Seq(i + 1, 0x00)) ++ Seq(0, 63, 0))
      val padded = bits + "1" * ((8 - bits.length % 8) % 8)
      padded.grouped(8).foreach { b =>
        val v = Integer.parseInt(b, 2)
        out.write(v)
        if (v == 0xff) out.write(0x00)
      }
      out.write(0xff); out.write(0xd9)
      out.toByteArray
    }
    // DC-only block bits under the fixture tables: 4-bit category code
    // (== category), magnitude bits, then the 1-bit AC EOB "0"
    def blockBits(diff: Int): String = {
      val t = if (diff == 0) 0
        else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
      val cat = ("000" + t.toBinaryString).takeRight(4)
      val mag = if (t == 0) ""
        else {
          val v = if (diff >= 0) diff else diff + (1 << t) - 1
          ("0" * t + v.toBinaryString).takeRight(t)
        }
      cat + mag + "0"
    }
    // --- 12x10 grayscale: 2x2 MCU grid, cropped; q00=8 -> value=dc+128
    val dcs = Seq(5, -3, 7, 0) // blocks in raster order
    val diffs = dcs.zip(0 +: dcs.dropRight(1)).map { case (v, p) => v - p }
    val gray = Jpeg.decodeBaseline(
      buildJpeg(12, 10, Seq(0x11), diffs.map(blockBits).mkString))
      .getOrElse(fail("12x10 gray must decode"))
    assert((gray.width, gray.height, gray.channels) == ((12, 10, 1)))
    for (y <- 0 until 10; x <- 0 until 12) {
      val want = dcs((y / 8) * 2 + (x / 8)) + 128
      assert((gray.data(y * 12 + x) & 0xff) == want, s"($x,$y)")
    }
    // --- 16x8 color 4:2:2 (luma h=2,v=1): one MCU = 2 Y blocks + Cb + Cr
    val (y0, y1, cbDc, crDc) = (6, -4, 3, -5)
    val bits422 = blockBits(y0) + blockBits(y1 - y0) +
      blockBits(cbDc) + blockBits(crDc)
    val c422 = Jpeg.decodeBaseline(
      buildJpeg(16, 8, Seq(0x21, 0x11, 0x11), bits422))
      .getOrElse(fail("4:2:2 must decode"))
    assert((c422.width, c422.height, c422.channels) == ((16, 8, 3)))
    def cl(v: Double): Int =
      math.max(0, math.min(255, math.floor(v + 0.5).toInt))
    for (y <- 0 until 8; x <- 0 until 16) {
      val yy = (if (x < 8) y0 else y1) + 128
      val (cb, cr) = (cbDc + 128 - 128, crDc + 128 - 128)
      val o = (y * 16 + x) * 3
      assert((c422.data(o) & 0xff) == cl(yy + 1.402 * cr), s"R($x,$y)")
      assert((c422.data(o + 1) & 0xff) ==
        cl(yy - 0.344136 * cb - 0.714136 * cr), s"G($x,$y)")
      assert((c422.data(o + 2) & 0xff) == cl(yy + 1.772 * cb), s"B($x,$y)")
    }
  }

  test("JPEG features are REAL in both feature dispatches (checksum == " +
      "CRC32 of the decoded samples), and m08's own fixtures decode " +
      "through MediaHeader as jpeg headers") {
    import graft.functions.{MediaFeatureNative, MediaHeader}
    val payload = Jpeg.synthJpegPayload(7L)
    val px = Jpeg.decodeBaseline(payload).get
    val crc = new java.util.zip.CRC32()
    crc.update(px.data)
    // the native expression's static compute
    val row = MediaFeatureNative.features(payload, 16)
    assert(row != null && row.getLong(0) == crc.getValue)
    // the batched Dataset path
    val feats = Multimodal.decodeFeatures(
      Seq(Multimodal.MediaRow(7L, "image", payload, px.width, px.height,
        0)).toDS()).collect()
    assert(feats.head.checksum.get == crc.getValue)
    // header dispatch still classifies it as a jpeg
    val hdr = MediaHeader.compute(payload)
    assert(hdr != null && hdr.getUTF8String(0).toString == "jpeg")
  }

  test("MP4 sample-table walk (m09): fixtures decode to their closed " +
      "forms; hostile battery — truncated tables, count overflow, " +
      "stts/stsz disagreement, zero timescale — classifies, never throws") {
    import Multimodal.VideoCodec
    // closed-form agreement on a spread of ids covering every variant
    // fork (constant/per-sample stsz, stss present/absent, stco/co64)
    for (id <- 0L until 16L) {
      val (ts, n, d1, d2, k, m) = Multimodal.synthStblParams(id)
      val s = VideoCodec.decodeSampleTables(
        Multimodal.synthMp4StblPayload(id))
        .getOrElse(fail(s"id=$id must decode"))
      assert(s.nFrames == n && s.timescale == ts && s.nChunks == m)
      val wantBytes =
        if (id % 3 == 0) n * Multimodal.synthStblSampleSize(id, 0)
        else (0L until n).map(Multimodal.synthStblSampleSize(id, _)).sum
      assert(s.totalBytes == wantBytes, s"id=$id totalBytes")
      assert(s.totalDelta == (n / 2) * d1 + (n - n / 2) * d2)
      assert(s.nKeyframes ==
        (if (id % 4 == 3) n else (n - 1) / k + 1), s"id=$id keyframes")
    }
    // ---- hostile battery over a valid payload, patched in place ----
    val base = Multimodal.synthMp4StblPayload(1L) // per-sample stsz, co64
    def find(pat: String): Int = {
      val b = pat.getBytes("US-ASCII")
      val i = base.indices.indexWhere(i =>
        i + b.length <= base.length &&
          b.indices.forall(j => base(i + j) == b(j)))
      assert(i > 0, s"fixture must contain $pat"); i
    }
    def patched(at: Int, v: Array[Byte]): Array[Byte] = {
      val c = base.clone()
      v.indices.foreach(j => c(at + j) = v(j)); c
    }
    def u32(v: Long): Array[Byte] = Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    // truncated payload: cut inside the stsz per-sample table
    val stszAt = find("stsz")
    assert(VideoCodec.decodeSampleTables(
      java.util.Arrays.copyOf(base, stszAt + 24)).isEmpty,
      "truncated stsz table must classify undecodable")
    // count overflow: stsz sample_count = 0xFFFFFFFF (per-factor cap
    // must reject BEFORE any count*width product)
    assert(VideoCodec.decodeSampleTables(
      patched(stszAt + 12, u32(0xFFFFFFFFL))).isEmpty,
      "stsz count overflow must classify undecodable")
    // stts/stsz disagreement: bump the first stts run length (u32 at
    // payload +8; the value is small, so the low two bytes carry it)
    val sttsAt = find("stts")
    val origC1 = ((base(sttsAt + 14) & 0xff) << 8) | (base(sttsAt + 15) & 0xff)
    assert(VideoCodec.decodeSampleTables(
      patched(sttsAt + 8 + 4, u32(origC1 + 1L))).isEmpty,
      "stts total != stsz count must classify undecodable")
    // stts entry-count overflow
    assert(VideoCodec.decodeSampleTables(
      patched(sttsAt + 8, u32(0x7FFFFFFFL))).isEmpty,
      "stts entry-count overflow must classify undecodable")
    // zero mdhd timescale
    val mdhdAt = find("mdhd")
    assert(VideoCodec.decodeSampleTables(
      patched(mdhdAt + 4 + 4 + 8, u32(0L))).isEmpty,
      "zero timescale must classify undecodable")
    // stss count overflow
    val stssAt = find("stss") // id=1: k=2, stss present
    assert(VideoCodec.decodeSampleTables(
      patched(stssAt + 8, u32(0x40000000L))).isEmpty,
      "stss count overflow must classify undecodable")
    // the UNPATCHED base still decodes (the battery patched copies)
    assert(VideoCodec.decodeSampleTables(base).isDefined)
  }

  test("MediaHeader surfaces sample-table signals for MP4s that carry " +
      "them, leaves them null for table-less MP4s and other formats") {
    import graft.functions.MediaHeader
    val rows = Seq(
      Multimodal.synthMp4StblPayload(2L), // has stbl
      Multimodal.synthMp4Payload(2L), // header-only mp4 (no stbl)
      Multimodal.synthWavPayload(2L))
      .toDF("media")
      .select(MediaHeader.mediaHeader($"media").as("h"))
      .select($"h.kind", $"h.n_frames", $"h.bitrate_bps",
        $"h.keyframe_density_x1000", $"h.width")
      .collect()
    val withTables = rows(0)
    val (ts, n, d1, d2, k, _) = Multimodal.synthStblParams(2L)
    val s = Multimodal.VideoCodec.decodeSampleTables(
      Multimodal.synthMp4StblPayload(2L)).get
    val mediaMs = s.totalDelta * 1000L / ts
    assert(withTables.getString(0) == "mp4")
    assert(withTables.getLong(1) == n)
    assert(withTables.getLong(2) == s.totalBytes * 8000L / mediaMs)
    assert(withTables.getLong(3) == s.nKeyframes * 1000L / n)
    assert(withTables.getInt(4) == 320, "header dims must still decode")
    val headerOnly = rows(1)
    assert(headerOnly.getString(0) == "mp4" && headerOnly.isNullAt(1) &&
      headerOnly.isNullAt(2) && headerOnly.isNullAt(3),
      "a table-less mp4 keeps its header decode, without stbl signals")
    val wav = rows(2)
    assert(wav.getString(0) == "wav" && wav.isNullAt(1))
  }

  test("lmScore: exact backoff arithmetic on constructed docs, and the " +
      "score is monotone in the n-gram hit count") {
    val lm = graft.Queries.d24Lm.toDF("gram", "logp_x1e6")
    def score(docs: (Long, String)*): Map[Long, (Long, Long, Long)] =
      TextAnalysis.lmScore(docs.toDF("doc_id", "text"), lm)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
    // exact values: first token scores unigram WITHOUT penalty;
    // bigram hit beats penalized unigram beats OOV floor
    val got = score(
      1L -> "table", // unigram only: -1,200,000
      2L -> "zzz", // OOV floor: -18,000,000
      3L -> "table table", // uni + bigram: -1,200,000 + -900,000
      4L -> "table zzz", // uni + OOV
      5L -> "zzz table") // OOV + penalized unigram (bigram unknown)
    assert(got(1L) == ((1L, -1200000L, -1200000L)))
    assert(got(2L) == ((1L, -18000000L, -18000000L)))
    assert(got(3L) == ((2L, -2100000L, -1050000L)))
    assert(got(4L) == ((2L, -19200000L, -9600000L)))
    assert(got(5L) == ((2L, -18000000L + (-1200000L - 2500000L),
      -21700000L / 2)))
    // monotonicity: replacing an OOV token with an LM-known one (and a
    // known unigram with a known bigram continuation) strictly raises
    // the sum — 0, 1, 2, 3 hits in a 3-token doc
    val mono = score(
      10L -> "zza zzb zzc", // 0 hits
      11L -> "table zzb zzc", // 1 unigram hit
      12L -> "table table zzc", // + bigram hit
      13L -> "table table table") // all known
    val sums = (10L to 13L).map(mono(_)._2)
    assert(sums == sums.sorted && sums.distinct == sums,
      s"sum log-prob must be strictly monotone in hit count: $sums")
  }

  test("ivfAssignExpr round-before-argmax: a constructed near-tie is " +
      "ulp-decided unrounded but collapses to the deterministic " +
      "largest-cid tie-break when rounded") {
    val cents = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
    // components one float ulp apart: the two cosines differ by ~6e-8 —
    // below the 6-digit rounding grain, above float64 noise
    val b = 0.7071068f
    val a = Math.nextUp(b)
    val df = Seq((10L, Seq(a, b))).toDF("vec_id", "embedding")
    val unrounded = df.select(
      Similarity.ivfAssignExpr($"embedding", cents).as("c")).head().getLong(0)
    val rounded = df.select(
      Similarity.ivfAssignExpr($"embedding", cents, roundDigits = 6)
        .as("c")).head().getLong(0)
    assert(unrounded == 1L,
      "unrounded: the one-ulp-larger first component wins")
    assert(rounded == 2L,
      "rounded: the scores tie at 6 digits and break to the largest cid " +
        "— the cross-engine-stable behavior e04/e05 now replay")
    // the rounded scores really are equal (the tie is not accidental)
    val scores = df.select(
      round(Similarity.cosineWithLiteral($"embedding", Seq(1.0, 0.0)), 6),
      round(Similarity.cosineWithLiteral($"embedding", Seq(0.0, 1.0)), 6))
      .head()
    assert(scores.getDouble(0) == scores.getDouble(1))
  }

  test("VideoCodec: a 64-bit largesize near Long.MaxValue cannot wrap " +
      "the walker negative, and a hostile v1 mvhd duration that would " +
      "overflow the ms conversion classifies as undecodable") {
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(typ.getBytes("US-ASCII"))
        .put(payload)
      bb.array()
    }
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0))
    // size32==1 with largesize = Long.MaxValue: without overflow-safe
    // end arithmetic, i + size wraps negative and i.toInt lands at a
    // garbage offset (AIOOBE or a ~2^60-step spin)
    val big64 = java.nio.ByteBuffer.allocate(ftyp.length + 24)
    big64.put(ftyp).putInt(1).put("moov".getBytes("US-ASCII"))
      .putLong(Long.MaxValue).putLong(0L)
    assert(Multimodal.VideoCodec.decodeMp4(big64.array()).isEmpty,
      "hostile largesize must terminate, classify empty")
    def mvhdV1(dur: Long): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(32)
      bb.putInt(1 << 24) // version 1, flags 0
      bb.put(new Array[Byte](16)) // 64-bit creation + modification
      bb.putInt(1000) // timescale at +20
      bb.putLong(dur) // duration at +24
      bb.array()
    }
    val tkhdVideo = {
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.putInt(0)
      bb.put(new Array[Byte](72))
      bb.putInt(320 << 16).putInt(240 << 16)
      bb.array()
    }
    def mp4(dur: Long): Array[Byte] = ftyp ++ box("moov",
      box("mvhd", mvhdV1(dur)) ++ box("trak", box("tkhd", tkhdVideo)))
    // sanity: the same structure with a sane duration decodes
    assert(Multimodal.VideoCodec.decodeMp4(mp4(5000L))
      .contains((320, 240, 5000L)))
    // dur * 1000 would overflow Long: reject, don't emit plausible junk
    assert(Multimodal.VideoCodec.decodeMp4(mp4(Long.MaxValue)).isEmpty)
    assert(Multimodal.VideoCodec.decodeMp4(
      mp4(Long.MaxValue / 1000L + 1L)).isEmpty)
    // sign bit set (be64 reads negative): equally hostile
    assert(Multimodal.VideoCodec.decodeMp4(mp4(Long.MinValue)).isEmpty)
    // the exact boundary still decodes (the guard is not over-broad)
    val atMax = Long.MaxValue / 1000L
    assert(Multimodal.VideoCodec.decodeMp4(mp4(atMax))
      .contains((320, 240, atMax * 1000L / 1000L)))
  }

  test("PixelCodec decodes a hand-assembled stored-block PNG (encoder-" +
      "independent) plus every synth payload to its closed form, and " +
      "rejects zip-bombs, truncation, and corruption without throwing") {
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    def ihdr(w: Int, h: Int, depth: Int, colorType: Int,
        interlace: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
        .put(depth.toByte).put(colorType.toByte)
        .put(0.toByte).put(0.toByte).put(interlace.toByte).array()
    // a zlib stream assembled BY HAND as one stored (BTYPE=00) deflate
    // block — no Deflater anywhere on this path, so a symmetric
    // encode/decode bug cannot cancel out
    def storedZlib(raw: Array[Byte]): Array[Byte] = {
      val adler = new java.util.zip.Adler32()
      adler.update(raw)
      val bb = java.nio.ByteBuffer.allocate(7 + raw.length + 4)
      bb.put(0x78.toByte).put(0x01.toByte) // header: 0x7801 % 31 == 0
      bb.put(0x01.toByte) // BFINAL=1, BTYPE=00
      bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putShort(raw.length.toShort).putShort((~raw.length).toShort)
      bb.order(java.nio.ByteOrder.BIG_ENDIAN)
      bb.put(raw).putInt(adler.getValue.toInt).array()
    }
    def png(hdr: Array[Byte], idat: Array[Byte]): Array[Byte] =
      sig ++ Multimodal.pngChunk("IHDR", hdr) ++
        Multimodal.pngChunk("IDAT", idat) ++
        Multimodal.pngChunk("IEND", Array.emptyByteArray)

    // 2x2 grayscale: scanline 0 = filter None (10, 20), scanline 1 =
    // filter Sub (30, 45 → deltas 30, 15); expected unfiltered samples
    // are hand-derived, independent of synthPngPayload
    val raw = Array[Byte](0, 10, 20, 1, 30, 15)
    val hand = png(ihdr(2, 2, 8, 0, 0), storedZlib(raw))
    assert(Multimodal.PixelCodec.decodePng(hand)
      .map(p => (p.width, p.height, p.channels, p.data.toSeq))
      .contains((2, 2, 1, Seq[Byte](10, 20, 30, 45))))

    // every synth payload (Deflater-compressed, filters cycling through
    // all five types, three color types) decodes to the closed form
    (0L until 12L).foreach { id =>
      val p = Multimodal.PixelCodec.decodePng(
        Multimodal.synthPngPayload(id))
        .getOrElse(fail(s"synth id=$id must decode"))
      val (w, h) = Multimodal.synthPngDims(id)
      val ch = Multimodal.synthPngChannels(id)
      assert((p.width, p.height, p.channels) == (w, h, ch), s"id=$id")
      var i = 0
      while (i < p.data.length) {
        val (px, c) = (i / ch % w, i % ch)
        val y = i / (w * ch)
        assert((p.data(i) & 0xff) ==
          Multimodal.synthPngValue(id, px, y, c),
          s"id=$id byte=$i")
        i += 1
      }
    }

    // zip-bomb guard: a 1-KB blob declaring 20000x20000 RGBA (1.6 GB
    // decoded) must classify as undecodable BEFORE any allocation
    assert(Multimodal.PixelCodec.decodePng(
      png(ihdr(20000, 20000, 8, 6, 0), storedZlib(raw))).isEmpty)
    // dimension-product OVERFLOW guard: w=h=0xFFFFFFFF (gray) makes
    // h*(w+1) = 2^64 - 2^32, which wraps NEGATIVE in a Long and would
    // sail past the product gate straight into the .toInt truncations
    // (yielding a garbage negative-dims Pixels); it must classify
    assert(Multimodal.PixelCodec.decodePng(
      png(ihdr(-1, -1, 8, 0, 0), storedZlib(Array.emptyByteArray)))
      .isEmpty)
    // RGBA variant: h*(w*4+1) ~ 2^64.1 also wraps
    assert(Multimodal.PixelCodec.decodePng(
      png(ihdr(-1, 0x40000000, 8, 6, 0), storedZlib(raw))).isEmpty)
    // an inflated stream LONGER than the dims allow is corrupt (2x2
    // gray needs exactly 6 bytes; this stored block carries 7)
    assert(Multimodal.PixelCodec.decodePng(
      png(ihdr(2, 2, 8, 0, 0), storedZlib(raw :+ 0.toByte))).isEmpty)
    // ... and SHORTER too (5 bytes): rejected, never zero-padded
    assert(Multimodal.PixelCodec.decodePng(
      png(ihdr(2, 2, 8, 0, 0), storedZlib(raw.take(5)))).isEmpty)
    // undefined filter type 5 on a structurally valid stream
    assert(Multimodal.PixelCodec.decodePng(png(ihdr(2, 2, 8, 0, 0),
      storedZlib(Array[Byte](5, 10, 20, 1, 30, 15)))).isEmpty)
    // unsupported profiles classify, not throw: 16-bit depth, palette,
    // Adam7 interlace
    assert(Multimodal.PixelCodec.decodePng(
      png(ihdr(2, 2, 16, 0, 0), storedZlib(raw))).isEmpty)
    assert(Multimodal.PixelCodec.decodePng(
      png(ihdr(2, 2, 8, 3, 0), storedZlib(raw))).isEmpty)
    assert(Multimodal.PixelCodec.decodePng(
      png(ihdr(2, 2, 8, 0, 1), storedZlib(raw))).isEmpty)
    // corrupt zlib header: DataFormatException path, classified
    val badZ = storedZlib(raw); badZ(0) = 0x00
    assert(Multimodal.PixelCodec.decodePng(
      png(ihdr(2, 2, 8, 0, 0), badZ)).isEmpty)
    // missing IEND (walker must not spin or accept)
    val noEnd = sig ++ Multimodal.pngChunk("IHDR", ihdr(2, 2, 8, 0, 0)) ++
      Multimodal.pngChunk("IDAT", storedZlib(raw))
    assert(Multimodal.PixelCodec.decodePng(noEnd).isEmpty)
    // every truncation prefix of a real payload classifies cleanly
    val full = Multimodal.synthPngPayload(3L)
    (0 until full.length by 7).foreach { k =>
      assert(Multimodal.PixelCodec.decodePng(full.take(k)).isEmpty,
        s"prefix $k")
    }
    assert(Multimodal.PixelCodec.decodePng(null).isEmpty)
    assert(Multimodal.PixelCodec.decodePng(Array.emptyByteArray).isEmpty)

    // the distributed stats path carries no -1 sentinels on the
    // fixture set (a decode regression turns loud, not silent)
    assert(Multimodal.pngPixelStats(spark, 16L)
      .filter($"width" === -1).count() == 0L)
  }

  test("decodeFeatures dispatches decodable PNGs to the REAL pixel " +
      "path: per-channel means match the closed form and the checksum " +
      "is content-addressed (decoded samples, not payload bytes)") {
    import spark.implicits._
    val rows = (0L until 6L).map(id => Multimodal.MediaRow(id, "image",
      Multimodal.synthPngPayload(id), 0, 0, 0))
    // a blob no decoder accepts (not even the MEDI stub) keeps its row
    // with null features instead of failing the task
    val garbage = Multimodal.MediaRow(6L, "image",
      Array[Byte](9, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9), 0, 0, 0)
    val feats = Multimodal.decodeFeatures(
        spark.createDataset(rows :+ garbage))
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(6L).n_bytes == 17 && feats(6L).checksum.isEmpty &&
      feats(6L).feat.isEmpty)
    (0L until 6L).foreach { id =>
      val (w, h) = Multimodal.synthPngDims(id)
      val ch = Multimodal.synthPngChannels(id)
      val f = feats(id)
      (0 until ch).foreach { c =>
        val sum = (for (x <- 0 until w; y <- 0 until h)
          yield Multimodal.synthPngValue(id, x, y, c).toLong).sum
        val mean = sum.toDouble / (w.toLong * h) / 255.0
        assert(math.abs(f.feat.get(c) - mean) < 1e-6, s"id=$id c=$c")
      }
      assert(f.feat.get(8) == w.toFloat && f.feat.get(9) == h.toFloat &&
        f.feat.get(10) == ch.toFloat)
      // content-addressed: the checksum is over DECODED samples
      val px = Multimodal.PixelCodec.decodePng(
        Multimodal.synthPngPayload(id)).get
      val crc = new java.util.zip.CRC32(); crc.update(px.data)
      assert(f.checksum.get == crc.getValue)
    }

    // ... and decodable PCM WAVs to the real sample path: mean/RMS
    // from the closed-form samples, slot 8 = channels
    val wavRows = (0L until 4L).map(id => Multimodal.MediaRow(100 + id,
      "audio", Multimodal.synthPcmWavPayload(id), 0, 0, 0))
    val wavFeats = Multimodal.decodeFeatures(spark.createDataset(wavRows))
      .collect().map(f => f.media_id -> f).toMap
    (0L until 4L).foreach { id =>
      val (ch, rate, frames) = Multimodal.synthPcmParams(id)
      val f = wavFeats(100 + id)
      (0 until ch).foreach { c =>
        val vals = (0 until frames).map(Multimodal.synthPcmSample(id, _, c))
        val mean = vals.map(_.toLong).sum.toDouble / frames / 32768.0
        val rms = math.sqrt(
          vals.map(v => v.toLong * v).sum.toDouble / frames) / 32768.0
        assert(math.abs(f.feat.get(c) - mean) < 1e-6, s"id=$id c=$c mean")
        assert(math.abs(f.feat.get(c + 4) - rms) < 1e-6, s"id=$id c=$c rms")
      }
      assert(f.feat.get(8) == ch.toFloat && f.feat.get(9) == rate / 1000.0f)
    }
  }

  test("thumbnails packs resizeNearest output per decodable row and " +
      "null-flags non-PNG rows instead of dropping them") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow(0L, "image", Multimodal.synthPngPayload(4L),
        0, 0, 0),
      Multimodal.MediaRow(1L, "image", Array[Byte](1, 2, 3), 0, 0, 0))
    // the cycle's thumbnail expression, over the same two rows
    val out = spark.createDataset(rows)
      .select($"media_id", graft.functions.MediaFeatureExprs
        .mediaThumb($"payload", 4).as("thumb"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val px = Multimodal.PixelCodec.decodePng(
      Multimodal.synthPngPayload(4L)).get
    assert(out(0L).getAs[Array[Byte]]("thumb").toSeq ==
      Multimodal.resizeNearest(px, 4).toSeq)
    assert(out.size == 2 && out(1L).isNullAt(1),
      "non-PNG rows stay visible with a null thumb")
  }

  test("PcmCodec recovers every 16-bit sample exactly and rejects " +
      "non-PCM, other bit widths, partial frames, and truncation " +
      "without throwing") {
    // synth round-trip: every interleaved sample equals the closed form
    (0L until 8L).foreach { id =>
      val Some((ch, rate, samples)) = Multimodal.PcmCodec.decodePcm16(
        Multimodal.synthPcmWavPayload(id))
      val (ech, erate, frames) = Multimodal.synthPcmParams(id)
      assert((ch, rate, samples.length) == ((ech, erate, frames * ech)),
        s"id=$id")
      samples.zipWithIndex.foreach { case (s, j) =>
        assert(s.toInt ==
          Multimodal.synthPcmSample(id, j / ch, j % ch), s"id=$id j=$j")
      }
    }
    def patch(p: Array[Byte])(f: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val q = p.clone()
      f(java.nio.ByteBuffer.wrap(q).order(java.nio.ByteOrder.LITTLE_ENDIAN))
      q
    }
    val good = Multimodal.synthPcmWavPayload(3L) // stereo (ch = 1 + id%2)
    // format code 3 (IEEE float): not PCM16, classify
    assert(Multimodal.PcmCodec.decodePcm16(
      patch(good)(_.putShort(20, 3))).isEmpty)
    // 8-bit declaration: wrong width, classify
    assert(Multimodal.PcmCodec.decodePcm16(
      patch(good)(_.putShort(34, 8))).isEmpty)
    // data size not whole stereo frames (one sample short of a frame)
    assert(Multimodal.PcmCodec.decodePcm16(
      patch(good)(_.putInt(40, 2))).isEmpty)
    // declared data size past the payload end: truncation, classify
    assert(Multimodal.PcmCodec.decodePcm16(
      patch(good)(_.putInt(40, 1 << 20))).isEmpty)
    // physical truncation mid-data
    assert(Multimodal.PcmCodec.decodePcm16(good.take(60)).isEmpty)
    assert(Multimodal.PcmCodec.decodePcm16(null).isEmpty)
    // chunk order free: a junk chunk before fmt/data still decodes
    val reordered = {
      val body = good.drop(12)
      val junk = java.nio.ByteBuffer.allocate(12)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      junk.put("LIST".getBytes("US-ASCII")).putInt(4).putInt(0)
      val out = java.nio.ByteBuffer.allocate(12 + 12 + body.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(4 + 12 + body.length)
      out.put("WAVE".getBytes("US-ASCII")).put(junk.array()).put(body)
      out.array()
    }
    val viaJunk = Multimodal.PcmCodec.decodePcm16(reordered)
    assert(viaJunk.map(_._3.toSeq) ==
      Multimodal.PcmCodec.decodePcm16(good).map(_._3.toSeq))
  }

  test("resizeNearest samples the decoded buffer at exact integer " +
      "source indices: downsample, channel interleave, and side > dim " +
      "replication (never out of bounds)") {
    import Multimodal.PixelCodec.Pixels
    val g = Pixels(4, 2, 1, Array.tabulate(8)(_.toByte))
    assert(Multimodal.resizeNearest(g, 2).toSeq == Seq[Byte](0, 2, 4, 6))
    val rgb = Pixels(2, 2, 3, Array.tabulate(12)(_.toByte))
    assert(Multimodal.resizeNearest(rgb, 1).toSeq == Seq[Byte](0, 1, 2))
    assert(Multimodal.resizeNearest(g, 4).toSeq ==
      Seq[Byte](0, 1, 2, 3, 0, 1, 2, 3, 4, 5, 6, 7, 4, 5, 6, 7))
  }

  test("ivfAssignScored leaves a pre-existing `_best` column untouched " +
      "instead of shadowing and dropping it") {
    val cents = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
    val df = Seq((10L, Seq(1f, 0f), "mine"))
      .toDF("vec_id", "embedding", "_best")
    val out = Similarity.ivfAssignScored(df, "embedding", cents,
      roundDigits = 6)
    assert(out.columns.count(_ == "_best") == 1)
    val row = out.select($"_best", $"ivf_cluster").head()
    assert(row.getString(0) == "mine",
      "the caller's `_best` column must survive")
    assert(row.getLong(1) == 1L)
  }

  test("incrementalIvf: a well-fitting batch keeps the frozen index; a " +
      "drifted batch trips the floor, re-seeds via kmeans++ over the " +
      "hash sample, and re-assigns") {
    def noisy(base: Seq[Float], id: Long): Seq[Float] = {
      val rng = new scala.util.Random(id)
      base.map(x => x + 0.01f * rng.nextFloat())
    }
    val e1 = Seq(1f, 0f, 0f, 0f)
    val e2 = Seq(0f, 1f, 0f, 0f)
    val corpus = (0L until 20L).map(i => (i, noisy(e1, i)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 2)
    val near = (100L until 110L).map(i => (i, noisy(e1, i)))
      .toDF("vec_id", "embedding")
    val keep = Similarity.incrementalIvf(corpus, near, "vec_id",
      "embedding", cents, k = 2)
    assert(!keep.reseeded && keep.driftFraction == 0.0,
      "a batch from the indexed distribution keeps the frozen centroids")
    assert(keep.centroids == cents)
    val far = (200L until 210L).map(i => (i, noisy(e2, i)))
      .toDF("vec_id", "embedding")
    val reseed = Similarity.incrementalIvf(corpus, far, "vec_id",
      "embedding", cents, k = 2)
    assert(reseed.reseeded && reseed.driftFraction == 1.0,
      "an orthogonal batch drifts every vector below the floor")
    assert(reseed.centroids != cents, "re-seed picked new centroids")
    // after re-seeding over corpus+batch, the drifted region is covered:
    // every re-assigned vector now sits close to some centroid
    val minCos = reseed.assigned.agg(min($"ivf_cosine")).head().getDouble(0)
    assert(minCos > 0.9,
      s"re-seeded index must cover the drifted region, min cosine $minCos")
  }

  test("compactPairs/compactBands fold committed dirs past the " +
      "threshold: one compacted survivor, identical read set, orphans " +
      "deleted, crash-window duplicates tolerated") {
    val root = SparkTestSession.scratchDir("dedupcompact")
    val committed = (0 until 5).map(i => s"b$i").toSet
    for (i <- 0 until 5)
      Dedup.writePairs(Seq((s"d$i", s"d${i + 10}")).toDF("id_a", "id_b"),
        root, "c1", s"b$i")
    Dedup.writePairs(Seq(("zz", "zy")).toDF("id_a", "id_b"),
      root, "c1", "neverCommitted")
    def pairSet() = Dedup.readPairs(spark, root, "c1", committed).get
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val before = pairSet()
    assert(before.size == 5 && !before.contains(("zz", "zy")),
      "orphan rows are invisible to the committed reader")
    val pairStore = BatchDirs(Dedup.pairsDir(root, "c1"))
    assert(!pairStore.fold(spark, committed, maxDirs = 64),
      "below the threshold: no-op")
    assert(pairStore.fold(spark, committed, maxDirs = 2))
    val dirs = new java.io.File(s"$root/_pairs/c1").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSeq
    assert(dirs.length == 1 && dirs.head.startsWith("batch=compacted-"),
      s"expected one compacted survivor, got $dirs")
    assert(pairSet() == before, "the committed pair set is unchanged")
    // bands: same discipline, (band, sig, id) distinct preserved
    for (i <- 0 until 3)
      Dedup.writeBands(
        Seq((0, s"sig$i", s"d$i"), (0, "shared", s"d$i"))
          .toDF("band", "sig", "doc_id"),
        root, "c1", s"b$i", "doc_id")
    val bandCommitted = (0 until 3).map(i => s"b$i").toSet
    def bandSet() = Dedup.readBands(spark, root, "c1", bandCommitted).get
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .toSet
    val bandsBefore = bandSet()
    assert(BatchDirs(Dedup.bandsDir(root, "c1"))
      .fold(spark, bandCommitted, maxDirs = 1))
    assert(bandSet() == bandsBefore)
    // crash window: a second compacted dir coexisting (interrupted run)
    // only duplicates rows — readPairs' distinct absorbs it
    Dedup.readPairs(spark, root, "c1", committed).get
      .write.mode("overwrite")
      .parquet(s"$root/_pairs/c1/batch=compacted-999")
    assert(pairSet() == before)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("compactClusters retains only the current label GENERATION " +
      "(label tables supersede — a row fold would fabricate " +
      "multi-label ids)") {
    val root = SparkTestSession.scratchDir("clustercompact")
    for (g <- 0 until 3)
      Seq(("a", "a", true), ("b", "a", false))
        .toDF("id", "cluster_id", "keep")
        .write.parquet(s"$root/_clusters/c1/batch=g$g")
    assert(!Dedup.compactClusters(spark, root, "c1", keep = "g2",
      maxDirs = 64), "below the threshold: no-op")
    assert(Dedup.compactClusters(spark, root, "c1", keep = "g2",
      maxDirs = 1))
    val dirs = new java.io.File(s"$root/_clusters/c1").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSeq
    assert(dirs == Seq("batch=g2"),
      s"only the current generation survives, got $dirs")
    // fail CLOSED: a keep that names no existing generation (typo, or
    // a writeClusters that threw) must refuse to delete ANYTHING —
    // otherwise the retention pass could empty the whole store
    intercept[IllegalArgumentException] {
      Dedup.compactClusters(spark, root, "c1", keep = "noSuchGen",
        maxDirs = 0)
    }
    assert(new java.io.File(s"$root/_clusters/c1").listFiles()
      .map(_.getName).count(_.startsWith("batch=")) == 1,
      "the refused compaction deleted nothing")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("incrementalLshPairs: a re-ingested (band, sig, id) row cannot " +
      "inflate bucket sizes past the skew cap (collect_set semantics)") {
    val stored = Seq((0, "s", "d1"), (0, "s", "d2"), (0, "s", "d3"))
      .toDF("band", "sig", "doc_id")
    // d3 re-ingested: present in the stored state AND the new batch
    val fresh = Seq((0, "s", "d3"), (0, "s", "d4"))
      .toDF("band", "sig", "doc_id")
    // true bucket = {d1..d4}, size 4 == maxBucket: the bucket aggregate
    // is size(collect_set(id)), so the doubled d3 row must NOT read
    // size 5 and trip the cap — that would drop the bucket and emit
    // zero pairs where the from-scratch run finds five
    val pairs = Dedup.incrementalLshPairs(stored, fresh, "doc_id",
      maxBucket = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("d1", "d3"), ("d1", "d4"), ("d2", "d3"),
      ("d2", "d4"), ("d3", "d4")),
      s"all new-involving pairs of the true bucket, got $pairs")
  }
}
