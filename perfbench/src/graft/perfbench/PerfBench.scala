package graft.perfbench

import java.io.File
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Calibration
import graft.pipeline._

/** The outside-in cycle benchmark: generates its inputs from the seed,
  * drives the engine's public functions, checks the committed outputs
  * and prints every metric with its unit; the last stdout line is the
  * JSON result. See perfbench/README.md for the workloads and metrics.
  *
  * Usage: PerfBench --workload backfill|poll --seed N --seconds S
  *   --trace 0|1 --work DIR --out DIR [--convs N] [--delta-convs N]
  *   [--sabotage none|sink-file|duplicate-batch]
  */
object PerfBench {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, out: String, convs: Long,
      deltaConvs: Int, sabotage: String)

  /** Conversations in the base table: ~57k turns for backfill, ~39k
    * for poll's snapshot. Sized so that set-up plus three timed
    * iterations fit in about a minute per run on 4 cores.
    */
  val DefaultConvs = Map("backfill" -> 3000L, "poll" -> 2000L)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    require(DefaultConvs.contains(need("workload")), s"unknown workload ${need("workload")}")
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("out"),
      m.get("convs").map(_.toLong).getOrElse(DefaultConvs(need("workload"))),
      m.getOrElse("delta-convs", "300").toInt,
      m.getOrElse("sabotage", "none"))
    require(Set("none", "sink-file", "duplicate-batch")(o.sabotage),
      s"unknown sabotage ${o.sabotage}")
    require(o.seconds > 0 && o.convs > 0 && o.deltaConvs > 0)
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors
    // the repo's bench session (graft.BenchPipeline.session), with
    // Spark's scratch space inside the work dir
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val result = new Run(o, spark).run()
      println(result)
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** One benchmark run: set-up, the timed loop, checks, and the result. */
final class Run(o: PerfBench.Opts, spark: SparkSession) {
  import PerfBench._

  private val sc = spark.sparkContext
  private val listener = SpanListener.install(sc)
  private val tracer = new Tracer(sc)
  /** Every cycle reads rows up to this clock; deltas land well before it. */
  private val asOf = Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z"))
  private val input = s"${o.work}/input"

  // end-to-end samples
  private val commitWalls = ArrayBuffer.empty[Double]
  private val commitRates = ArrayBuffer.empty[Double]
  private val noopWalls = ArrayBuffer.empty[Double]
  private val storedRatios = ArrayBuffer.empty[Double]
  private var attempted = 0L
  private var failed = 0L
  // traced run: per-cycle counts read after each traced cycle, and the
  // traced-minus-untraced wall of each pair
  private val extras = scala.collection.mutable.Map.empty[Int, Map[String, Double]]
  private val overheads = ArrayBuffer.empty[Double]
  /** False in set-up: cycles then run untraced and record no samples. */
  private var timing = false
  /** A run's medians need three samples; a contended window that slows
    * the cycles past `--seconds` lengthens the run instead.
    */
  private val MinIterations = 3

  private def log(s: String): Unit = println(s"[perfbench] $s")

  private def rm(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  private def cfg(root: String) = PipelineConfig(inputPath = input, sinkRoot = root)

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One checked operation: counts as failed if it throws or any of the
    * problems it returns is non-empty.
    */
  private def op(name: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val problems =
      try body
      catch { case e: Exception => Seq(s"threw $e") }
    if (problems.nonEmpty) {
      failed += 1
      problems.foreach(p => log(s"FAIL $name: $p"))
    }
  }

  private def check(ok: Boolean, what: => String): Seq[String] =
    if (ok) Nil else Seq(what)

  /** One cycle on `root`: `Main.runCycle`, timed. In a traced run the
    * same cycle is also driven layer by layer on the twin root, whose
    * committed batch must equal the untraced one; the order of the two
    * alternates between cycles.
    */
  private def cycle(root: String, twin: String): (Main.CycleResult, Double, Seq[String]) = {
    def plain() = {
      sc.setLocalProperty(SpanListener.Key, "timed")
      try timed(Main.runCycle(spark, cfg(root), asOf))
      finally sc.setLocalProperty(SpanListener.Key, null)
    }
    if (!timing) {
      val out = timed(Main.runCycle(spark, cfg(root), asOf))
      if (o.trace) Main.runCycle(spark, cfg(twin), asOf)
      (out._1, out._2, Nil)
    } else if (!o.trace) { val (r, w) = plain(); log(f"cycle: ${r.rowsProcessed} rows in $w%.3f s"); (r, w, Nil) }
    else {
      val tracedFirst = tracer.lastCycle % 2 == 0
      val t = if (tracedFirst) Some(timed(TracedCycle.run(spark, cfg(twin), asOf, tracer))) else None
      val (r, w) = plain()
      val (out, tw) = t.getOrElse(timed(TracedCycle.run(spark, cfg(twin), asOf, tracer)))
      overheads += tw - w
      val id = out.result.batchId
      extras(tracer.lastCycle) = Map(
        "discover.files_listed" -> out.filesListed.toDouble,
        "discover.rows_scanned" -> out.rowsScanned.toDouble,
        "discover.selectivity" ->
          (if (out.rowsScanned > 0) out.result.rowsProcessed.toDouble / out.rowsScanned else 0.0),
        "sinks.files" -> Checks.batchFiles(twin, id).toDouble,
        "lineage.files" -> Checks.lineageFiles(twin).toDouble)
      val same =
        check(out.result == r, s"traced cycle returned ${out.result}, runCycle $r") ++
          (if (r.rowsProcessed == 0) Nil else {
            val (a, b) = (Checks.batchDigest(spark, root, id), Checks.batchDigest(spark, twin, id))
            check(a == b, s"traced batch $id differs: runCycle $a, traced $b")
          })
      (r, w, same)
    }
  }

  private def batchDirCount(root: String): Int =
    Checks.sinkNames(root).map(s =>
      Option(new File(s"$root/$s").listFiles).map(_.length).getOrElse(0)).sum

  /** A cycle that must find nothing new: 0 rows, nothing published. */
  private def noopCycle(root: String, twin: String): Unit =
    op("no-op cycle") {
      val before = batchDirCount(root)
      val (r, w, same) = cycle(root, twin)
      if (timing) noopWalls += w
      same ++ check(r.rowsProcessed == 0, s"no-op cycle returned ${r.rowsProcessed} rows") ++
        check(r.publishedSinks.isEmpty && batchDirCount(root) == before,
          s"no-op cycle published ${r.publishedSinks}")
    }

  /** Deletes one data file of a committed sink batch (self-test only). */
  private def sabotageSinkFile(root: String, batchId: String): Unit = {
    val victim = Checks.sinkNames(root).iterator
      .flatMap(s => Option(new File(s"$root/$s/batch=$batchId").listFiles).toSeq.flatten)
      .find(_.getName.endsWith(".parquet"))
    victim.foreach { f => log(s"self-test: deleting $f"); f.delete() }
  }

  /** Copies one committed sink file into another committed batch of the
    * same sink, so its keys appear in two batches (self-test only).
    */
  private def sabotageDuplicate(root: String): Unit = {
    val committed = Lineage.committedBatches(spark, root)
    val pairs = for {
      s <- Checks.sinkNames(root)
      dirs = Option(new File(s"$root/$s").listFiles).toSeq.flatten
        .filter(d => committed.contains(d.getName.stripPrefix("batch=")))
      if dirs.length >= 2
      f <- dirs.head.listFiles.find(_.getName.endsWith(".parquet"))
    } yield (f, dirs(1))
    pairs.headOption.foreach { case (f, dest) =>
      log(s"self-test: copying $f into $dest")
      java.nio.file.Files.copy(f.toPath, new File(dest, "dup-" + f.getName).toPath)
    }
  }

  // ---- workloads --------------------------------------------------

  /** backfill: one cycle over the whole table into a fresh sink root,
    * then a cycle that finds nothing new; repeated.
    */
  private object Backfill {
    var turns = 0L
    var inputBytes = 0L

    def setup(): Unit = {
      turns = Synth.writeTable(spark, input, o.seed, o.convs)
      inputBytes = Checks.dataBytes(input)
      // one untimed committing and no-op cycle, so that code generation
      // and JIT compilation of the cycle's plans happen in set-up
      val warm = s"${o.work}/warm-sinks"
      val rows = Main.runCycle(spark, cfg(warm), asOf).rowsProcessed
      require(rows == turns && Main.runCycle(spark, cfg(warm), asOf).rowsProcessed == 0,
        "warm-up cycles misbehaved")
      rm(warm)
    }

    def iteration(): Unit = {
      val (root, twin) = (s"${o.work}/sinks", s"${o.work}/twin")
      op("backfill cycle") {
        val (r, w, same) = cycle(root, twin)
        commitWalls += w
        commitRates += r.rowsProcessed / w
        if (o.sabotage == "sink-file") sabotageSinkFile(root, r.batchId)
        val committed = Lineage.committedBatches(spark, root)
        storedRatios += Checks.committedBytes(root, committed).toDouble / inputBytes
        val sinkRows = Checks.committedRows(spark, root, committed)
        val metricRows = Checks.metricTurns(spark, root, r.batchId)
        same ++ check(r.rowsProcessed == turns,
          s"cycle returned ${r.rowsProcessed} rows, input has $turns turns") ++
          check(sinkRows == turns, s"committed sinks hold $sinkRows rows, input has $turns") ++
          check(metricRows == turns, s"_metrics/by_sink_role counts $metricRows turns, input has $turns")
      }
      noopCycle(root, twin)
      rm(root); rm(twin)
    }

    def finish(): Unit = ()
  }

  /** poll: from a committed snapshot of the table, repeatedly land a
    * small delta newer than every watermark, run a cycle that commits
    * it, then a cycle that finds nothing new. One poller, closed loop.
    */
  private object Poll {
    val root = s"${o.work}/sinks"
    val twin = s"${o.work}/twin"
    /** First conversation index of delta k: past every base conversation
      * (each index starts one minute later), each delta in its own block
      * of 1000 indices so no delta holds a hot conversation (index
      * divisible by 1000) and every delta starts after the previous one
      * ends.
      */
    def deltaStart(k: Int): Long = (o.convs + 999) / 1000 * 1000 + 10 + 1000L * k
    /** Conversation start minutes wrap after 86400 indices. */
    def maxDeltas: Int = ((86400L - deltaStart(0)) / 1000).toInt
    var storedBefore = 0L
    var landedBytes = 0L
    var next = 0

    def setup(): Unit = {
      require(o.deltaConvs < 990, "a delta must fit its block of 1000 indices")
      val t0 = System.nanoTime()
      def lap(what: String) = log(f"set-up $what at ${(System.nanoTime() - t0) / 1e9}%.2f s")
      Synth.writeTable(spark, input, o.seed, o.convs)
      lap("input")
      val snap = Main.runCycle(spark, cfg(root), asOf)
      lap("snapshot")
      require(snap.rowsProcessed > 0, "the snapshot cycle committed nothing")
      if (o.trace) org.apache.commons.io.FileUtils.copyDirectory(new File(root), new File(twin))
      // one untimed poll: the first poll after the snapshot runs up to
      // 1.5x slower while the small-delta path is JIT-compiled
      iteration()
      lap("warm polls")
      storedBefore = Checks.committedBytes(root, Lineage.committedBatches(spark, root))
      landedBytes = 0L
    }

    /** Appends delta k to the input table; returns (turns, bytes). */
    def land(k: Int): (Long, Long) = {
      import spark.implicits._
      val lo = deltaStart(k)
      val turns = (lo until lo + o.deltaConvs).flatMap(Synth.genConversation(o.seed, _))
      val before = Checks.dataBytes(input)
      turns.toDS().withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .repartition(col("day"))
        .write.mode("append").partitionBy("day").parquet(input)
      (turns.length.toLong, Checks.dataBytes(input) - before)
    }

    def iteration(): Unit = {
      require(next < maxDeltas, s"more than $maxDeltas deltas")
      val (landed, bytes) = land(next)
      next += 1
      landedBytes += bytes
      op("delta cycle") {
        val (r, w, same) = cycle(root, twin)
        if (timing) {
          commitWalls += w
          commitRates += r.rowsProcessed / w
        }
        same ++ check(r.rowsProcessed == landed,
          s"delta cycle returned ${r.rowsProcessed} rows, $landed landed") ++
          check(r.publishedSinks.nonEmpty, "delta cycle published nothing")
      }
      noopCycle(root, twin)
    }

    def finish(): Unit = {
      val committedNow = Lineage.committedBatches(spark, root)
      storedRatios += (Checks.committedBytes(root, committedNow) - storedBefore).toDouble / landedBytes
      if (o.sabotage == "duplicate-batch") sabotageDuplicate(root)
      for (r <- if (o.trace) Seq(root, twin) else Seq(root))
        op("unique keys") {
          val dups = Checks.duplicateKeys(spark, r, Lineage.committedBatches(spark, r))
          check(dups == 0, s"$dups (conv_id, turn_idx) keys in more than one committed batch under $r")
        }
    }
  }

  // ---- run ----------------------------------------------------------

  /** One CPU and one memory-bandwidth probe: run context, not a metric. */
  private def calibration(): (Double, Double) = {
    val cores = Runtime.getRuntime.availableProcessors
    (Calibration.sample(), Calibration.sampleMem(Calibration.memThreadsFor(cores)))
  }

  def run(): String = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val (setup, iteration, finish) = o.workload match {
      case "backfill" => (Backfill.setup _, Backfill.iteration _, Backfill.finish _)
      case "poll" => (Poll.setup _, Poll.iteration _, Poll.finish _)
    }
    setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log(f"set-up: ${setupS}%.2f s (JVM and Spark session ${sessionS}%.2f s)")

    val (cpuBefore, memBefore) = calibration()
    timing = true
    val t0 = System.nanoTime()
    val deadline = t0 + o.seconds * 1000000000L
    var i = 0
    while (i < MinIterations || System.nanoTime() < deadline) { iteration(); i += 1 }
    finish()
    val timedS = (System.nanoTime() - t0) / 1e9
    val (cpuAfter, memAfter) = calibration()
    log(f"context: ${i} iterations in ${timedS}%.1f s; calibration cpu ${cpuBefore}%.3f -> ${cpuAfter}%.3f s " +
      f"(ref ${Calibration.ref}%.4f), mem ${memBefore}%.3f -> ${memAfter}%.3f s")
    log(s"fail_ratio: $failed / $attempted operations")

    val metrics: Seq[(String, Double, String)] =
      if (o.trace) layerMetrics()
      else {
        val peak = listener.total(sc)(_ == "timed").peakTaskMem
        Seq(
          ("setup_s", setupS, "s"),
          ("turns_per_s", median(commitRates.toSeq), "turns/s"),
          ("delta_cycle_p50_s", median(commitWalls.toSeq), "s"),
          ("noop_cycle_p50_s", median(noopWalls.toSeq), "s"),
          ("peak_task_mem_mb", peak / 1e6, "MB"),
          ("stored_bytes_ratio", median(storedRatios.toSeq), "ratio"))
      }
    if (!o.trace) log(tail(commitWalls.toSeq))
    metrics.foreach { case (n, v, u) => log(f"$n%-28s $v%.6f $u") }
    writeSpans()
    val body = metrics.map { case (n, v, u) =>
      s""""$n":{"value":$v,"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
  }

  /** delta_cycle_tail_s: the highest percentile with at least ten
    * samples beyond it, when the run has that many samples.
    */
  private def tail(xs: Seq[Double]): String = {
    val n = xs.length
    if (n < 11) s"delta_cycle_tail_s: n/a ($n delta cycles; needs at least 11)"
    else {
      val r = n - 10
      f"delta_cycle_tail_s: ${xs.sorted.apply(r - 1)}%.4f s = p${100.0 * r / n}%.1f of $n delta cycles"
    }
  }

  /** Per-layer metrics of the traced run: for committing cycles, the
    * median over those cycles; for no-op cycles, the same under `noop.`.
    */
  private def layerMetrics(): Seq[(String, Double, String)] = {
    val layers = Seq("lineage.read", "discover", "pipeline", "sinks.write",
      "sinks.publish", "aggregate", "lineage.commit")
    val cycles = tracer.spans.filter(_.name == "cycle").toSeq
    def perCycle(c: Span): Map[String, Double] = {
      val secs = tracer.spans.filter(s => s.cycle == c.cycle && s.name != "cycle")
        .groupMapReduce(_.name)(_.seconds)(_ + _)
      def cnt(name: String) = listener.total(sc)(_ == tracer.key(c.cycle, name))
      val all = listener.total(sc)(_.startsWith(s"${c.cycle}/"))
      val (pipe, write, agg) = (cnt("pipeline"), cnt("sinks.write"), cnt("aggregate"))
      val ex = extras.getOrElse(c.cycle, Map.empty)
      Map(
        "lineage.read_s" -> secs.getOrElse("lineage.read", 0.0),
        "lineage.commit_s" -> secs.getOrElse("lineage.commit", 0.0),
        "discover.s" -> secs.getOrElse("discover", 0.0),
        "pipeline.s" -> secs.getOrElse("pipeline", 0.0),
        "pipeline.shuffle_mb" -> pipe.shuffleWriteBytes / 1e6,
        "pipeline.exec_cpu_s" -> pipe.cpuNs / 1e9,
        "sinks.write_s" -> secs.getOrElse("sinks.write", 0.0),
        "sinks.shuffle_mb" -> write.shuffleWriteBytes / 1e6,
        "sinks.spill_mb" -> write.spillBytes / 1e6,
        "sinks.publish_s" -> secs.getOrElse("sinks.publish", 0.0),
        "aggregate.s" -> secs.getOrElse("aggregate", 0.0),
        "aggregate.jobs" -> agg.jobs.toDouble,
        "cycle.wall_s" -> c.seconds,
        "cycle.jobs" -> all.jobs.toDouble,
        "cycle.tasks" -> all.tasks.toDouble,
        "cycle.exec_cpu_s" -> all.cpuNs / 1e9,
        "cycle.gc_s" -> all.gcMs / 1e3,
        "cycle.peak_task_mem_mb" -> all.peakTaskMem / 1e6,
        "cycle.driver_other_s" -> (c.seconds - layers.map(secs.getOrElse(_, 0.0)).sum)
      ) ++ ex
    }
    val commit = cycles.filter(_.kind == "commit").map(perCycle)
    val noop = cycles.filter(_.kind == "noop").map(perCycle)
    require(commit.nonEmpty && noop.nonEmpty, "traced run needs committing and no-op cycles")
    def med(rows: Seq[Map[String, Double]], k: String) = median(rows.map(_(k)))
    def unit(k: String) =
      if (k.endsWith("_s") || k.endsWith(".s")) "s" else if (k.endsWith("_mb")) "MB"
      else if (k.endsWith("selectivity")) "ratio" else "count"
    val commitKeys = commit.head.keys.toSeq.sorted
    val noopKeys = Seq("lineage.read_s", "discover.s", "discover.files_listed",
      "discover.rows_scanned", "pipeline.s", "cycle.wall_s", "cycle.jobs",
      "cycle.tasks", "cycle.driver_other_s")
    commitKeys.map(k => (k, med(commit, k), unit(k))) ++
      noopKeys.map(k => (s"noop.$k", med(noop, k), unit(k))) :+
      (("trace.overhead_s", median(overheads.toSeq), "s"))
  }

  private def writeSpans(): Unit = if (o.trace) {
    new File(o.out).mkdirs()
    val f = new File(o.out, s"spans-${o.workload}-seed${o.seed}.jsonl")
    val w = new java.io.PrintWriter(f)
    try tracer.toJsonLines.foreach(w.println) finally w.close()
    log(s"spans written to $f")
  }
}
