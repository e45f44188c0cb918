package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Cost pins: the Spark jobs each cycle shape runs, counted by a job
  * listener. A change that adds or removes a job (a stray action, a
  * schema inference, a parallel listing) moves a pin and must say why.
  */
class CostSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private lazy val sc = spark.sparkContext
  private val scratch = SparkTestSession.scratchDir("costspec")
  private val asOf = new Timestamp(Synth.baseEpochMs + 365L * 86400000L)

  private val jobs = new java.util.concurrent.atomic.AtomicInteger
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
  }

  override def beforeAll(): Unit = sc.addSparkListener(listener)

  override def afterAll(): Unit = {
    sc.removeSparkListener(listener)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
  }

  /** `f`'s result and the Spark jobs it ran. */
  private def jobsOf[T](f: => T): (T, Int) = {
    ListenerBusShim.drain(sc)
    jobs.set(0)
    val r = f
    ListenerBusShim.drain(sc)
    (r, jobs.get)
  }

  /** Lands conversations `[from, from + n)` as `files` parquet files
    * under their day dirs.
    */
  private def land(in: String, from: Long, n: Long, files: Int): Unit = {
    import spark.implicits._
    (from until from + n).flatMap(Synth.genConversation(7L, _)).toDS()
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .repartition(files)
      .write.mode("append").partitionBy("day").parquet(in)
  }

  private def inputFiles(in: String): Int =
    Discover.listInputFiles(spark, in).length

  test("a no-op cycle after a commit runs no Spark job") {
    val in = s"$scratch/noop_in"
    land(in, 0L, 20L, 1)
    val cfg = PipelineConfig(in, s"$scratch/noop_sinks")
    assert(Main.runCycle(spark, cfg, asOf).rowsProcessed > 0)
    val (r, n) = jobsOf(Main.runCycle(spark, cfg, asOf))
    assert(r.rowsProcessed == 0L)
    assert(n == 0, s"no-op cycle ran $n jobs")
  }

  test("the no-op cycle over more than 32 input files runs no Spark job") {
    val in = s"$scratch/wide_in"
    land(in, 0L, 60L, 40)
    assert(inputFiles(in) > 32)
    val cfg = PipelineConfig(in, s"$scratch/wide_sinks")
    assert(Main.runCycle(spark, cfg, asOf).rowsProcessed > 0)
    val (r, n) = jobsOf(Main.runCycle(spark, cfg, asOf))
    assert(r.rowsProcessed == 0L)
    assert(n == 0, s"no-op cycle over ${inputFiles(in)} files ran $n jobs")
  }

  test("a committing poll cycle runs 12 jobs, one of them the stat of " +
      "its new file") {
    val in = s"$scratch/poll_in"
    land(in, 0L, 20L, 1)
    val cfg = PipelineConfig(in, s"$scratch/poll_sinks")
    assert(Main.runCycle(spark, cfg, asOf).rowsProcessed > 0)
    land(in, 1010L, 20L, 1)
    val (r, n) = jobsOf(Main.runCycle(spark, cfg, asOf))
    assert(r.rowsProcessed > 0)
    assert(n == 12, s"committing cycle ran $n jobs")
  }

  test("a committing cycle that compacts the lineage runs 12 jobs") {
    val in = s"$scratch/compact_in"
    land(in, 0L, 20L, 1)
    val cfg = PipelineConfig(in, s"$scratch/compact_sinks")
    // 64 commit files of a day the input never has: the cycle's own
    // commit is the 65th, past the compaction bound
    (0 until 64).foreach(i => Lineage.commitAt(spark, Lineage.dirFor(cfg),
      Seq(Lineage.Commit(s"old$i", "1990-01-01", new Timestamp(i * 1000L),
        1L, Lineage.epoch))))
    val (r, n) = jobsOf(Main.runCycle(spark, cfg, asOf))
    assert(r.rowsProcessed > 0)
    assert(new java.io.File(Lineage.dirFor(cfg)).list()
      .count(_.endsWith(".commits")) == 1, "the lineage was compacted")
    assert(FileLedger.read(spark, FileLedger.dir(Lineage.dirFor(cfg)))
      .nonEmpty, "compaction leaves the file ledger beside it")
    assert(n == 12, s"compacting cycle ran $n jobs")
  }

  test("Lineage.stateAt runs no Spark job") {
    val in = s"$scratch/state_in"
    land(in, 0L, 20L, 1)
    val cfg = PipelineConfig(in, s"$scratch/state_sinks")
    Main.runCycle(spark, cfg, asOf)
    val ((wms, _, committed), n) =
      jobsOf(Lineage.stateAt(spark, Lineage.dirFor(cfg)))
    assert(wms.nonEmpty && committed.size == 1)
    assert(n == 0, s"stateAt ran $n jobs")
  }

  test("a lineage dir in the Parquet format converts once to the same " +
      "state, then reads with no Spark job") {
    import spark.implicits._
    val dir = s"$scratch/parquet_lineage"
    def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))
    val commits = Seq(
      Lineage.Commit("b1", "2025-01-01", at("2025-01-01T10:00:00.123456Z"),
        3L, at("2025-01-02T00:00:00Z")),
      Lineage.Commit("b2", "2025-01-01", at("2025-01-01T09:00:00Z"), 1L,
        null),
      Lineage.Commit("b2", "2025-01-02", at("2025-01-02T23:59:59.999999Z"),
        2L, at("2025-01-03T00:00:00.5Z")),
      Lineage.Commit("r1", "2025-01-02", at("2025-01-02T01:00:00Z"), 1L,
        Lineage.epoch))
    // the earlier format: one coalesce(1) Parquet file per commit, and
    // one compacted file holding several commits' rows
    commits.take(2).foreach(c =>
      Seq(c).toDS().coalesce(1).write.mode("append").parquet(dir))
    commits.drop(2).toDS().coalesce(1).write.mode("append").parquet(dir)
    // the state the Parquet-reading stateAt computed
    val rows = spark.read.parquet(dir).groupBy($"day")
      .agg(max($"last_ts"), max($"committed_at"), collect_set($"batch_id"))
      .collect()
    val want = (rows.map(r => r.getString(0) -> r.getTimestamp(1)).toMap,
      rows.flatMap(r => Option(r.getTimestamp(2))
        .map(r.getString(0) -> _.getTime)).toMap,
      rows.flatMap(_.getSeq[String](3)).toSet)
    assert(Lineage.stateAt(spark, dir) == want)
    assert(!new java.io.File(dir).list().exists(_.endsWith(".parquet")),
      "the conversion deletes the Parquet commit files")
    val (again, n) = jobsOf(Lineage.stateAt(spark, dir))
    assert(again == want)
    assert(n == 0, s"stateAt after the conversion ran $n jobs")
  }
}
