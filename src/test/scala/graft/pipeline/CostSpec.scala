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

  test("a no-op cycle after a commit runs 2 jobs, the lineage read's") {
    val in = s"$scratch/noop_in"
    land(in, 0L, 20L, 1)
    val cfg = PipelineConfig(in, s"$scratch/noop_sinks")
    assert(Main.runCycle(spark, cfg, asOf).rowsProcessed > 0)
    val (r, n) = jobsOf(Main.runCycle(spark, cfg, asOf))
    assert(r.rowsProcessed == 0L)
    assert(n == 2, s"no-op cycle ran $n jobs")
  }

  test("the no-op cycle over more than 32 input files still runs 2 jobs: " +
      "no file is read, so Spark lists none") {
    val in = s"$scratch/wide_in"
    land(in, 0L, 60L, 40)
    assert(inputFiles(in) > 32)
    val cfg = PipelineConfig(in, s"$scratch/wide_sinks")
    assert(Main.runCycle(spark, cfg, asOf).rowsProcessed > 0)
    val (r, n) = jobsOf(Main.runCycle(spark, cfg, asOf))
    assert(r.rowsProcessed == 0L)
    assert(n == 2, s"no-op cycle over ${inputFiles(in)} files ran $n jobs")
  }

  test("a committing poll cycle runs 15 jobs, one of them the stat of " +
      "its new file") {
    val in = s"$scratch/poll_in"
    land(in, 0L, 20L, 1)
    val cfg = PipelineConfig(in, s"$scratch/poll_sinks")
    assert(Main.runCycle(spark, cfg, asOf).rowsProcessed > 0)
    land(in, 1010L, 20L, 1)
    val (r, n) = jobsOf(Main.runCycle(spark, cfg, asOf))
    assert(r.rowsProcessed > 0)
    assert(n == 15, s"committing cycle ran $n jobs")
  }

  test("a committing cycle that compacts the lineage runs 17 jobs") {
    import spark.implicits._
    val in = s"$scratch/compact_in"
    land(in, 0L, 20L, 1)
    val cfg = PipelineConfig(in, s"$scratch/compact_sinks")
    // 64 commit files of a day the input never has: the cycle's own
    // commit is the 65th, past the compaction bound
    sc.parallelize((0 until 64).map(i => Lineage.Commit(s"old$i",
        "1990-01-01", new Timestamp(i * 1000L), 1L, Lineage.epoch)), 64)
      .toDS().write.parquet(Lineage.dirFor(cfg))
    val (r, n) = jobsOf(Main.runCycle(spark, cfg, asOf))
    assert(r.rowsProcessed > 0)
    assert(new java.io.File(Lineage.dirFor(cfg)).list()
      .count(_.endsWith(".parquet")) == 1, "the lineage was compacted")
    assert(FileLedger.read(spark, FileLedger.dir(Lineage.dirFor(cfg)))
      .nonEmpty, "compaction leaves the file ledger beside it")
    assert(n == 17, s"compacting cycle ran $n jobs")
  }

  test("Lineage.stateAt runs 2 jobs") {
    val in = s"$scratch/state_in"
    land(in, 0L, 20L, 1)
    val cfg = PipelineConfig(in, s"$scratch/state_sinks")
    Main.runCycle(spark, cfg, asOf)
    val ((wms, _, committed), n) =
      jobsOf(Lineage.stateAt(spark, Lineage.dirFor(cfg)))
    assert(wms.nonEmpty && committed.size == 1)
    assert(n == 2, s"stateAt ran $n jobs")
  }
}
