package graft.perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import graft.pipeline._

/** `Main.runCycle` for the default configuration (no S6 columns, no
  * day sealing, dedup, media, archive or delete), driven as the same
  * sequence of public calls with one span around each layer:
  *
  *   lineage.read   Lineage.stateAt
  *   discover       Discover.discover
  *   pipeline       Pipeline.apply + cache + per-day watermark collect
  *   sinks.write    Sinks.writeStaged
  *   sinks.publish  Sinks.publish
  *   aggregate      Aggregate.writeAll
  *   lineage.commit Lineage.commitAt + Lineage.compactAt
  *
  * Under that configuration the cycle's seal, reopen, audit and
  * stranded-manifest branches are all empty, so this sequence commits
  * exactly what `runCycle` commits; the benchmark checks that it does.
  */
object TracedCycle extends AdaptiveSparkPlanHelper {

  /** What the cycle did, for the per-layer counts read after it ends. */
  final case class Outcome(result: Main.CycleResult, filesListed: Int,
      rowsScanned: Long)

  def run(spark: SparkSession, cfg: PipelineConfig, asOf: Timestamp,
      tr: Tracer): Outcome = {
    require(!cfg.s6Configured && !cfg.deferralConfigured &&
      !cfg.dedupAcrossCycles && !cfg.mediaConfigured &&
      cfg.backupAddPrefix == null && !cfg.deleteAfterProcess,
      "the traced cycle covers the default configuration only")
    val lineageDir = Lineage.dirFor(cfg)
    var delta: DataFrame = null
    var routed: DataFrame = null
    var cachedPlan: LogicalPlan = null
    val result = tr.cycle {
      val (wms, _, _) = tr.span("lineage.read") {
        Lineage.stateAt(spark, lineageDir)
      }
      val batchId = Lineage.batchId(asOf, wms, Lineage.checkpointId(cfg))
      val observedAt = new Timestamp(System.currentTimeMillis())
      delta = tr.span("discover") {
        Discover.discover(spark, cfg, asOf, wms, Map.empty).delta
      }
      val newWms = tr.span("pipeline") {
        routed = Pipeline(delta.as[Turn](Encoders.product[Turn]),
          cfg.excludePattern, cfg.chunkSize,
          codec = Pipeline.codecFor(cfg)).cache()
        // the cached plan carries the scan metrics; unpersist drops it
        cachedPlan = routed.queryExecution.withCachedData
        routed.groupBy(col("day"))
          .agg(max(col("ts")).as("mx"), count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
      }
      val total = newWms.map(_._3).sum
      if (total == 0L) {
        routed.unpersist()
        Main.CycleResult(batchId, 0L, Seq.empty)
      } else {
        val commits = newWms.toSeq.map { case (d, mx, n) =>
          Lineage.Commit(batchId, d, mx, n, observedAt)
        }
        tr.span("sinks.write") {
          Sinks.writeStaged(routed, cfg.sinkRoot, batchId, cfg.saltBuckets)
        }
        val published = tr.span("sinks.publish") {
          Sinks.publish(spark, cfg.sinkRoot, batchId)
        }
        tr.span("aggregate") {
          Aggregate.writeAll(routed, cfg.sinkRoot, batchId)
        }
        tr.span("lineage.commit") {
          Lineage.commitAt(spark, lineageDir, commits)
          Lineage.compactAt(spark, lineageDir)
        }
        routed.unpersist()
        Main.CycleResult(batchId, total, published)
      }
    }(r => if (r.rowsProcessed > 0) "commit" else "noop")
    Outcome(result, delta.inputFiles.length, scanRows(cachedPlan))
  }

  /** Rows the delta's parquet scans emitted, read off the cached plan's
    * scan metrics once the cache has been built.
    */
  private def scanRows(plan: LogicalPlan): Long =
    plan.collect {
      case r: InMemoryRelation => r.cacheBuilder.cachedPlan
    }.flatMap(plan => collect(plan) {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }).sum
}
