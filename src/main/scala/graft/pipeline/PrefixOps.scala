package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix scans over (conv_id, turn_idx)-ordered data.
  *
  * The reference propagates per-file scalar state (CloudFront
  * `#Version:`/`#Fields:` headers, s3.rb:280-290) and groups multiline
  * records (multiline codec, spec:479-491) by reading a file serially.
  * The direct Spark translation is a window over
  * `partitionBy(conv_id).orderBy(turn_idx)` — correct, but it forces an
  * entire conversation into one task. At 10^12-turn scale a hot
  * conversation can be millions of turns, so that window is a
  * straggler/OOM hazard.
  *
  * Instead we do a classic two-level scan (the standard parallel-prefix
  * decomposition):
  *
  *   1. chunk rows by `chunk = turn_idx / chunkSize` — order-preserving,
  *      unlike hash salting, so intra-chunk windows stay correct;
  *   2. run the running aggregate inside each bounded (conv, chunk)
  *      window;
  *   3. aggregate one summary row per (conv, chunk) — a DataFrame ~1/chunkSize
  *      the size of the input — and compute the exclusive carry-in per
  *      chunk with a window over chunks (each conversation has
  *      size/chunkSize rows there, again bounded);
  *   4. join the carry-in back and combine.
  *
  * Every stage is bounded-memory per task regardless of conversation
  * size; the only shuffles are the (conv, chunk) repartition and the
  * small summary window.
  */
object PrefixOps {

  /** The running scan: for EVERY (valueCol -> outName) pair in
    * `lastCols` a running last-non-null (header propagation, P5), and,
    * when `sum` is given as (indicator -> outName), a running sum of the
    * integer indicator (sessionization, P3) — all sharing ONE
    * (conv, chunk) repartition + sort. The reference carries two header
    * values per file (`#Version:` and `#Fields:`, s3.rb:280-290);
    * scanning each with its own decomposition would shuffle the fat rows
    * once per consumer — this carries any number for one shuffle.
    *
    * Semantics: each last-non-null output matches
    * `last(valueCol, ignoreNulls).over(partitionBy(conv).orderBy(idx)
    *   .rowsBetween(unboundedPreceding, currentRow))`, the sum output
    * the inclusive `sum(indicator)` over the same window (as long).
    *
    * Chunk summaries are derived from the windowed rows themselves
    * (`max_by(running, idx)` per chunk == the chunk's own scan result at
    * its last row), so no second pass over the fat rows is needed; the
    * carry-in table is one row per (conv, chunk) and joins back on the
    * partitioning the window already established.
    */
  def scanMany(df: DataFrame, lastCols: Seq[(Column, String)],
      sum: Option[(Column, String)], chunkSize: Int = 4096,
      convCol: String = "conv_id", idxCol: String = "turn_idx"): DataFrame = {
    require(lastCols.nonEmpty || sum.nonEmpty, "scanMany needs a column to scan")
    val n = lastCols.size
    val valNames = (0 until n).map(i => s"_val$i")
    val runNames = (0 until n).map(i => s"_runv$i")
    val chunkLastNames = (0 until n).map(i => s"_chunk_last$i")
    val carryLastNames = (0 until n).map(i => s"_carry_last$i")

    val values = lastCols.zip(valNames)
      .foldLeft(df) { case (acc, ((c, _), vn)) => acc.withColumn(vn, c) }
    val chunked = sum
      .fold(values) { case (ind, _) => values.withColumn("_ind", ind.cast("long")) }
      .withColumn("_chunk", (col(idxCol) / lit(chunkSize)).cast("long"))
    val wIn = Window.partitionBy(col(convCol), col("_chunk"))
      .orderBy(col(idxCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastRuns = valNames.zip(runNames)
      .foldLeft(chunked) { case (acc, (vn, rn)) =>
        acc.withColumn(rn, last(col(vn), ignoreNulls = true).over(wIn))
      }
    val within = sum.fold(lastRuns)(_ =>
      lastRuns.withColumn("_runs", functions.sum(col("_ind")).over(wIn)))

    // one row per (conv, chunk): the chunk's final running values.
    // max_by(run, idx) = the running value AT THE CHUNK'S LAST ROW — the
    // correct chunk total for ANY indicator sign (a plain max(_runs)
    // would silently mis-carry for negative indicators).
    val summaryAggs =
      runNames.zip(chunkLastNames).map { case (rn, cl) =>
        max_by(col(rn), col(idxCol)).as(cl)
      } ++ sum.map(_ => max_by(col("_runs"), col(idxCol)).as("_chunk_sum"))
    val summaries = within.groupBy(col(convCol), col("_chunk"))
      .agg(summaryAggs.head, summaryAggs.tail: _*)
    val wCarry = Window.partitionBy(col(convCol)).orderBy(col("_chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryLasts = chunkLastNames.zip(carryLastNames)
      .foldLeft(summaries) { case (acc, (cl, cr)) =>
        acc.withColumn(cr, last(col(cl), ignoreNulls = true).over(wCarry))
      }
    val carry = sum
      .fold(carryLasts)(_ => carryLasts.withColumn("_carry_sum",
        coalesce(functions.sum(col("_chunk_sum")).over(wCarry), lit(0L))))
      .select((Seq(col(convCol), col("_chunk")) ++
        sum.map(_ => col("_carry_sum")) ++ carryLastNames.map(col)): _*)

    // SHUFFLE_HASH hint on the (tiny) carry side: the big side is
    // already hash-partitioned AND sorted by (conv, chunk) from the
    // window, so this join is a per-partition hash build over a few
    // thousand carry rows — and the explicit hint stops AQE from
    // "helpfully" converting it to a runtime broadcast, which measured
    // 6-20x SLOWER at high parallelism (the broadcast build serializes
    // behind the full upstream stage).
    val joined = within
      .join(carry.hint("SHUFFLE_HASH"), Seq(convCol, "_chunk"), "left")
    val lastOuts = lastCols.map(_._2).zipWithIndex
      .foldLeft(joined) { case (acc, (out, i)) =>
        acc.withColumn(out,
          coalesce(col(runNames(i)), col(carryLastNames(i))))
      }
    val withOuts = sum.fold(lastOuts) { case (_, out) =>
      lastOuts.withColumn(out,
        col("_runs") + coalesce(col("_carry_sum"), lit(0L)))
    }
    withOuts.drop(
      (valNames ++ runNames ++ carryLastNames ++
        Seq("_ind", "_chunk", "_runs", "_carry_sum")): _*)
  }

  /** Chunked lag-1: `outCol` = the value of `valueCol` on the PREVIOUS
    * row of the conversation (null on the first row) — same bounded
    * two-level decomposition as the scans: lag within each (conv, chunk)
    * window, chunk-head rows take the previous chunk's last value from a
    * summary join. Needed by `what=next` multiline semantics (the
    * boundary decision depends on the preceding line's match).
    *
    * Chunk heads are detected by row_number (not by null-coalescing), so
    * a legitimately-null previous value stays null.
    */
  def lagOne(df: DataFrame, valueCol: Column, outCol: String,
      chunkSize: Int = 4096, convCol: String = "conv_id",
      idxCol: String = "turn_idx"): DataFrame = {
    val chunked = df
      .withColumn("_val", valueCol)
      .withColumn("_chunk", (col(idxCol) / lit(chunkSize)).cast("long"))
    val wIn = Window.partitionBy(col(convCol), col("_chunk"))
      .orderBy(col(idxCol))
    val within = chunked
      .withColumn("_lag", lag(col("_val"), 1).over(wIn))
      .withColumn("_rn", row_number().over(wIn))

    val summaries = chunked.groupBy(col(convCol), col("_chunk"))
      .agg(max_by(col("_val"), col(idxCol)).as("_chunk_last"))
    val wCarry = Window.partitionBy(col(convCol)).orderBy(col("_chunk"))
    val carry = summaries
      .withColumn("_carry", lag(col("_chunk_last"), 1).over(wCarry))
      .select(col(convCol), col("_chunk"), col("_carry"))

    within
      .join(carry.hint("SHUFFLE_HASH"), Seq(convCol, "_chunk"), "left")
      .withColumn(outCol,
        when(col("_rn") === 1, col("_carry")).otherwise(col("_lag")))
      .drop("_val", "_chunk", "_lag", "_rn", "_carry")
  }

  /** Fused lag-gated prefix sum — the `what=next` multiline
    * sessionizer in ONE chunk decomposition: `outCol` = running count
    * of record starts where a row starts a record iff the PREVIOUS row
    * of the conversation did not satisfy `belongs` (the first row of a
    * conversation always starts). Semantically identical to
    * [[lagOne]] (belongs) -> [[scanMany]] (sum of !prev), which costs TWO
    * (conv, chunk) repartitions of the fat rows plus two summary
    * windows and two carry joins; at 10^12 turns the second fat-row
    * shuffle is the dominant avoidable cost of the what=next codec
    * (guide §2.4: operations keyed the same way share one exchange).
    *
    * Mechanics: inside each (conv, chunk) window the in-chunk lag is
    * exact for every row but the chunk head, whose indicator is
    * ASSUMED to be 1 (record start). The per-chunk correction is
    * uniform — if the previous chunk's last row belonged, the head
    * indicator is actually 0 and every running value in the chunk
    * shifts down by exactly 1 — so one summary row per (conv, chunk)
    * (last row's `belongs`, assumed chunk total) suffices: the carry
    * window derives the correction and the corrected carry-in, and one
    * SHUFFLE_HASH join folds both back. A first chunk of a
    * conversation takes no correction (lag of no chunk = does not
    * belong), exactly the coalesce(prev, false) rule.
    */
  def lagGatedPrefixSum(df: DataFrame, belongs: Column, outCol: String,
      chunkSize: Int = 4096, convCol: String = "conv_id",
      idxCol: String = "turn_idx"): DataFrame = {
    val chunked = df
      .withColumn("_b", belongs)
      .withColumn("_chunk", (col(idxCol) / lit(chunkSize)).cast("long"))
    val wIn = Window.partitionBy(col(convCol), col("_chunk"))
      .orderBy(col(idxCol))
    val wRun = wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = chunked
      .withColumn("_lagb", lag(col("_b"), 1).over(wIn))
      .withColumn("_rn", row_number().over(wIn))
      // chunk-head rows assume a record start; corrected via the join
      .withColumn("_ind",
        when(col("_rn") === 1, lit(1L))
          .otherwise(when(coalesce(col("_lagb"), lit(false)), lit(0L))
            .otherwise(lit(1L))))
      .withColumn("_run", sum(col("_ind")).over(wRun))
    val summaries = within.groupBy(col(convCol), col("_chunk"))
      .agg(max_by(col("_b"), col(idxCol)).as("_last_b"),
        max_by(col("_run"), col(idxCol)).as("_chunk_sum"))
    val wCarry = Window.partitionBy(col(convCol)).orderBy(col("_chunk"))
    val wCarrySum = wCarry.rowsBetween(Window.unboundedPreceding, -1)
    val carry = summaries
      .withColumn("_corr",
        when(coalesce(lag(col("_last_b"), 1).over(wCarry), lit(false)),
          lit(1L)).otherwise(lit(0L)))
      .withColumn("_carry_in",
        coalesce(sum(col("_chunk_sum") - col("_corr")).over(wCarrySum),
          lit(0L)))
      .select(col(convCol), col("_chunk"), col("_corr"), col("_carry_in"))
    within
      .join(carry.hint("SHUFFLE_HASH"), Seq(convCol, "_chunk"), "left")
      .withColumn(outCol,
        col("_run") - col("_corr") + col("_carry_in"))
      .drop("_b", "_chunk", "_lagb", "_rn", "_ind", "_run", "_corr",
        "_carry_in")
  }
}
