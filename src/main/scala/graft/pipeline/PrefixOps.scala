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
  * small summary window. [[scanMany]] is the one implementation: header
  * propagation, record ids and the multiline `what=next` lag are all
  * outputs of the same decomposition, so a pass pays one fat-row
  * repartition however many of them it asks for.
  */
object PrefixOps {

  /** The running scan: for EVERY (valueCol -> outName) pair in
    * `lastCols` a running last-non-null (header propagation, P5), and,
    * when `sum` is given as (indicator -> outName), a running sum of the
    * integer indicator (sessionization, P3), and, when `lag` is given
    * as (valueCol -> outName), the value on the conversation's previous
    * row (multiline `what=next`, whose record boundary reads the
    * preceding line's match) — all sharing ONE (conv, chunk)
    * repartition + sort. The reference carries two header
    * values per file (`#Version:` and `#Fields:`, s3.rb:280-290);
    * scanning each with its own decomposition would shuffle the fat rows
    * once per consumer — this carries any number for one shuffle.
    *
    * Semantics: each last-non-null output matches
    * `last(valueCol, ignoreNulls).over(partitionBy(conv).orderBy(idx)
    *   .rowsBetween(unboundedPreceding, currentRow))`, the sum output
    * the inclusive `sum(indicator)` over the same window (as long), the
    * lag output `lag(valueCol, 1).over(partitionBy(conv).orderBy(idx))`:
    * null on a conversation's first row, and a null previous value stays
    * null.
    *
    * Chunk summaries are derived from the windowed rows themselves
    * (`max_by(running, idx)` per chunk == the chunk's own scan result at
    * its last row; for the lag, the chunk's last value), so no second
    * pass over the fat rows is needed; the chunk-carry table is one row
    * per (conv, chunk) and joins back on the partitioning the window
    * already established. A chunk's first row takes its lag from that
    * carry (the previous chunk's last value), every other row from the
    * in-chunk window.
    *
    * `carryIn` continues conversations from earlier rows outside `df`:
    * one row per conversation, `convCol` plus a column per output, named
    * after it, holding the state at the conversation's last earlier row
    * — a `lastCols` output's value, the `sum` output's total, the `lag`'s
    * INPUT value; other columns are ignored. The outputs on `df` then
    * equal one scan over the earlier rows followed by `df`. A null
    * carried value carries nothing, and a conversation without a carry
    * row scans as without `carryIn`. Each carry row is one synthetic
    * chunk summary at chunk `Long.MinValue`, below every real chunk,
    * folded in by the chunk-carry window: nothing is added over the fat
    * rows.
    */
  def scanMany(df: DataFrame, lastCols: Seq[(Column, String)],
      sum: Option[(Column, String)], chunkSize: Int = 4096,
      convCol: String = "conv_id", idxCol: String = "turn_idx",
      lag: Option[(Column, String)] = None,
      carryIn: Option[DataFrame] = None): DataFrame = {
    require(lastCols.nonEmpty || sum.nonEmpty || lag.nonEmpty,
      "scanMany needs a column to scan")
    val n = lastCols.size
    val valNames = (0 until n).map(i => s"_val$i")
    val runNames = (0 until n).map(i => s"_runv$i")
    val chunkLastNames = (0 until n).map(i => s"_chunk_last$i")
    val carryLastNames = (0 until n).map(i => s"_carry_last$i")

    val values = lastCols.zip(valNames)
      .foldLeft(df) { case (acc, ((c, _), vn)) => acc.withColumn(vn, c) }
    val lagged =
      lag.fold(values) { case (v, _) => values.withColumn("_lagv", v) }
    val chunked = sum
      .fold(lagged) { case (ind, _) => lagged.withColumn("_ind", ind.cast("long")) }
      .withColumn("_chunk", (col(idxCol) / lit(chunkSize)).cast("long"))
    // lag and row_number take no frame; the running aggregates take wIn's
    val wOrd = Window.partitionBy(col(convCol), col("_chunk"))
      .orderBy(col(idxCol))
    val wIn = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastRuns = valNames.zip(runNames)
      .foldLeft(chunked) { case (acc, (vn, rn)) =>
        acc.withColumn(rn, last(col(vn), ignoreNulls = true).over(wIn))
      }
    val sums = sum.fold(lastRuns)(_ =>
      lastRuns.withColumn("_runs", functions.sum(col("_ind")).over(wIn)))
    // the chunk head (row 1) is found by row_number, not by a null lag,
    // so a null previous value stays null
    val within = lag.fold(sums)(_ => sums
      .withColumn("_lag", functions.lag(col("_lagv"), 1).over(wOrd))
      .withColumn("_rn", row_number().over(wOrd)))

    // one row per (conv, chunk): the chunk's final running values.
    // max_by(run, idx) = the running value AT THE CHUNK'S LAST ROW — the
    // correct chunk total for ANY indicator sign (a plain max(_runs)
    // would silently mis-carry for negative indicators).
    val summaryAggs =
      runNames.zip(chunkLastNames).map { case (rn, cl) =>
        max_by(col(rn), col(idxCol)).as(cl)
      } ++ sum.map(_ => max_by(col("_runs"), col(idxCol)).as("_chunk_sum")) ++
        lag.map(_ => max_by(col("_lagv"), col(idxCol)).as("_chunk_lagv"))
    val chunkSummaries = within.groupBy(col(convCol), col("_chunk"))
      .agg(summaryAggs.head, summaryAggs.tail: _*)
    // the carry-in's synthetic summaries (see the scaladoc)
    val carried = lastCols.map(_._2).zip(chunkLastNames) ++
      sum.map(_._2 -> "_chunk_sum") ++ lag.map(_._2 -> "_chunk_lagv")
    val summaries = carryIn.fold(chunkSummaries)(c => chunkSummaries
      .unionByName(c.select(col(convCol) +: lit(Long.MinValue).as("_chunk") +:
        carried.map { case (out, name) => col(out).as(name) }: _*)))
    val wChunks = Window.partitionBy(col(convCol)).orderBy(col("_chunk"))
    val wCarry = wChunks.rowsBetween(Window.unboundedPreceding, -1)
    val carryLasts = chunkLastNames.zip(carryLastNames)
      .foldLeft(summaries) { case (acc, (cl, cr)) =>
        acc.withColumn(cr, last(col(cl), ignoreNulls = true).over(wCarry))
      }
    val carrySums = sum
      .fold(carryLasts)(_ => carryLasts.withColumn("_carry_sum",
        coalesce(functions.sum(col("_chunk_sum")).over(wCarry), lit(0L))))
    val carry = lag
      .fold(carrySums)(_ => carrySums.withColumn("_carry_lag",
        functions.lag(col("_chunk_lagv"), 1).over(wChunks)))
      .select((Seq(col(convCol), col("_chunk")) ++
        sum.map(_ => col("_carry_sum")) ++ carryLastNames.map(col) ++
        lag.map(_ => col("_carry_lag"))): _*)

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
    val withLag = lag.fold(withOuts) { case (_, out) =>
      withOuts.withColumn(out,
        when(col("_rn") === 1, col("_carry_lag")).otherwise(col("_lag")))
    }
    withLag.drop(
      (valNames ++ runNames ++ carryLastNames ++
        Seq("_ind", "_chunk", "_runs", "_carry_sum",
          "_lagv", "_lag", "_rn", "_carry_lag")): _*)
  }
}
